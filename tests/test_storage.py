"""Partition-pruning exhibit: the scan over the date-partitioned events
copy must prune at the directory level (PartitionFilters), not merely push
the predicate into row groups (PushedFilters)."""

from __future__ import annotations

import contextlib
import io

from simple_query_engine_spark.operators.storage import (
    partitioned_events,
    q_events_partition_prune,
)


def plan_of(df) -> str:
    buffer = io.StringIO()
    with contextlib.redirect_stdout(buffer):
        df.explain("formatted")
    return buffer.getvalue()


def test_scan_has_partition_filters(spark, sf_dir):
    plan = plan_of(q_events_partition_prune(spark, sf_dir))
    partition_filter_lines = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert partition_filter_lines, plan
    line = partition_filter_lines[0]
    assert "event_date" in line and "isnotnull" in line, line
    # The predicate prunes directories, so it must NOT appear as a row-level
    # pushed filter (the scan may have no PushedFilters line at all — the
    # partition predicate was consumed entirely at planning time).
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert all("event_date" not in l for l in pushed), pushed


def scanned_file_count(df) -> int:
    """The FileSourceScan's post-execution numFiles metric — the number of
    files the scan actually opened (inputFiles() would report the whole
    relation's listing, pre-pruning)."""
    df.collect()
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    return int(scan.metrics().apply("numFiles").value())


def test_pruned_scan_reads_fewer_files(spark, sf_dir):
    full = partitioned_events(spark, sf_dir)
    from pyspark.sql import functions as F

    assert len(full.inputFiles()) >= 30  # one directory per event day
    pruned = full.filter(F.col("event_date") == "2024-01-08")
    assert scanned_file_count(pruned) == 1


def test_dpp_scan_has_dynamic_pruning_expression(spark, sf_dir):
    """join_dpp_partitioned must prune the fact's partitions at RUNTIME:
    the partition filter is a dynamicpruningexpression fed by the
    broadcast dim subquery, not a static literal — and the dim's
    week_label predicate can never reach the fact scan statically."""
    from simple_query_engine_spark.operators.storage import (
        q_join_dpp_partitioned,
    )

    plan = plan_of(q_join_dpp_partitioned(spark, sf_dir))
    lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert lines, plan
    assert any("dynamicpruning" in l.lower() for l in lines), lines
    # The runtime-pruned scan must still be the partitioned layout (the
    # pruning key is the partition column).
    assert any("event_date" in l for l in lines), lines


def test_partitioned_copy_is_lossless(spark, sf_dir):
    from simple_query_engine_spark.sources.catalog import table

    original = table(spark, sf_dir, "events")
    copy = partitioned_events(spark, sf_dir)
    assert copy.count() == original.count()
    assert copy.selectExpr("sum(event_id)").collect()[0][0] == (
        original.selectExpr("sum(event_id)").collect()[0][0]
    )


def test_zorder_layout_skips_more_files_than_linear(spark, sf_dir, tmp_path):
    """Measured data-skipping evidence: write the SAME rows as (a) a
    z-sorted 16-file layout and (b) a custkey-sorted (one-dimensional)
    16-file layout, then evaluate a 2-D box predicate (middle-quarter
    customer range × middle-quarter date range) against per-file min/max
    stats — exactly what parquet-footer / Delta / Iceberg data skipping
    does.  The z-order layout must qualify strictly fewer files: a 1-D
    sort keeps the second dimension's full span inside every file."""
    import glob

    import duckdb

    from simple_query_engine_spark.operators.storage import zordered_orders

    zed = zordered_orders(spark, sf_dir)
    zpath, lpath = str(tmp_path / "zorder"), str(tmp_path / "linear")
    zed.repartitionByRange(16, "z").sortWithinPartitions("z").write.parquet(zpath)
    zed.repartitionByRange(16, "ck").sortWithinPartitions("ck").write.parquet(lpath)

    lo_ck, hi_ck, lo_day, hi_day = duckdb.sql(
        f"SELECT MIN(ck), MAX(ck), MIN(day), MAX(day) FROM '{zpath}/*.parquet'"
    ).fetchone()
    # The middle quarter of each dimension.
    box_ck = (lo_ck + (hi_ck - lo_ck) // 4, lo_ck + (hi_ck - lo_ck) // 2)
    box_day = (lo_day + (hi_day - lo_day) // 4, lo_day + (hi_day - lo_day) // 2)

    def qualifying_files(path: str) -> tuple[int, int]:
        files = sorted(glob.glob(f"{path}/*.parquet"))
        hits = 0
        for f in files:
            mn_ck, mx_ck, mn_day, mx_day = duckdb.sql(
                f"SELECT MIN(ck), MAX(ck), MIN(day), MAX(day) FROM '{f}'"
            ).fetchone()
            if mx_ck >= box_ck[0] and mn_ck <= box_ck[1] \
                    and mx_day >= box_day[0] and mn_day <= box_day[1]:
                hits += 1
        return hits, len(files)

    z_hits, z_total = qualifying_files(zpath)
    l_hits, l_total = qualifying_files(lpath)
    assert z_total == l_total == 16
    # 1-D sort: every custkey-qualifying file spans all dates, so ~1/4 of
    # files qualify.  Z-order: the box is 1/16 of the plane, so only the
    # files whose z-range crosses it qualify.
    assert z_hits < l_hits, (z_hits, l_hits)
    assert z_hits <= 6, z_hits


def _race_materialize(path, barrier, writer_id, results):
    from simple_query_engine_spark.operators.storage import materialize_once
    import os

    def write(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "payload.txt"), "w") as fh:
            fh.write(f"writer {writer_id}")
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass

    barrier.wait()
    try:
        materialize_once(path, write)
        results.put(("ok", writer_id))
    except Exception as exc:  # pragma: no cover - diagnostic aid
        results.put(("err", repr(exc)))


def test_materialize_once_concurrent_builders_never_clobber(tmp_path):
    """N processes racing the same materialization: exactly one copy is
    built, no builder errors, and the finished dir is never deleted out
    from under a winner (the pre-lock race: a late builder rmtree'd the
    winner's COMPLETE copy as 'partial')."""
    import multiprocessing
    import os

    path = str(tmp_path / "derived")
    ctx = multiprocessing.get_context("fork")
    n = 8
    barrier = ctx.Barrier(n)
    results = ctx.Queue()
    procs = [
        ctx.Process(target=_race_materialize, args=(path, barrier, i, results))
        for i in range(n)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    outcomes = [results.get(timeout=5) for _ in range(n)]
    assert all(v == "ok" for v, _ in outcomes), outcomes
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    with open(os.path.join(path, "payload.txt")) as fh:
        assert fh.read().startswith("writer ")
    # No stray tmp dirs left behind.
    parent = os.path.dirname(path)
    strays = [d for d in os.listdir(parent) if ".tmp." in d]
    assert strays == []


def test_materialize_once_reaps_its_lock_after_success(tmp_path):
    """ADVICE r13: the builder-serialization lock sidecar must not
    accumulate forever — a successful build (or a waiter that finds
    _SUCCESS) best-effort unlinks it."""
    import os

    from simple_query_engine_spark.operators.storage import materialize_once

    path = str(tmp_path / "derived")

    def write(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass

    materialize_once(path, write)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not os.path.exists(path + ".lock")


def test_scratch_dir_sweeps_stale_siblings_only():
    """The shared scratch root is self-cleaning: a sibling older than the
    TTL is reclaimed on the next scratch_dir call, a fresh one (a live
    run's scratch) is never touched."""
    import os
    import time
    import uuid

    from simple_query_engine_spark.operators.storage import (
        _SCRATCH_TTL_SEC,
        scratch_dir,
    )

    root_name = f"sqe_scratch_test_{uuid.uuid4().hex[:8]}"
    fresh = scratch_dir("fresh_", root_name)
    root = os.path.dirname(fresh)
    stale = os.path.join(root, "stale_leftover")
    os.makedirs(os.path.join(stale, "t"))
    old = time.time() - _SCRATCH_TTL_SEC - 60
    os.utime(stale, (old, old))

    new = scratch_dir("next_", root_name)
    assert not os.path.exists(stale)
    assert os.path.isdir(fresh) and os.path.isdir(new)

    import shutil

    shutil.rmtree(root, ignore_errors=True)


def test_sweep_prefix_filter_spares_unrelated_entries():
    """ADVICE r14: when the sweep targets a USER-CONFIGURABLE root (the
    CC scratch dir), it must reclaim only entries this code created
    (mkdtemp 'cc_' prefix) — an unrelated old file or dir in a shared
    directory is never touched."""
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from simple_query_engine_spark.operators.storage import (
        _SCRATCH_TTL_SEC,
        sweep_stale_scratch,
    )

    root = os.path.join(
        tempfile.gettempdir(), f"sqe_shared_test_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(root)
    old = time.time() - _SCRATCH_TTL_SEC - 60
    ours = os.path.join(root, "cc_stale123")
    theirs_dir = os.path.join(root, "user_data")
    theirs_file = os.path.join(root, "notes.txt")
    os.makedirs(ours)
    os.makedirs(theirs_dir)
    with open(theirs_file, "w") as fh:
        fh.write("precious")
    for p in (ours, theirs_dir, theirs_file):
        os.utime(p, (old, old))

    sweep_stale_scratch(root, prefix="cc_")
    assert not os.path.exists(ours)
    assert os.path.isdir(theirs_dir)
    assert os.path.exists(theirs_file)
    shutil.rmtree(root, ignore_errors=True)


def test_z_bucket_matches_exact_integer_division_on_adversarial_spans(spark):
    """z_bucket computes the grid cell through a double division + long
    cast (documented exact for spans up to ~2**45); pin it against exact
    Python integer floor division over adversarial spans — tiny, prime,
    power-of-two, and at the documented ceiling — including the
    floor-tip hazard values (cell boundaries ± 1)."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.functions.zorder import z_bucket

    bits = 8
    grid = 1 << bits
    spans = [
        (0, 0),                      # degenerate single-value range
        (0, 9),                      # tiny
        (-7, 13),                    # negative lo
        (0, 251),                    # prime span
        (1000, 1000 + 2**16 - 1),    # power-of-two span
        (0, 2**40),                  # large
        (0, 2**45 - 2),              # the documented ceiling
    ]
    for lo, hi in spans:
        span = hi - lo + 1
        values = {lo, hi, lo - 5, hi + 5}  # clamp edges + out-of-range
        for cell in (1, grid // 2, grid - 1):
            # v at and around the exact boundary of `cell`
            boundary = lo + (cell * span) // grid
            values |= {boundary - 1, boundary, boundary + 1}
        values = sorted(v for v in values)
        df = spark.createDataFrame([(v,) for v in values], "v LONG")
        got = {
            r["v"]: r["b"]
            for r in df.select(
                "v", z_bucket(F.col("v"), lo, hi, bits).alias("b")
            ).collect()
        }
        for v in values:
            clamped = min(max(v, lo), hi)
            want = ((clamped - lo) * grid) // span
            assert got[v] == want, (lo, hi, v, got[v], want)


def test_z_interleave_matches_python_bit_model(spark):
    """Round-robin interleave pinned against a direct Python bit model
    for 2 and 3 dimensions over random-ish bucket values."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.functions.zorder import z_interleave

    bits = 8

    def model(buckets):
        z = 0
        for i in range(bits):
            for j, b in enumerate(buckets):
                z |= ((b >> i) & 1) << (i * len(buckets) + j)
        return z

    rows = [
        (a % 256, (a * 37) % 256, (a * 101) % 256) for a in range(0, 4096, 61)
    ]
    df = spark.createDataFrame(rows, "a LONG, b LONG, c LONG")
    got2 = df.select(
        "a", "b", z_interleave([F.col("a"), F.col("b")], bits).alias("z")
    ).collect()
    for r in got2:
        assert r["z"] == model([r["a"], r["b"]]), (r["a"], r["b"])
    got3 = df.select(
        "a", "b", "c",
        z_interleave([F.col("a"), F.col("b"), F.col("c")], bits).alias("z"),
    ).collect()
    for r in got3:
        assert r["z"] == model([r["a"], r["b"], r["c"]]), (r["a"], r["b"], r["c"])


def _scan_root(df) -> str:
    """The directory a file scan reads (common parent of its files)."""
    import os

    return os.path.commonpath(
        [f.replace("file://", "", 1) for f in df.inputFiles()]
    )


def test_in_place_rewrite_refreshes_the_partitioned_copy(spark, sf_dir, tmp_path):
    """Rewriting events.parquet within one session: events_partition_prune
    then equals a from-scratch run over the new file, and the old
    partitioned copy's directory is gone."""
    import os
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    source = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    rewritten = source.filter(pc.not_equal(pc.bit_wise_and(source["event_id"], 3), 0))

    def run(dir_):
        return sorted(map(tuple, q_events_partition_prune(spark, dir_).collect()))

    fresh = tmp_path / "fresh"
    fresh.mkdir()
    pq.write_table(rewritten, str(fresh / "events.parquet"))
    want_new = run(str(fresh))

    live = tmp_path / "live"
    live.mkdir()
    path = str(live / "events.parquet")
    shutil.copyfile(os.path.join(sf_dir, "events.parquet"), path)
    before = run(str(live))
    old_copy = _scan_root(partitioned_events(spark, str(live)))
    pq.write_table(rewritten, path)  # in place: same path, same dir
    after = run(str(live))
    assert after == want_new and after != before
    assert not os.path.exists(old_copy)
    assert _scan_root(partitioned_events(spark, str(live))) != old_copy


def test_staged_copies_leave_no_tempdir_names(spark, sf_dir, tmp_path, monkeypatch):
    """Every staged copy the storage and streaming entries derive is a
    session entry in the scratch root: none is left in the temp dir
    under a name derived from its source table."""
    import os
    import tempfile

    from simple_query_engine_spark.operators import streaming_ops
    from simple_query_engine_spark.operators import storage

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    private = str(tmp_path / "sf")  # a scale dir of its own: every copy is a miss
    os.mkdir(private)
    for name in os.listdir(sf_dir):
        os.symlink(os.path.join(sf_dir, name), os.path.join(private, name))
    entries = [
        storage.QUERIES[name]
        for name in (
            "events_partition_prune",
            "join_dpp_partitioned",
            "join_bucketed_revenue",
            "source_json_roundtrip",
            "source_csv_roundtrip",
            "source_csv_dialect",
            "source_orc_roundtrip",
            "sink_python_datasource",
        )
    ] + [
        streaming_ops.QUERIES[name]
        for name in (
            "stream_restart_resume",
            "stream_upsert_managed",
            "stream_ttl_sessions",
            "stream_dedup_within_watermark",
            "stream_watermark_late_drop",
            "stream_ivf_ingest",
            "stream_components_incremental",
        )
    ]
    for entry in entries:
        assert entry(spark, private).collect()
    prefixes = ("sqe_events_", "sqe_embeddings_", "sqe_documents_", "sqe_bucketed_")
    assert [n for n in os.listdir(tmp) if n.startswith(prefixes)] == []
