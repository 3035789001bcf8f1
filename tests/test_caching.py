"""The session registry's reuse key (functions/caching.py) and the
catalog's file-stamp view marker (sources/catalog.py)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

from simple_query_engine_spark.functions import caching as C
from simple_query_engine_spark.sources import catalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Counter:
    """A zero-argument build function that counts its calls."""

    def __init__(self, make):
        self.make = make
        self.calls = 0

    def __call__(self):
        self.calls += 1
        return self.make()


# -- catalog view marker ----------------------------------------------------


class _StubFrame:
    def __init__(self):
        self.registered: list[str] = []

    def createOrReplaceTempView(self, name: str) -> None:
        self.registered.append(name)


class _StubSession:
    """Weak-referenceable stand-in: load_tables only keys memos on it."""


def _write_region(path: str, n: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"r_regionkey": list(range(n))}), path)


def test_view_marker_follows_file_stamps_not_object_ids(tmp_path, monkeypatch):
    """An in-place rewrite of a table re-registers its view even when the
    fresh handle carries its predecessor's id (CPython reuses the id of a
    freed object; the stub returns one object to force exactly that)."""
    stub = _StubFrame()
    monkeypatch.setattr(catalog, "_read_uncached", lambda spark, path: stub)
    session = _StubSession()
    path = str(tmp_path / "region.parquet")
    _write_region(path, 3)
    catalog.load_tables(session, str(tmp_path), names=("region",))
    catalog.load_tables(session, str(tmp_path), names=("region",))
    assert stub.registered == ["region"], "unchanged files must not re-register"
    _write_region(path, 5)
    catalog.load_tables(session, str(tmp_path), names=("region",))
    assert stub.registered == ["region", "region"]


def test_dir_fingerprint_tracks_parquet_files(tmp_path):
    _write_region(str(tmp_path / "region.parquet"), 3)
    (tmp_path / "notes.txt").write_text("not a table")
    first = catalog.dir_fingerprint(str(tmp_path))
    assert [name for name, _, _ in first] == ["region.parquet"]
    assert catalog.dir_fingerprint(str(tmp_path)) == first
    _write_region(str(tmp_path / "region.parquet"), 5)
    assert catalog.dir_fingerprint(str(tmp_path)) != first
    assert catalog.dir_fingerprint(str(tmp_path / "missing")) is None


# -- the reuse key -----------------------------------------------------------


def test_hit_never_calls_build(spark, sf_dir):
    """Uses the real sf_dir as the tag (a fake dir would evict the shared
    caches other tests reuse)."""
    cached = _Counter(lambda: spark.range(7))
    first = C.session_cache(cached, sf_dir, "_test_hit_cache")
    assert C.session_cache(cached, sf_dir, "_test_hit_cache") is first
    assert cached.calls == 1
    assert first.count() == 7

    written = _Counter(lambda: spark.range(4))
    mat = C.session_materialize(written, sf_dir, "_test_hit_mat")
    assert C.session_materialize(written, sf_dir, "_test_hit_mat") is mat
    assert written.calls == 1
    assert sorted(r.id for r in mat.collect()) == [0, 1, 2, 3]

    value = _Counter(lambda: [(1, 2)])
    got = C.session_value(value, sf_dir, "_test_hit_value")
    assert C.session_value(value, sf_dir, "_test_hit_value") is got
    assert value.calls == 1


def test_new_token_rebuilds_and_releases_the_old_entry(spark, sf_dir):
    # Each build is a new plan: Spark's cache manager matches by plan, so
    # identical plans would share one cache entry.
    build = _Counter(lambda: spark.range(2 + build.calls))
    old = C.session_cache(build, sf_dir, "_test_token_cache", token="a")
    old.count()
    assert old.is_cached
    assert C.session_cache(build, sf_dir, "_test_token_cache", token="a") is old
    new = C.session_cache(build, sf_dir, "_test_token_cache", token="b")
    assert build.calls == 2
    assert new is not old and new.is_cached
    assert not old.is_cached, "the replaced entry must be unpersisted"
    assert not old.storageLevel.useMemory and not old.storageLevel.useDisk

    mat_build = _Counter(lambda: spark.range(3))
    mat_old = C.session_materialize(mat_build, sf_dir, "_test_token_mat", token=1)
    old_files = mat_old.inputFiles()
    assert old_files
    C.session_materialize(mat_build, sf_dir, "_test_token_mat", token=2)
    assert mat_build.calls == 2
    assert not any(
        os.path.exists(f.replace("file://", "", 1)) for f in old_files
    ), "the replaced materialization's files must be deleted"


def test_in_place_rewrite_serves_the_new_data(spark, sf_dir, tmp_path):
    """Rewriting documents.parquet within one session must rebuild the
    signature materialization, the near-dup pair cache and the collected
    edge list: both entries then equal a from-scratch run over the new
    file.  No other scale dir is touched between the two runs, so the
    cross-dir eviction cannot be what refreshes them."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from simple_query_engine_spark.operators import dedup as D

    source = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    # The new generation adds a near-duplicate of every 4th document.
    picked = source.filter(pc.equal(pc.bit_wise_and(source["doc_id"], 3), 0))
    twins = picked.set_column(
        picked.schema.get_field_index("doc_id"),
        "doc_id",
        pc.add(picked["doc_id"], 500_000),
    ).set_column(
        picked.schema.get_field_index("text"),
        "text",
        pc.binary_join_element_wise(picked["text"], "twin", " "),
    )
    rewritten = pa.concat_tables([source, twins.cast(source.schema)])

    def run(dir_):
        return (
            sorted(map(tuple, D.q_dedup_minhash_lsh(spark, dir_).collect())),
            sorted(map(tuple, D.q_graph_pagerank_neardup(spark, dir_).collect())),
        )

    fresh = tmp_path / "fresh"
    fresh.mkdir()
    pq.write_table(rewritten, str(fresh / "documents.parquet"))
    want_new = run(str(fresh))

    live = tmp_path / "live"
    live.mkdir()
    path = str(live / "documents.parquet")
    shutil.copyfile(os.path.join(sf_dir, "documents.parquet"), path)
    before = run(str(live))
    assert run(str(live)) == before
    pq.write_table(rewritten, path)  # in place: same path, same sf_dir
    after = run(str(live))
    assert after == want_new
    assert after[0] != before[0], "the rewrite must add near-dup pairs"
    assert after[1] != before[1]


def test_new_session_is_never_served_an_old_handle(tmp_path):
    """After ``spark.stop()`` and a new session the registry starts empty:
    every kind of entry is rebuilt on the new session, and the stopped
    session's materialization files are released.  Runs in its own
    process — stopping the shared test session would end the suite's."""
    script = textwrap.dedent(
        """
        import os
        from simple_query_engine_spark.functions import caching as C
        from simple_query_engine_spark.session import get_spark

        sf_dir = os.environ["SF_DIR"]
        calls = []

        def build(spark, tag):
            def make():
                calls.append(tag)
                return spark.range(3)
            return make

        s1 = get_spark(master="local[1]")
        h1 = C.session_cache(build(s1, "c1"), sf_dir, "k")
        m1 = C.session_materialize(build(s1, "m1"), sf_dir, "m")
        v1 = C.session_value(lambda: calls.append("v1") or "old", sf_dir, "v")
        old_files = [f.replace("file://", "", 1) for f in m1.inputFiles()]
        s1.stop()

        s2 = get_spark(master="local[1]")
        h2 = C.session_cache(build(s2, "c2"), sf_dir, "k")
        m2 = C.session_materialize(build(s2, "m2"), sf_dir, "m")
        v2 = C.session_value(lambda: calls.append("v2") or "new", sf_dir, "v")
        assert calls == ["c1", "m1", "v1", "c2", "m2", "v2"], calls
        assert h2 is not h1 and h2.sparkSession is s2
        assert m2 is not m1 and m2.sparkSession is s2
        assert (v1, v2) == ("old", "new")
        assert h2.count() == 3 and m2.count() == 3
        assert not any(os.path.exists(f) for f in old_files), old_files
        s2.stop()
        print("REGISTRY-OK")
        """
    )
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SF_DIR=str(tmp_path),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "REGISTRY-OK" in out.stdout, out.stderr[-3000:]
