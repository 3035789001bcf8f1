"""Driver-contract wrappers for the streaming slice.

``stream_tumbling_counts`` / ``stream_sliding_counts`` /
``stream_session_counts`` run the REAL Structured Streaming pipeline
(readStream → watermark → availableNow → memory sink) — on static input the
result equals the batch window aggregation, which is what the DuckDB oracle
expresses.  The ``window_*`` twins run the same window operators in batch
mode; late-data and multi-batch watermark behavior is pinned in
tests/test_streaming.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from simple_query_engine_spark.sources.catalog import table
from simple_query_engine_spark.streaming.explain_capture import run_to_memory_sink
from simple_query_engine_spark.streaming.stateful import run_stateful_user_profiles
from simple_query_engine_spark.streaming.windows import (
    LATE_STRAGGLER_END,
    LATE_STRAGGLER_MOD,
    run_late_drop_daily_counts,
    run_stream_stream_join,
    run_streaming_dedup_counts,
    run_streaming_session_counts,
    run_streaming_sliding_counts,
    run_streaming_tumbling_counts,
    session_window_counts,
    sliding_window_counts,
    tumbling_window_counts,
)


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_tumbling_counts(
        spark, os.path.join(sf_dir, "events.parquet")
    )


def q_batch_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_window_counts(table(spark, sf_dir, "events"))


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_window_counts(table(spark, sf_dir, "events"))


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_window_counts(table(spark, sf_dir, "events"))


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_sliding_counts(
        spark, os.path.join(sf_dir, "events.parquet")
    )


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_session_counts(
        spark, os.path.join(sf_dir, "events.parquet")
    )


def q_stream_stateful_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    profile.  Single-batch replay ⇒ final state equals the batch aggregate,
    which the oracle checks; cross-batch state is pinned in tests."""
    return run_stateful_user_profiles(spark, os.path.join(sf_dir, "events.parquet"))


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join (clicks ⋈ purchases ≤1 h later, per user) with
    watermarked state on both sides."""
    return run_stream_stream_join(spark, os.path.join(sf_dir, "events.parquet"))


def q_stream_dedup_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (watermark-bounded dropDuplicates state) chained
    into a stateful distinct-user count — see
    :func:`simple_query_engine_spark.streaming.windows.run_streaming_dedup_counts`."""
    return run_streaming_dedup_counts(spark, os.path.join(sf_dir, "events.parquet"))


def q_stream_restart_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once file sink across a query restart.

    Phase 1 streams the first half of the staged input files into a native
    parquet sink with a checkpoint and terminates (availableNow); the
    remaining files then arrive; phase 2 RESTARTS the query against the
    same checkpoint + sink and drains the rest.  The oracle is the plain
    projection of the whole events table, so the row is green only if the
    restarted query neither re-emits phase-1 rows (offsets resumed, sink
    commit log honored) nor loses phase-2 rows.  Mid-flight kills (stop()
    between commits) are pinned in tests/test_streaming_sinks.py.
    """
    import shutil

    from simple_query_engine_spark.operators.storage import (
        events_cache_path,
        materialize_once,
        scratch_dir,
    )
    from simple_query_engine_spark.streaming.sinks import run_resumable_file_sink

    staged = events_cache_path(sf_dir, "streamsrc")
    materialize_once(
        staged,
        lambda tmp: table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value", "user_id")
        .repartition(4)
        .write.parquet(tmp),
    )
    part_files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    run_root = scratch_dir("stream_resume_")
    src = os.path.join(run_root, "in")
    out = os.path.join(run_root, "out")
    ckpt = os.path.join(run_root, "ckpt")
    os.makedirs(src)
    half = len(part_files) // 2 or 1
    for f in part_files[:half]:
        shutil.copy(os.path.join(staged, f), os.path.join(src, f))
    run_resumable_file_sink(spark, src, out, ckpt)
    for f in part_files[half:]:
        shutil.copy(os.path.join(staged, f), os.path.join(src, f))
    run_resumable_file_sink(spark, src, out, ckpt)
    return spark.read.parquet(out)



def q_stream_upsert_managed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE into a managed table (the Delta streaming-merge
    sink): 4 staged source files drain as 4 micro-batches, each upserting
    its per-user rollup with a txn-stamped commit.  The oracle is the
    batch groupBy over ALL events — green only if the four merges compose
    to exactly the batch answer (no double-counts from the create/merge
    races, no lost batches).  Replay idempotence (the txn skip) and
    vacuum-survival of the txn map are pinned in
    tests/test_streaming_sinks.py."""
    from simple_query_engine_spark.operators.storage import (
        events_cache_path,
        materialize_once,
        scratch_dir,
    )
    from simple_query_engine_spark.streaming.sinks import (
        run_streaming_upsert_managed,
    )

    staged = events_cache_path(sf_dir, "streamsrc_ts")
    materialize_once(
        staged,
        lambda tmp: table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .repartition(4)
        .write.parquet(tmp),
    )
    run_root = scratch_dir("stream_upsert_")
    return run_streaming_upsert_managed(
        spark,
        staged,
        os.path.join(run_root, "table"),
        os.path.join(run_root, "ckpt"),
    )


def q_stream_ttl_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL'd-state custom sessionizer (VERDICT r08 item 6): per-user gap
    sessions via ``applyInPandasWithState`` + EventTimeTimeout — state is
    EVICTED when the watermark passes a user's gap, so state volume
    tracks active users (the production discipline Spark 4's
    ``transformWithState`` ValueState-TTL ships; that API's Python
    runner needs google.protobuf, absent here — documented in
    streaming/stateful.py).  The replay is 4 in-order time-split batches
    plus 3 watermark-marching sentinels; the emitted set must equal the
    batch gap-sessionization the oracle computes.  Checkpoint-restart
    state survival is pinned in tests/test_stateful_streaming.py."""
    from simple_query_engine_spark.operators.storage import (
        events_cache_path,
        materialize_once,
    )
    from simple_query_engine_spark.streaming.stateful import (
        run_ttl_session_counts,
    )
    from simple_query_engine_spark.streaming.windows import (
        LATE_BATCH_SPLITS,
        sentinel_batches,
        write_ordered_batches,
    )
    from pyspark.sql import functions as F

    staged = events_cache_path(sf_dir, "ttlsess_v1")

    def _stage(tmp: str) -> None:
        ev = table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value", "user_id"
        )
        s0, s1, s2 = LATE_BATCH_SPLITS
        write_ordered_batches(
            tmp,
            [
                ev.filter(F.col("ts") < s0),
                ev.filter((F.col("ts") >= s0) & (F.col("ts") < s1)),
                ev.filter((F.col("ts") >= s1) & (F.col("ts") < s2)),
                ev.filter(F.col("ts") >= s2),
            ]
            + [
                b.withColumn("user_id", F.lit(-1).cast("long"))
                for b in sentinel_batches(spark)
            ],
        )

    materialize_once(staged, _stage)
    sessions = run_ttl_session_counts(spark, staged, max_files_per_trigger=1)
    return sessions.filter(F.col("user_id") != -1)


def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup (``dropDuplicatesWithinWatermark``,
    Spark 3.5+): every 5th event is planted as an identical twin in its
    own batch — arriving well inside the watermark window, so the dedup
    MUST suppress each twin exactly once — and the deduped stream feeds
    a per-type rollup.  The oracle aggregates the ORIGINAL table (each
    event once): green proves exactly the planted duplicates were
    dropped.  The eviction semantics (a duplicate re-arriving after its
    window is NOT suppressed — bounded state, bounded suppression) are
    pinned in tests/test_streaming.py."""
    from simple_query_engine_spark.operators.storage import (
        events_cache_path,
        materialize_once,
    )
    from simple_query_engine_spark.streaming.windows import (
        DUP_PLANT_MOD,
        LATE_BATCH_SPLITS,
        run_streaming_dedup_within_watermark,
        write_ordered_batches,
    )
    from pyspark.sql import functions as F

    staged = events_cache_path(sf_dir, "dupwm_v1")

    def _stage(tmp: str) -> None:
        ev = table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        twins = ev.filter(F.col("event_id") % DUP_PLANT_MOD == 0)
        s0, s1, s2 = LATE_BATCH_SPLITS
        windows = [
            F.col("ts") < s0,
            (F.col("ts") >= s0) & (F.col("ts") < s1),
            (F.col("ts") >= s1) & (F.col("ts") < s2),
            F.col("ts") >= s2,
        ]
        write_ordered_batches(
            tmp,
            [ev.filter(w).unionAll(twins.filter(w)) for w in windows],
        )

    materialize_once(staged, _stage)
    return run_streaming_dedup_within_watermark(
        spark, staged, max_files_per_trigger=1
    )


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the canonical streaming-enrichment pattern:
    the event stream joins a STATIC dimension table (customers) that is
    re-planned per micro-batch and broadcast (no state store on either
    side, unlike a stream-stream join — the static side is a snapshot,
    so there is nothing to buffer), then feeds a running aggregate by
    market segment.  At 100 TB/day the dimension stays executor-resident
    while only the stream shuffles — enrichment costs one broadcast
    hash-join per batch.  On a finite replay the result equals the batch
    join+aggregate, which is what the oracle computes."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.streaming.windows import _run_windowed_stream

    dim = F.broadcast(
        table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )

    def enrich(stream: DataFrame) -> DataFrame:
        return (
            stream.join(dim, stream["user_id"] == dim["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "value_cents"
                ),
            )
        )

    return _run_windowed_stream(
        spark, os.path.join(sf_dir, "events.parquet"), enrich, "enrich"
    )


def q_stream_vector_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming VECTOR INGEST into the trained IVF index: the embeddings
    table replays as a file-source stream and every arriving vector is
    assigned to its nearest trained centroid, feeding a running per-cell
    ingest report (rows landed, integer inertia, ingest frontier) — the
    streaming face of ``sim_ivf_append_topk``'s append step: this is what
    posting-list growth looks like while a 100 TB/day embedding firehose
    lands, with the quantizer held fixed between retrains.

    The arg-min is deliberately a PROJECTION, not an aggregation: the
    K-row centroid table packs into ONE broadcast array row
    (stream-static join), and each vector's nearest cell is
    ``array_min`` over a transform to (distance, cell_id) structs —
    chained streaming aggregations are disallowed, and none are needed
    when K is executor-resident.  The single streaming aggregation is
    the per-cell rollup (complete mode).  On a finite replay the report
    equals the batch assignment rollup, which is what the oracle's
    unrolled k-means CTEs compute; ties break to the lowest cell_id
    exactly like ``_kmeans_assign``'s min-struct.
    """
    return run_vector_ingest(spark, sf_dir)


def run_vector_ingest(
    spark: SparkSession,
    sf_dir: str,
    stream_path: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The :func:`q_stream_vector_ingest` pipeline with an overridable
    stream source — tests replay a staged multi-file copy of the
    embeddings (``max_files_per_trigger=1`` forces one micro-batch per
    file) while the quantizer still trains from the canonical ``sf_dir``
    (keeping the session caches tagged to the real dir)."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.similarity import (
        EMB_SCALE,
        KMEANS_OFFSET,
        _kmeans_sqdist,
        _kmeans_trained,
    )
    from simple_query_engine_spark.streaming.windows import read_event_stream

    _, cent = _kmeans_trained(spark, sf_dir)
    packed = F.broadcast(
        cent.agg(
            F.array_sort(F.collect_list(F.struct("cell_id", "cv"))).alias("cents")
        )
    )
    stream = read_event_stream(
        spark,
        stream_path or os.path.join(sf_dir, "embeddings.parquet"),
        max_files_per_trigger,
    )
    sv = F.transform(
        F.col("embedding"),
        lambda x: (F.floor(x.cast("double") * EMB_SCALE) + KMEANS_OFFSET).cast(
            "long"
        ),
    )
    scored = (
        stream.withColumn("sv", sv)
        .crossJoin(packed)
        .withColumn(
            "best",
            F.array_min(
                F.transform(
                    F.col("cents"),
                    lambda c: F.struct(
                        _kmeans_sqdist(F.col("sv"), c.cv).alias("d"),
                        c.cell_id.alias("cell_id"),
                    ),
                )
            ),
        )
    )
    report = scored.groupBy(F.col("best.cell_id").alias("cell_id")).agg(
        F.count(F.lit(1)).alias("n_ingested"),
        F.sum("best.d").alias("inertia"),
        F.max("vec_id").alias("last_vec_id"),
    )
    return run_to_memory_sink(report, "vecingest", "vector_ingest")


IVF_INGEST_APP = "stream_ivf_ingest"


def q_stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF INDEX INGEST through the MANAGED layer — the
    vector-index door of the streaming family (VERDICT r15 item 5): the
    standing posting lists are a ManagedTable snapshot (version 0 = the
    base split's centroid assignments), the held-out append split of the
    embeddings replays as a file-source stream in 4 micro-batches, and
    each batch's vectors are assigned to the trained (base-only)
    centroids and txn-stamped INSERTed into the table — the
    ``sim_ivf_append_topk`` append step as a continuous pipeline stage,
    with exactly-once from the checkpoint + manifest-txn pair
    (``stream_upsert_managed``'s discipline applied to an append-only
    index sink; unlike ``stream_vector_ingest``'s per-cell REPORT, this
    entry mutates the INDEX STATE itself).  After the stream drains, the
    nprobe top-k search runs over the committed snapshot; on a finite
    replay the posting lists equal the batch append, so the result — and
    the oracle — are exactly ``sim_ivf_append_topk``'s.

    Shape at 100 TB/day: each micro-batch pays ONE broadcast K-row
    arg-min over its own rows plus one append commit (new files only —
    no existing posting file is rewritten), so per-batch cost ∝ batch;
    the standing index persists in the managed table between batches and
    searches read the committed snapshot.  Replay idempotence (txn skip)
    and one-commit-per-micro-batch are pinned in
    tests/test_streaming_sinks.py.

    Reference basis: the brief's similarity-search requirement as a
    continuous ingestion stage; the reference has no streaming surface
    (SURVEY §2.2)."""
    return run_ivf_ingest(spark, sf_dir)


def run_ivf_ingest(
    spark: SparkSession,
    sf_dir: str,
    stream_path: str | None = None,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """The :func:`q_stream_ivf_ingest` pipeline with an overridable
    stream source; returns the top-k search over the final committed
    snapshot and (for tests) leaves the table path in
    ``run_ivf_ingest.last_table_path``."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.similarity import (
        IVF_BATCH_MOD,
        IVF_BATCH_REM,
        _ivf_search,
        _kmeans_assign,
        _kmeans_trained,
    )
    from simple_query_engine_spark.operators.storage import (
        materialize_once,
        scratch_dir,
        source_cache_path,
    )
    from simple_query_engine_spark.sources.managed import ManagedTable
    from simple_query_engine_spark.streaming.explain_capture import record_explain
    from simple_query_engine_spark.streaming.windows import read_event_stream

    is_batch = F.col("vec_id") % IVF_BATCH_MOD == F.lit(IVF_BATCH_REM)
    vectors, cent = _kmeans_trained(
        spark, sf_dir, base_filter=~is_batch, key_prefix="kmeans_app"
    )
    if stream_path is None:
        # The staged content IS the vec_id % MOD == REM split, so the
        # cache tag derives from the split constants (ADVICE r16):
        # changing them can never serve a stale staged split.
        staged = source_cache_path(
            sf_dir, "embeddings", f"ivfingest_{IVF_BATCH_MOD}_{IVF_BATCH_REM}_v1"
        )
        materialize_once(
            staged,
            lambda tmp: table(spark, sf_dir, "embeddings")
            .filter(is_batch)
            .select("vec_id", "embedding")
            .repartition(4)
            .write.parquet(tmp),
        )
        stream_path = staged
    run_root = scratch_dir("stream_ivf_")
    table_path = os.path.join(run_root, "table")
    run_ivf_ingest.last_table_path = table_path
    base_members = _kmeans_assign(vectors.filter(~is_batch), cent).select(
        F.col("vec_id").alias("neighbor_id"), "cell_id"
    )
    ManagedTable.create(spark, table_path, base_members)
    stream = read_event_stream(spark, stream_path, max_files_per_trigger)
    query = (
        stream.writeStream.foreachBatch(
            lambda df, bid: ingest_ivf_batch(spark, table_path, cent, df, bid)
        )
        .option("checkpointLocation", os.path.join(run_root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    record_explain(query, "ivf_ingest")
    members = ManagedTable(spark, table_path).read()
    return _ivf_search(spark, sf_dir, vectors, cent, members)


def ingest_ivf_batch(
    spark: SparkSession,
    table_path: str,
    cent: DataFrame,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """foreachBatch body for the managed IVF append sink: assign the
    batch's vectors to the FIXED trained centroids (broadcast K-row
    arg-min, ``_kmeans_assign`` — the quantizer never retrains on
    appended data) and txn-stamped append the new posting rows.  On any
    replay — a foreachBatch retry, or a restart whose checkpoint
    predates the commit — ``last_txn`` shows the batch already applied
    and the handler returns without touching the index.  Module-level
    (not a closure) so tests can replay it directly."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.similarity import (
        _kmeans_assign,
        kmeans_shifted_sv,
    )
    from simple_query_engine_spark.sources.managed import ManagedTable
    from simple_query_engine_spark.streaming.explain_capture import (
        record_batch_explain,
    )

    t = ManagedTable(spark, table_path)
    last = t.last_txn(IVF_INGEST_APP)
    if last is not None and batch_id <= last:
        return  # replayed batch: already in the snapshot
    assigned = _kmeans_assign(
        batch_df.select(
            "vec_id", kmeans_shifted_sv(F.col("embedding")).alias("sv")
        ),
        cent,
    ).select(F.col("vec_id").alias("neighbor_id"), "cell_id")
    # The streaming query's lastExecution sees only the source read; the
    # per-batch plan whose shape the docstring claims (ONE broadcast K-row
    # arg-min join, no corpus-wide work) is this frame's — record it for
    # the PLANS.md streaming audit (VERDICT r16 item 4).
    record_batch_explain(assigned, "ivf_ingest:batch_assign")
    t.insert(assigned, txn=(IVF_INGEST_APP, batch_id))


CC_INGEST_APP = "stream_components_ingest"


def q_stream_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-DUP CLUSTER maintenance through the MANAGED layer —
    the graph-family door of the streaming family (r17; the
    ``stream_ivf_ingest`` discipline applied to the standing dedup
    state): the standing cluster-label table is a ManagedTable snapshot
    (version 0 = the corpus-only labels, the same state
    ``graph_components_incremental`` persists), the planted batch
    documents replay as a file-source stream in 3 micro-batches, and
    each batch (a) MinHash-signs its documents with the STATELESS
    projection form, (b) banded-joins them against the corpus + every
    previously ingested document, (c) rewrites the delta edges through
    the current labels and runs pointer-doubling propagation over the
    reduced (batch-sized) graph, and (d) MERGEs the changed labels +
    the batch's rows into the table in ONE txn-stamped commit — a
    cross-standing-cluster bridge found mid-stream merges the clusters
    by rewriting their members' labels, exactly the maintenance step a
    continuous-ingestion dedup pipeline commits per batch.  After the
    stream drains the cluster report equals the batch incremental entry
    — and the oracle is the same recursive closure over ALL planted
    pairs, so sequential per-batch merging is certified
    order-insensitive against the full recompute.

    Shape at 100 TB/day: per micro-batch the work is one banded
    candidate join (batch bands ⋈ standing bands — 24-byte keys, never
    all-pairs), one batch-internal banded self-join, a pointer-doubling
    propagation over a graph whose node set is ≤ 2·|delta edges|, and
    one MERGE commit that rewrites only files holding relabeled rows —
    all ∝ batch, never corpus; the standing labels persist in the
    managed snapshot between batches.  Exactly-once from the
    checkpoint + manifest-txn pair; replay idempotence and
    one-commit-per-micro-batch are pinned in
    tests/test_streaming_sinks.py.

    Reference basis: the brief's dedup-at-scale requirement as a
    continuous pipeline stage; the reference has no streaming surface
    (SURVEY §2.2)."""
    return run_components_ingest(spark, sf_dir)


def run_components_ingest(
    spark: SparkSession,
    sf_dir: str,
    stream_path: str | None = None,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """The :func:`q_stream_components_incremental` pipeline with an
    overridable stream source; returns the cluster report over the final
    committed snapshot and (for tests) leaves the table path in
    ``run_components_ingest.last_table_path``."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.dedup import (
        PLANT_DOC_MOD,
        PLANT_DOC_OFFSET,
        _planted_documents,
        _standing_labels_managed,
    )
    from simple_query_engine_spark.operators.storage import (
        materialize_once,
        scratch_dir,
        source_cache_path,
    )
    from simple_query_engine_spark.sources.managed import ManagedTable
    from simple_query_engine_spark.streaming.explain_capture import record_explain
    from simple_query_engine_spark.streaming.windows import read_event_stream

    if stream_path is None:
        # The staged content IS the planted batch split, so the cache tag
        # derives from the plant constants (the ivfingest discipline).
        staged = source_cache_path(
            sf_dir, "documents", f"ccingest_{PLANT_DOC_MOD}_{PLANT_DOC_OFFSET}_v1"
        )
        materialize_once(
            staged,
            lambda tmp: _planted_documents(spark, sf_dir)
            .filter(F.col("doc_id") >= PLANT_DOC_OFFSET)
            .repartition(3)
            .write.parquet(tmp),
        )
        stream_path = staged
    run_root = scratch_dir("stream_cc_")
    table_path = os.path.join(run_root, "table")
    run_components_ingest.last_table_path = table_path
    # stats on the merge key: each micro-batch's merge probes prune to
    # files whose doc_id box overlaps the batch (the streaming-upsert
    # discipline — merge cost ∝ batch, not table).
    ManagedTable.create(
        spark,
        table_path,
        _standing_labels_managed(spark, sf_dir),
        stats_columns=["doc_id"],
    )
    stream = read_event_stream(spark, stream_path, max_files_per_trigger)
    query = (
        stream.writeStream.foreachBatch(
            lambda df, bid: ingest_components_batch(spark, table_path, sf_dir, df, bid)
        )
        .option("checkpointLocation", os.path.join(run_root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    record_explain(query, "cc_ingest")
    labels = ManagedTable(spark, table_path).read()
    # Edgeless ingested documents sit in the table as self-labeled rows
    # (they must be VISIBLE to later batches' banded joins) but belong to
    # no pair-graph cluster; every real cluster has >= 2 members, so the
    # size filter reproduces the batch entry's node universe exactly.
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("cluster_size") >= 2)
        .withColumnRenamed("label", "cluster_id")
    )


def ingest_components_batch(
    spark: SparkSession,
    table_path: str,
    sf_dir: str,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """foreachBatch body for the managed cluster-label sink: find the
    batch's near-dup pairs against everything already tracked (corpus +
    prior batches) plus batch-internal pairs, reduce them through the
    current labels, propagate over the reduced graph, and MERGE the
    relabeled + new rows in one txn-stamped commit.  On any replay —
    a foreachBatch retry, or a restart whose checkpoint predates the
    commit — ``last_txn`` shows the batch already applied and the
    handler returns without touching the state.  Module-level (not a
    closure) so tests can replay it directly."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.dedup import (
        NUM_MINHASH,
        PLANT_DOC_OFFSET,
        PLANTED_JACCARD_THRESHOLD,
        _band_rows,
        _localize_bounded_pairs,
        _minhash_lsh_pairs,
        _planted_sig,
        _propagate_labels,
        _row_minhash_signature,
        _symmetric_edges,
    )
    from simple_query_engine_spark.sources.managed import ManagedTable
    from simple_query_engine_spark.streaming.explain_capture import (
        record_batch_explain,
    )

    t = ManagedTable(spark, table_path)
    last = t.last_txn(CC_INGEST_APP)
    if last is not None and batch_id <= last:
        return  # replayed batch: already in the snapshot
    # One scan of the standing snapshot serves every consumer in this
    # batch (r18): prior_ids (the seen-side restriction), the upd
    # label-rewrite join, and the new_rows anti-join each re-read the
    # table's parquet otherwise — three corpus-sized scans per batch.
    # Released after the merge commits; the NEXT batch reads the NEW
    # snapshot, so nothing stale can be served.
    std = t.read().persist()  # (doc_id, label): corpus + prior ingested
    # Stateless per-row signatures for the batch (pinned bit-identical to
    # the grouped construction); the SEEN side reads the shared planted
    # signature cache — the session stand-in for the persisted signature
    # table a production pipeline maintains next to the label state —
    # restricted to the corpus plus documents already committed to the
    # label table (prior micro-batches), so a replayed or future document
    # can never pair against itself.
    batch_sig = _row_minhash_signature(batch_df.select("doc_id", "text"))
    sig_all = _planted_sig(spark, sf_dir)
    prior_ids = std.filter(F.col("doc_id") >= PLANT_DOC_OFFSET).select("doc_id")
    seen_sig = sig_all.filter(F.col("doc_id") < PLANT_DOC_OFFSET).unionByName(
        sig_all.join(prior_ids, "doc_id", "semi")
    )
    cross_cand = (
        _band_rows(batch_sig)
        .alias("a")
        .join(
            _band_rows(seen_sig).alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    sig_a = batch_sig.select(
        F.col("doc_id").alias("doc_id_a"), F.col("signature").alias("sig_a")
    )
    sig_b = seen_sig.select(
        F.col("doc_id").alias("doc_id_b"), F.col("signature").alias("sig_b")
    )
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    ) / F.lit(NUM_MINHASH)
    cross = (
        cross_cand.join(sig_a, "doc_id_a")
        .join(sig_b, "doc_id_b")
        .filter(F.round(est, 4) >= PLANTED_JACCARD_THRESHOLD)
        .select("doc_id_a", "doc_id_b")
    )
    internal = _minhash_lsh_pairs(batch_sig, PLANTED_JACCARD_THRESHOLD).select(
        "doc_id_a", "doc_id_b"
    )
    # One bounded evaluation of the banded pipeline per batch: the delta
    # is consumed by the propagation probe, the node derivation AND the
    # merge-source materialization below — localized, each reads the
    # in-memory pair list instead of re-running the candidate joins.
    delta = _localize_bounded_pairs(cross.union(internal))
    # Rewrite the delta through the current labels: standing/ingested
    # endpoints collapse to their cluster label, untracked endpoints (this
    # batch's docs, corpus docs gaining their first edge) stay themselves.
    lbl_a = std.select(F.col("doc_id").alias("doc_id_a"), F.col("label").alias("la"))
    lbl_b = std.select(F.col("doc_id").alias("doc_id_b"), F.col("label").alias("lb"))
    reduced_pairs = (
        delta.join(lbl_a, "doc_id_a", "left")
        .join(lbl_b, "doc_id_b", "left")
        .select(
            F.coalesce("la", F.col("doc_id_a")).alias("doc_id_a"),
            F.coalesce("lb", F.col("doc_id_b")).alias("doc_id_b"),
        )
        .filter(F.col("doc_id_a") != F.col("doc_id_b"))
    )
    reduced_labels, _ = _propagate_labels(_symmetric_edges(reduced_pairs))
    rl = reduced_labels.select(
        F.col("doc_id").alias("base_label"), F.col("label").alias("rlabel")
    )
    # (1) existing rows whose cluster merged under a smaller label;
    # (2) every node NEW to the state — this batch's documents (edgeless
    #     ones included: later batches must see them) and corpus documents
    #     gaining their first edge — at their propagated (or own) label.
    upd = (
        std.join(rl, F.col("label") == F.col("base_label"))
        .filter(F.col("rlabel") != F.col("base_label"))
        .select("doc_id", F.col("rlabel").alias("label"))
    )
    delta_nodes = (
        delta.select(F.col("doc_id_a").alias("doc_id"))
        .union(delta.select(F.col("doc_id_b").alias("doc_id")))
        .union(batch_df.select("doc_id"))
        .distinct()
    )
    new_rows = (
        delta_nodes.join(std.select("doc_id"), "doc_id", "anti")
        .join(rl, F.col("doc_id") == F.col("base_label"), "left")
        .select("doc_id", F.coalesce("rlabel", F.col("doc_id")).alias("label"))
    )
    source = upd.unionByName(new_rows)
    # Sink-side per-batch plan for the PLANS.md streaming audit (the
    # banded candidate joins + the reduced propagation feed this frame).
    record_batch_explain(source, "cc_ingest:batch_merge")
    try:
        t.merge(
            source,
            on="doc_id",
            update_assignments={"label": F.col("s.label")},
            txn=(CC_INGEST_APP, batch_id),
            # materialize_source stays ON: the source embeds the batch's
            # banded candidate joins, and the merge consumes it from several
            # probes — the scratch write is what keeps that pipeline
            # evaluated once (re-measured r18 with the fused probe chain:
            # still 1.8x the batch wall without it).
            # upd ⊂ standing doc_ids (one row per relabeled doc) and
            # new_rows are anti-joined against them then made distinct —
            # disjoint and unique, so the duplicate scan is skippable.
            check_duplicate_keys=False,
        )
    finally:
        std.unpersist()


def q_stream_bm25_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming INVERTED-INDEX maintenance: the documents table replays
    as a file-source stream and the per-term index statistics the BM25
    scorer reads (document frequency, total and max term frequency for
    the ``text_bm25_search`` query terms) update as documents land — the
    streaming face of the postings build, i.e. what a live retrieval
    index does between full rebuilds.

    Per-document term frequency is deliberately a PROJECTION (one
    ``size(filter(words, = term))`` per tracked term over the tokenized
    array — executor-resident, no state), so the single streaming
    aggregation is the per-term rollup: each document contributes exactly
    one (doc, term, tf) row per matched term, making df a plain count —
    no distinct aggregation and no chained aggregations, which streaming
    disallows.  On a finite replay the report equals the batch postings
    rollup (multi-batch equality pinned in tests); the oracle is the
    batch SQL.  At 100 TB/day the state is |tracked terms| rows — for a
    full-vocabulary index the groupBy key is the term and state is
    vocabulary-sized, partitioned by the same keyed shuffle.
    """
    return run_bm25_postings(spark, sf_dir)


def run_bm25_postings(
    spark: SparkSession,
    sf_dir: str,
    stream_path: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The :func:`q_stream_bm25_postings` pipeline with an overridable
    stream source (tests replay a staged multi-file copy)."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.text import (
        BM25_QUERIES,
        _normalized,
    )
    from simple_query_engine_spark.streaming.windows import read_event_stream

    terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    stream = read_event_stream(
        spark,
        stream_path or os.path.join(sf_dir, "documents.parquet"),
        max_files_per_trigger,
    )
    tokenized = stream.select(
        "doc_id", F.split(_normalized(F.col("text")), " ").alias("w")
    )
    per_term = F.array(
        *[
            F.struct(
                F.lit(t).alias("term"),
                F.size(
                    F.filter(F.col("w"), lambda x: x == F.lit(t))  # noqa: B023
                ).alias("tf"),
            )
            for t in terms
        ]
    )
    rows = (
        tokenized.select("doc_id", F.explode(per_term).alias("s"))
        .select("doc_id", F.col("s.term").alias("term"), F.col("s.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    report = rows.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("total_tf"),
        F.max("tf").alias("max_tf"),
    )
    return run_to_memory_sink(report, "bm25post", "bm25_postings")


def q_stream_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MIXTURE-GATED INGEST: the documents table replays as a
    file-source stream and each arriving document passes or fails the
    standing per-source acceptance threshold
    (:func:`~simple_query_engine_spark.operators.pipeline.mixture_thresholds`
    — the ``pipeline_mixture_sample`` policy table, computed from the
    static corpus snapshot and broadcast) — exactly how a production
    ingest gate applies a mixture policy that a periodic batch job
    refreshes.  The running per-source report tracks seen vs sampled
    docs and sampled token mass.

    The accept/reject decision is a PROJECTION (hash gate vs the
    stream-static broadcast join's threshold column — no state), so the
    single streaming aggregation is the per-source rollup (complete
    mode), counting seen and sampled in one pass via conditional sums —
    no chained aggregations.  On a finite replay the report equals the
    batch gate applied to the whole corpus, which is the oracle; state
    is |S| rows.  At 100 TB/day the gate drops over-quota sources
    map-side before any shuffle — the whole point of hash-gating the
    firehose instead of sampling post-hoc."""
    return run_mixture_ingest(spark, sf_dir)


def run_mixture_ingest(
    spark: SparkSession,
    sf_dir: str,
    stream_path: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The :func:`q_stream_mixture_sample` pipeline with an overridable
    stream source (tests replay a staged multi-file copy)."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.functions.hashing import md5_prefix_long
    from simple_query_engine_spark.operators.pipeline import (
        MIXTURE_GATE_MOD,
        mixture_thresholds,
    )
    from simple_query_engine_spark.operators.text import _normalized
    from simple_query_engine_spark.streaming.windows import read_event_stream

    policy = F.broadcast(
        mixture_thresholds(spark, sf_dir).select("source", "accept_ppm")
    )
    stream = read_event_stream(
        spark,
        stream_path or os.path.join(sf_dir, "documents.parquet"),
        max_files_per_trigger,
    )
    gated = (
        stream.select(
            "source",
            F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens"),
            F.pmod(
                md5_prefix_long(F.col("doc_id").cast("string"), 8),
                F.lit(MIXTURE_GATE_MOD),
            ).alias("gate"),
        )
        .join(policy, "source")
        .withColumn("accepted", F.col("gate") < F.col("accept_ppm"))
    )
    report = gated.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_seen"),
        F.max("accept_ppm").alias("accept_ppm"),
        F.sum(F.col("accepted").cast("long")).alias("docs_sampled"),
        F.sum(F.when(F.col("accepted"), F.col("n_tokens")).otherwise(0)).alias(
            "tokens_sampled"
        ),
    )
    return run_to_memory_sink(report, "mixgate", "mixture_sample")


def q_stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data DROP accounting: a 4-batch ordered replay where
    the held-back straggler slice arrives weeks past its event time and
    must be dropped by the 1-hour watermark — the oracle aggregates the
    corpus WITHOUT the stragglers, so the row is green only if the
    streaming engine dropped exactly the planted late set and nothing
    else.  See
    :func:`simple_query_engine_spark.streaming.windows.run_late_drop_daily_counts`
    for why the margin makes this robust to watermark-advance lag."""
    return run_late_drop_daily_counts(spark, sf_dir)


def q_stream_clip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PAIR-MANIFEST maintenance — the streaming face of
    ``multimodal_clip_pairs``: documents replay as a file-source stream,
    undersized payloads drop MAP-SIDE (a projection gate, before any
    state), and the single streaming aggregation maintains the
    digest-keyed manifest state: per byte-identical payload, the keeper
    (MIN doc_id — deterministic whatever the batch split, unlike
    first-arrival ``dropDuplicates``), the copy count, and the byte
    size.  The embedding alignment and the md5 split stamp are applied
    AT READ TIME over the manifest table (the ``stream_bm25_postings``
    read-side-scoring pattern) — they are pure functions / static joins
    that need no stream state.

    State is one row per distinct surviving payload (16-byte digest +
    three ints) — the minimum any cross-batch exact dedup can hold; at
    100 TB/day the map-side size gate and the digest groupBy's partial
    aggregation mean payload bytes never shuffle and per-batch state
    touches only that batch's digests.  On a finite replay the manifest
    equals the batch construction, which is the oracle; multi-batch
    replay equality is pinned in tests."""
    return run_clip_ingest(spark, sf_dir)


def run_clip_ingest(
    spark: SparkSession,
    sf_dir: str,
    stream_path: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The :func:`q_stream_clip_ingest` pipeline with an overridable
    stream source (tests replay a staged multi-file copy)."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.curation import split_expr
    from simple_query_engine_spark.operators.multimodal import CLIP_MIN_BYTES
    from simple_query_engine_spark.streaming.windows import read_event_stream

    stream = read_event_stream(
        spark,
        stream_path or os.path.join(sf_dir, "documents.parquet"),
        max_files_per_trigger,
    )
    payload = F.encode("text", "UTF-8")
    digested = stream.select(
        "doc_id",
        F.md5(payload).alias("digest"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    ).filter(F.col("n_bytes") >= CLIP_MIN_BYTES)
    manifest = digested.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.max("n_bytes").alias("n_bytes"),
    )
    sink = run_to_memory_sink(manifest, "clipingest", "clip_ingest")
    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.size("embedding").alias("emb_dim")
    )
    # SINGLE-SOURCED with pipeline_split_assign (curation.split_expr).
    split = split_expr(F.col("doc_id"))
    return sink.join(emb, "doc_id").select(
        "doc_id", "digest", "n_copies", "n_bytes", split.alias("split")
    )


def q_stream_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING fuzzy decontamination gate — the ``text_decontamination_
    fuzzy`` tier moved to the ingest door, where pretraining pipelines
    actually need it (a leaked benchmark paraphrase should never reach
    the corpus, not be found there later).  Documents replay as a
    file-source stream; everything up to the rollup is STATELESS:
    per-row MinHash signatures via the projection form
    (``dedup._row_minhash_signature`` — equality with the grouped batch
    construction is pinned in tests), band keys exploded per row with
    the signature riding along, candidates from a stream-static join
    against the BROADCAST eval band rows (|eval| docs — tiny), estimated
    Jaccard as a projection, and the ≥ {PLANTED_JACCARD_THRESHOLD}
    verify filter map-side.  The single streaming aggregation maintains
    the flagged-pair state (complete mode); the per-eval-doc leak report
    (count, first flagged doc, max estimate) is a read-time rollup over
    the pair table (the ``stream_clip_ingest`` read-side pattern).

    Vacuity handling (the batch twin's convention): leaked paraphrase
    copies are derived INSIDE the stream — each eval doc's replay row
    also emits a one-token-appended copy posing as a corpus document —
    and the oracle performs the identical derivation, so paraphrase
    DETECTION is exercised by the hash-checked gate.

    Shape at 100 TB/day: eval bands broadcast once; each micro-batch
    pays one stateless pass over its own rows + a candidate-count-sized
    verify; state is one row per flagged (corpus, eval) pair — bounded
    by true leaks, not corpus size.  Multi-batch replay equality is
    pinned in tests."""
    return run_stream_decontamination(spark, sf_dir)


def run_stream_decontamination(
    spark: SparkSession,
    sf_dir: str,
    stream_path: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The :func:`q_stream_decontamination` pipeline with an overridable
    stream source (tests replay a staged multi-file copy)."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.functions.caching import session_cache
    from simple_query_engine_spark.operators.dedup import (
        NUM_MINHASH,
        PLANT_DOC_OFFSET,
        PLANT_SUFFIX,
        PLANTED_JACCARD_THRESHOLD,
        _band_rows,
        _minhash_sig_of,
        _row_minhash_signature,
        _shingles_of,
    )
    from simple_query_engine_spark.operators.pipeline import EVAL_SET_MAX_DOC_ID
    from simple_query_engine_spark.streaming.windows import read_event_stream

    stream = read_event_stream(
        spark,
        stream_path or os.path.join(sf_dir, "documents.parquet"),
        max_files_per_trigger,
    )
    # In-stream leak derivation: an eval doc's replay row becomes its
    # planted corpus copy; corpus rows pass through unchanged.
    own = F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text"))
    leaked = F.struct(
        (F.col("doc_id") + PLANT_DOC_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" " + PLANT_SUFFIX)).alias("text"),
    )
    corpus = (
        stream.select(
            F.explode(
                F.when(
                    F.col("doc_id") < EVAL_SET_MAX_DOC_ID, F.array(leaked)
                ).otherwise(F.array(own))
            ).alias("r")
        )
        .select(F.col("r.doc_id").alias("doc_id"), F.col("r.text").alias("text"))
    )
    banded = _band_rows(_row_minhash_signature(corpus), keep_signature=True)

    eval_sig = session_cache(
        lambda: _minhash_sig_of(
            _shingles_of(
                table(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < EVAL_SET_MAX_DOC_ID)
                .select("doc_id", "text"),
                sf_dir,
                "stream_decontam_eval_shingles",
            )
        ),
        sf_dir,
        "stream_decontam_eval_sig",
    )
    eval_bands = _band_rows(eval_sig).select(
        F.col("doc_id").alias("eval_doc_id"), "band_idx", "band_hash"
    )
    eval_sigs = eval_sig.select(
        F.col("doc_id").alias("eval_doc_id"), F.col("signature").alias("sig_b")
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("signature", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(NUM_MINHASH),
        4,
    )
    flagged = (
        banded.join(F.broadcast(eval_bands), ["band_idx", "band_hash"])
        .join(F.broadcast(eval_sigs), "eval_doc_id")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= PLANTED_JACCARD_THRESHOLD)
    )
    pairs = flagged.groupBy("doc_id", "eval_doc_id").agg(
        F.max("est_jaccard").alias("est_jaccard")
    )
    return (
        run_to_memory_sink(pairs, "decontam", "decontamination")
        .groupBy("eval_doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_flagged_docs"),
            F.min("doc_id").alias("first_flagged_doc_id"),
            F.max("est_jaccard").alias("max_est_jaccard"),
        )
    )


QUERIES = {
    "stream_tumbling_counts": q_stream_tumbling,
    "stream_clip_ingest": q_stream_clip_ingest,
    "stream_decontamination": q_stream_decontamination,
    "stream_ttl_sessions": q_stream_ttl_sessions,
    "stream_static_enrich": q_stream_static_enrich,
    "stream_dedup_within_watermark": q_stream_dedup_within_watermark,
    "stream_watermark_late_drop": q_stream_watermark_late_drop,
    "stream_sliding_counts": q_stream_sliding,
    "stream_session_counts": q_stream_session,
    "stream_stateful_profiles": q_stream_stateful_profiles,
    "stream_stream_join": q_stream_stream_join,
    "stream_restart_resume": q_stream_restart_resume,
    "stream_dedup_user_counts": q_stream_dedup_user_counts,
    "stream_upsert_managed": q_stream_upsert_managed,
    "stream_vector_ingest": q_stream_vector_ingest,
    "stream_ivf_ingest": q_stream_ivf_ingest,
    "stream_components_incremental": q_stream_components_incremental,
    "stream_bm25_postings": q_stream_bm25_postings,
    "stream_mixture_sample": q_stream_mixture_sample,
    "window_tumbling_counts": q_batch_tumbling,
    "window_sliding_counts": q_window_sliding,
    "window_session_counts": q_window_session,
}

# Tumbling 1h window start == date_trunc('hour').  Sliding 1h/30m: each event
# belongs to exactly two windows, starts at floor(epoch/1800)*1800 and that
# minus 1800.  Sessions: classic gaps-and-islands with a 600 s gap.
_TUMBLING_SQL = """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS event_count,
           ROUND(SUM(value), 2) AS value_sum
    FROM events GROUP BY 1, 2
"""

_SLIDING_SQL = """
    WITH starts AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) - offs AS window_start
        FROM events, unnest([0, 1800]) AS t(offs)
    )
    SELECT window_start, event_type, COUNT(*) AS event_count
    FROM starts GROUP BY 1, 2
"""

_SESSION_SQL = """
    -- Spark's session window is end-exclusive [start, last+gap): an
    -- event exactly gap seconds after the previous one starts a NEW
    -- session, hence >= (not >) in the boundary test.
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) >= 600
                     OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM marked
    )
    SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
           user_id,
           COUNT(*) AS event_count
    FROM sessions GROUP BY session_id, user_id
"""

def _bm25_postings_oracle_sql() -> str:
    """Batch twin of the streaming postings rollup: same tracked terms
    (generated from BM25_QUERIES at import), same df/tf definitions."""
    from simple_query_engine_spark.operators.text import _NORM, BM25_QUERIES

    terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    values = ", ".join(f"('{t}')" for t in terms)
    return f"""
        WITH t(term) AS (VALUES {values}),
        d AS (
            SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
        ), r AS (
            SELECT term, len(list_filter(w, x -> x = term)) AS tf
            FROM d, t
        )
        SELECT term,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS total_tf,
               CAST(MAX(tf) AS BIGINT) AS max_tf
        FROM r WHERE tf > 0 GROUP BY term
    """


def _mixture_ingest_oracle_sql() -> str:
    """Batch twin of the streaming mixture gate: the same thresholds and
    hash gate applied to the whole corpus in one pass."""
    from simple_query_engine_spark.functions.hashing import md5_prefix_long_sql
    from simple_query_engine_spark.operators.pipeline import MIXTURE_GATE_MOD
    from simple_query_engine_spark.operators.text import _NORM

    gate = md5_prefix_long_sql("CAST(doc_id AS VARCHAR)", 8)
    return f"""
        WITH d AS (
            SELECT source, len(string_split({_NORM}, ' ')) AS n_tokens,
                   {gate} % {MIXTURE_GATE_MOD} AS gate
            FROM documents
        ), per_source AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
            FROM d GROUP BY source
        ), tot AS (
            SELECT CAST(SUM(total_tokens) AS BIGINT) AS corpus_tokens,
                   COUNT(*) AS n_sources
            FROM per_source
        ), thr AS (
            SELECT source, n_docs,
                   LEAST(CAST({MIXTURE_GATE_MOD} AS BIGINT),
                         (corpus_tokens * {MIXTURE_GATE_MOD})
                         // (n_sources * total_tokens)) AS accept_ppm
            FROM per_source, tot
        )
        SELECT t.source, t.n_docs AS docs_seen,
               CAST(t.accept_ppm AS BIGINT) AS accept_ppm,
               CAST(SUM(CASE WHEN d.gate < t.accept_ppm THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_sampled,
               CAST(SUM(CASE WHEN d.gate < t.accept_ppm THEN d.n_tokens
                             ELSE 0 END) AS BIGINT) AS tokens_sampled
        FROM d JOIN thr t ON d.source = t.source
        GROUP BY t.source, t.n_docs, t.accept_ppm
    """



def _clip_ingest_oracle_sql() -> str:
    """Batch twin of the streaming pair-manifest state: the size gate is
    the SAME constant the stream applies (CLIP_MIN_BYTES, not a copied
    literal) and the split stamp is the single-sourced curation.split_sql
    twin of the split_expr the read-side projection uses."""
    from simple_query_engine_spark.operators.curation import split_sql
    from simple_query_engine_spark.operators.multimodal import CLIP_MIN_BYTES

    return f"""
        WITH p AS (
            SELECT doc_id, md5(text) AS digest,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
        ), g AS (
            SELECT digest, MIN(doc_id) AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_copies,
                   CAST(MAX(n_bytes) AS BIGINT) AS n_bytes
            FROM p WHERE n_bytes >= {CLIP_MIN_BYTES} GROUP BY digest
        )
        SELECT g.doc_id, g.digest, g.n_copies, g.n_bytes,
               {split_sql()} AS split
        FROM g JOIN embeddings e ON e.vec_id = g.doc_id
    """

def _stream_decontam_oracle_sql() -> str:
    """Per-eval-doc rollup over the batch fuzzy-decontamination pair SQL
    (same leak derivation, same MinHash pipeline, same threshold) — on a
    finite replay the streaming gate must equal the batch tier exactly."""
    from simple_query_engine_spark.operators.dedup import (
        PLANTED_JACCARD_THRESHOLD,
        _minhash_oracle_sql,
    )
    from simple_query_engine_spark.operators.pipeline import (
        EVAL_SET_MAX_DOC_ID,
        _FUZZY_LEAK_DOCS_SQL,
    )

    pairs = _minhash_oracle_sql(
        docs_sql=_FUZZY_LEAK_DOCS_SQL,
        threshold=PLANTED_JACCARD_THRESHOLD,
        eval_max=EVAL_SET_MAX_DOC_ID,
    )
    return f"""
        WITH flagged AS ({pairs})
        SELECT eval_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_flagged_docs,
               MIN(doc_id) AS first_flagged_doc_id,
               MAX(est_jaccard) AS max_est_jaccard
        FROM flagged GROUP BY eval_doc_id
    """


ORACLES = {
    "stream_clip_ingest": _clip_ingest_oracle_sql(),
    "stream_decontamination": _stream_decontam_oracle_sql(),
    "stream_mixture_sample": _mixture_ingest_oracle_sql(),
    "stream_bm25_postings": _bm25_postings_oracle_sql(),
    # Batch gap-sessionization (gap EXCLUSIVE: an event exactly gap
    # seconds later continues the session — matching the stateful op's
    # `t - last > gap` close rule; the built-in session_window exhibit
    # above uses the end-exclusive >= convention, deliberately distinct).
    # Epochs floor to whole seconds on both engines.
    "stream_ttl_sessions": """
        WITH e AS (
            SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events
        ), lagged AS (
            SELECT user_id, sec,
                   LAG(sec) OVER (PARTITION BY user_id ORDER BY sec) AS prev_sec
            FROM e
        ), labeled AS (
            SELECT user_id, sec,
                   SUM(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 600
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY sec
                             ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM lagged
        )
        SELECT user_id,
               CAST(MIN(sec) AS BIGINT) AS session_start,
               CAST(MAX(sec) AS BIGINT) AS session_end,
               COUNT(*) AS n_events
        FROM labeled GROUP BY user_id, session_seq
    """,
    # Each original event exactly once — the planted twins must all be
    # suppressed by the bounded-state dedup.
    "stream_dedup_within_watermark": """
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events
        GROUP BY event_type
    """,
    # Stream-static enrichment on a finite replay == the batch join+agg;
    # integer cents keep the sum accumulation-order-proof.
    "stream_static_enrich": """
        SELECT c_mktsegment,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
    # Four txn-stamped micro-batch merges must compose to the plain batch
    # rollup — additive counts, max-merged timestamps, no floats.
    "stream_upsert_managed": """
        SELECT user_id,
               COUNT(*) AS n_events,
               MAX(ts) AS last_ts
        FROM events
        GROUP BY user_id
    """,
    "stream_tumbling_counts": _TUMBLING_SQL,
    # The batch answer MINUS the planted straggler slice — the watermark
    # must have dropped exactly those rows.
    "stream_watermark_late_drop": f"""
        SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS window_start,
               event_type,
               COUNT(*) AS event_count,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events
        WHERE NOT (ts < TIMESTAMP '{LATE_STRAGGLER_END}'
                   AND event_id % {LATE_STRAGGLER_MOD} = 0)
        GROUP BY 1, 2
    """,
    "stream_sliding_counts": _SLIDING_SQL,
    "stream_session_counts": _SESSION_SQL,
    "stream_stateful_profiles": """
        SELECT user_id,
               COUNT(*) AS event_count,
               ROUND(SUM(value), 2) AS value_sum,
               CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_epoch
        FROM events GROUP BY user_id
    """,
    "stream_stream_join": """
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
               CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    "stream_restart_resume": """
        SELECT event_id, event_type, value, user_id FROM events
    """,
    # Dedup on (user_id, event_type) keeping only key columns ⇒ the
    # surviving set is exactly the distinct pairs, arrival-order-free.
    "stream_dedup_user_counts": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS unique_users
        FROM events GROUP BY event_type
    """,
    "window_tumbling_counts": _TUMBLING_SQL,
    "window_sliding_counts": _SLIDING_SQL,
    "window_session_counts": _SESSION_SQL,
}


def _vector_ingest_oracle_sql() -> str:
    """Batch twin of the streaming ingest report: the unrolled k-means
    training CTEs (identical to the ``sim_kmeans_train`` oracle) plus the
    per-cell rollup over the final assignment — on a finite replay the
    complete-mode stream converges to exactly this."""
    from simple_query_engine_spark.operators.similarity import (
        _kmeans_oracle_parts,
    )

    parts, _, _ = _kmeans_oracle_parts()
    return (
        "WITH "
        + ",\n        ".join(parts)
        + """
        SELECT cell_id,
               COUNT(*) AS n_ingested,
               CAST(SUM(d) AS BIGINT) AS inertia,
               CAST(MAX(vec_id) AS BIGINT) AS last_vec_id
        FROM af GROUP BY cell_id"""
    )


ORACLES["stream_vector_ingest"] = _vector_ingest_oracle_sql()


def _ivf_ingest_oracle_sql() -> str:
    """On a finite replay the committed posting lists equal the batch
    append, so the oracle is exactly ``sim_ivf_append_topk``'s unrolled
    k-means + append-assignment + probe-ranking SQL."""
    from simple_query_engine_spark.operators.similarity import (
        IVF_BATCH_MOD,
        IVF_BATCH_REM,
        _ivf_trained_oracle_sql,
    )

    return _ivf_trained_oracle_sql(
        base_where=f"vec_id % {IVF_BATCH_MOD} <> {IVF_BATCH_REM}",
        batch_where=f"vec_id % {IVF_BATCH_MOD} = {IVF_BATCH_REM}",
    )


ORACLES["stream_ivf_ingest"] = _ivf_ingest_oracle_sql()


def _cc_ingest_oracle_sql() -> str:
    """Identical to ``graph_components_incremental``'s oracle — the
    recursive closure over ALL planted pairs at the production threshold:
    the streaming door is certified to end in exactly the state the batch
    incremental recompute (and therefore the full recompute) produces."""
    from simple_query_engine_spark.operators.dedup import (
        ORACLES as DEDUP_ORACLES,
    )

    return DEDUP_ORACLES["graph_components_incremental"]


ORACLES["stream_components_incremental"] = _cc_ingest_oracle_sql()
