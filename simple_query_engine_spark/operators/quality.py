"""Round-8 corpus/pipeline analytics operators.

Six operators a production data platform runs next to the curation core:

- ``stats_expectations``      — declarative data-quality expectation suite
  (Deequ/Great-Expectations-style checks: completeness, uniqueness, value
  ranges, accepted sets, referential integrity) as one report table.
- ``stats_drift_psi``         — Population Stability Index between a
  reference and a current event window (the drift monitor a feature
  platform alarms on), in quantized-ln integer math.
- ``events_rfm_segments``     — RFM (recency / frequency / monetary)
  quartile segmentation of users, the classic behavioral cohort table.
- ``events_trailing_features`` — trailing 1h/24h window feature backfill
  per user (burst/peak activity features for a feature store).
- ``text_zipf_slope``         — Zipf's-law slope fit of the corpus word
  frequency distribution (a corpus-health statistic: natural text ≈ −1).
- ``text_ngram_novelty``      — per-document novelty: the fraction of a
  doc's 3-gram shingles whose FIRST corpus occurrence is this doc (the
  marginal-new-content curve a data-mixture curator reads).

Everything is built-in-function JVM-side code (no Python in any plan).
Numeric determinism follows the repo's established disciplines: counts
and cumulative sums are exact integers; money is integer cents
(``round(value·100) → long``, the dml_incremental_view convention);
logarithms are quantized to integer micro-units
(``round(ln(x)·1e6) → long``, the text_unigram_surprisal convention) and
combined with exact integer arithmetic; each final statistic is a single
float division of exactly-representable values — so every operator is
hash-exact against its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from simple_query_engine_spark.functions.hashing import (
    md5_prefix_long,
    md5_prefix_long_sql,
)
from simple_query_engine_spark.functions.caching import session_cache
from simple_query_engine_spark.operators.text import _NORM, _documents, _normalized
from simple_query_engine_spark.sources.catalog import table

LN_SCALE = 1_000_000  # quantized-ln micro-units (text.SURPRISAL_LN_SCALE twin)


def _qln(col: Column) -> Column:
    """``round(ln(x)·1e6)`` as a long — the engine-portable quantized ln
    (same construction as text_unigram_surprisal; the residual last-ulp
    risk is documented there)."""
    return F.round(F.log(col.cast("double")) * LN_SCALE).cast("long")


def _qln_sql(expr: str) -> str:
    return f"CAST(ROUND(ln(CAST({expr} AS DOUBLE)) * {LN_SCALE}) AS BIGINT)"


# --------------------------------------------------------------------------
# Data-quality expectation suite
# --------------------------------------------------------------------------


def _check_rows(df: DataFrame, table_name: str, checks: dict[str, Column]) -> DataFrame:
    """One scan → one (table_name, check_name, n_rows, n_violations, passed)
    row per check: all of a table's checks ride a single conditional
    aggregate (stack() unpivots the one-row result), so the suite costs one
    pass per table however many expectations it declares."""
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[v.cast("long").alias(k) for k, v in checks.items()],
    )
    stack = ", ".join(f"'{k}', {k}" for k in checks)
    return agg.select(
        F.lit(table_name).alias("table_name"),
        F.expr(f"stack({len(checks)}, {stack}) AS (check_name, n_violations)"),
        "n_rows",
    ).select(
        "table_name",
        "check_name",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).cast("int").alias("passed"),
    )


def q_stats_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite over the warehouse tables
    — the contract check a pipeline runs before publishing a snapshot
    (Deequ / Great Expectations shape): each row is one expectation with
    its violation count and pass flag.

    Checks: completeness (NULL counts), uniqueness (rows − distinct keys),
    value ranges, accepted value sets, a cross-column consistency rule
    (documents.n_chars must equal length(text)), and referential integrity
    (lineitem orders that don't exist).

    Shape at 100 TB: every single-table check is a conditional aggregate —
    ALL of a table's checks share ONE scan (map-side combined to a 1-row
    result; the uniqueness check rides the same pass as a distinct
    aggregate).  The referential check is the only join: a key-only
    left join counting misses, shuffling 8-byte keys — at warehouse scale
    this is the standard orphan scan, broadcastable when the parent's key
    set is small.  All violation counts are exact integers.
    """
    orders = table(spark, sf_dir, "orders")
    documents = table(spark, sf_dir, "documents")
    lineitem = table(spark, sf_dir, "lineitem")

    orders_checks = _check_rows(
        orders,
        "orders",
        {
            "custkey_not_null": F.sum(F.col("o_custkey").isNull().cast("int")),
            "orderkey_unique": F.count(F.lit(1)) - F.countDistinct("o_orderkey"),
            "totalprice_positive": F.sum(
                (~(F.col("o_totalprice") > 0)).cast("int")
            ),
            "orderstatus_accepted": F.sum(
                (
                    F.col("o_orderstatus").isNull()
                    | ~F.col("o_orderstatus").isin("F", "O", "P")
                ).cast("int")
            ),
        },
    )
    doc_checks = _check_rows(
        documents,
        "documents",
        {
            "text_not_null": F.sum(F.col("text").isNull().cast("int")),
            "n_chars_consistent": F.sum(
                (
                    F.col("n_chars").isNull()
                    | (F.col("n_chars") != F.length("text"))
                ).cast("int")
            ),
        },
    )
    # distinct() mirrors the oracle's SELECT DISTINCT: a duplicated
    # o_orderkey (exactly what orderkey_unique detects) must not fan out
    # the probe join and inflate n_rows past the true lineitem count.
    parents = orders.select(F.col("o_orderkey").alias("k")).distinct().withColumn(
        "hit", F.lit(1)
    )
    ref = (
        lineitem.select("l_orderkey")
        .join(parents, F.col("l_orderkey") == F.col("k"), "left")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("hit").isNull().cast("int")).cast("long").alias(
                "n_violations"
            ),
        )
        .select(
            F.lit("lineitem").alias("table_name"),
            F.lit("orderkey_in_orders").alias("check_name"),
            "n_rows",
            "n_violations",
            (F.col("n_violations") == 0).cast("int").alias("passed"),
        )
    )
    return orders_checks.unionByName(doc_checks).unionByName(ref)


# --------------------------------------------------------------------------
# Population Stability Index drift
# --------------------------------------------------------------------------

PSI_SPLIT = "2024-01-16"  # reference window < split ≤ current window


def q_stats_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-type distribution between a
    reference window (ts < PSI_SPLIT) and the current window — the standard
    input-drift alarm a model-serving platform runs on its feature streams
    (PSI < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 action).

    Determinism: with add-one smoothing, every share is a ratio of exact
    integers, so the PSI term (p_c − p_r)·ln(p_c/p_r) decomposes into
    exact-integer pieces: p_c − p_r = (c·R − r·C)/(C·R) exactly, and
    ln(p_c/p_r) = ln c + ln R − ln r − ln C with each ln quantized to
    integer micro-units (the text_unigram_surprisal convention).  The
    per-category contribution numerator (c·R − r·C)·s is exact int64
    (≤ ~1e17 at sf0.1); the only float op is the final division, identical
    text on both engines.

    Shape at 100 TB: ONE conditional-aggregate scan of the stream to
    |event types| rows; the shares, quantized lns, and the PSI total are
    windows over that BOUNDED table (calendar-bounded, not stream-bounded).
    """
    events = table(spark, sf_dir, "events")
    per = events.groupBy("event_type").agg(
        F.sum((F.col("ts") < PSI_SPLIT).cast("int")).alias("n_ref"),
        F.sum((F.col("ts") >= PSI_SPLIT).cast("int")).alias("n_cur"),
    )
    sm = per.select(
        "event_type",
        "n_ref",
        "n_cur",
        (F.col("n_ref") + 1).cast("long").alias("r"),
        (F.col("n_cur") + 1).cast("long").alias("c"),
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tot = sm.withColumn("big_r", F.sum("r").over(w)).withColumn(
        "big_c", F.sum("c").over(w)
    )
    s = _qln(F.col("c")) + _qln(F.col("big_r")) - _qln(F.col("r")) - _qln(
        F.col("big_c")
    )
    num = ((F.col("c") * F.col("big_r")) - (F.col("r") * F.col("big_c"))) * s
    scored = tot.withColumn("num", num)
    denom = F.col("big_c") * F.col("big_r") * F.lit(float(LN_SCALE))
    return scored.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.round(F.col("num") / denom, 6).alias("psi_contrib"),
        F.round(F.sum("num").over(w) / denom, 6).alias("psi_total"),
    )


# --------------------------------------------------------------------------
# RFM segmentation
# --------------------------------------------------------------------------

RFM_TILES = 4
RFM_RANGE_BUCKETS = 32  # per-metric rank parallelism; a dial, not a limit


def _distributed_ntile(
    df: DataFrame,
    n_tiles: int,
    order_cols: list[Column],
    out_name: str,
    sf_dir: str,
    cache_key: str,
) -> DataFrame:
    """Exact NTILE over a TOTAL order with NO single-reducer window — the
    range-partitioned two-phase global rank (the salted construction the
    ``pipeline_token_quota`` prefix sum uses, adapted to ranks: the
    "salt" must be an order-preserving range bucket, since rank — unlike
    a keyed prefix sum — has no order-free decomposition).

    Phase 1: ``repartitionByRange`` on the (total-order) sort key makes
    partition ranges globally ordered; ``row_number`` within each bucket
    runs in parallel across buckets.  The ranked table is session-cached
    so phase 2 and the final join read the SAME materialized bucket
    assignment (range boundaries come from sampling; pinning them makes
    the derived counts provably consistent — the ``session_cache``
    discipline ``graph_pagerank_neardup`` established).

    Phase 2: per-bucket row counts (a ≤``RFM_RANGE_BUCKETS``-row
    aggregate) yield each bucket's global starting offset via a broadcast
    triangular self-join — deliberately NOT a window, so this helper
    contributes zero unpartitioned WindowExec nodes.  A row's 0-indexed
    global rank is then ``offset + local_rank − 1``, and the ANSI NTILE
    rule (remainder tiles to the front: with N rows and T tiles, the
    first N mod T tiles hold ⌊N/T⌋+1 rows) converts rank → tile in pure
    integer arithmetic, bit-identical to both engines' NTILE.

    At 100 TB nothing funnels through one task: the ranks cost one range
    exchange + one keyed window per bucket; the offsets are metadata-sized.
    """

    def build_ranked() -> DataFrame:
        bucketed = df.repartitionByRange(
            RFM_RANGE_BUCKETS, *order_cols
        ).withColumn("_b", F.spark_partition_id())
        return bucketed.withColumn(
            "_lr", F.row_number().over(Window.partitionBy("_b").orderBy(*order_cols))
        )

    ranked = session_cache(build_ranked, sf_dir, cache_key)
    counts = ranked.groupBy("_b").agg(F.max("_lr").cast("long").alias("_cnt"))
    offsets = (
        counts.alias("a")
        .join(
            F.broadcast(counts.alias("b")),
            F.col("b._b") < F.col("a._b"),
            "left",
        )
        .groupBy(F.col("a._b").alias("_b"), F.col("a._cnt").alias("_bcnt"))
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).cast("long").alias("_off"))
        .select("_b", "_off")
    )
    total = counts.agg(F.sum("_cnt").cast("long").alias("_n"))
    tiled = (
        ranked.join(F.broadcast(offsets), "_b")
        .crossJoin(F.broadcast(total))
        .withColumn("_i", (F.col("_off") + F.col("_lr") - 1).cast("long"))
        .withColumn("_q", F.expr(f"_n div {n_tiles}"))
        .withColumn("_rem", (F.col("_n") % n_tiles).cast("long"))
        .withColumn(
            out_name,
            F.when(
                F.col("_i") < F.col("_rem") * (F.col("_q") + 1),
                F.expr("_i div (_q + 1)") + 1,
            )
            .otherwise(F.col("_rem") + F.expr("(_i - _rem * (_q + 1)) div _q") + 1)
            .cast("int"),
        )
    )
    return tiled.drop("_b", "_lr", "_off", "_n", "_i", "_q", "_rem")


def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation: each user scored 1–4 on Recency (days
    since last event, most recent = tile 1), Frequency (event count), and
    Monetary (total value), then rolled up per (r, f, m) segment — the
    behavioral cohort table a growth/curation team reads.

    Determinism: monetary is integer cents (round(value·100) → long, the
    dml_incremental_view money convention) so per-user sums are order-free;
    recency is whole days between dates; each tile is computed over a
    TOTAL order (metric, then user_id) so boundaries cannot depend on
    partition order, and the two-phase construction reproduces the ANSI
    NTILE remainder-to-front rule exactly (the oracle stays plain NTILE).

    Shape at 100 TB: the stream collapses to one row per user in a
    map-side-combined aggregate (the corpus-scale shuffle); each score
    then comes from :func:`_distributed_ntile` — a range-partitioned
    two-phase exact rank with per-metric parallelism
    ``RFM_RANGE_BUCKETS``, NO unpartitioned window anywhere in the plan
    (tests/test_quality.py pins this on the executed plan).  The corpus-
    max timestamp is a 1-row broadcast aggregate, and the three scored
    tables re-join on the unique user_id key.
    """
    # ONE cached per-user page feeds the corpus-max probe and all three
    # ntile builds: Catalyst does not dedupe identical subtrees (the
    # sim_ivf_rebuild lesson), so without the cache each of the three
    # ranked materializations — plus the broadcast corpus_max lineage —
    # would re-run the corpus-scale events scan + groupBy.
    per_user = session_cache(
        lambda: table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        ),
        sf_dir,
        "rfm_per_user",
    )
    corpus_max = per_user.agg(F.max("last_ts").alias("_corpus_max"))
    scored = (
        per_user.crossJoin(F.broadcast(corpus_max))
        .withColumn(
            "recency_days",
            F.datediff(F.to_date("_corpus_max"), F.to_date("last_ts")),
        )
        .drop("_corpus_max", "last_ts")
    )
    r = _distributed_ntile(
        scored.select("user_id", "recency_days"),
        RFM_TILES,
        [F.col("recency_days").asc(), F.col("user_id").asc()],
        "r_score",
        sf_dir,
        "rfm_rank_r",
    )
    f = _distributed_ntile(
        scored.select("user_id", "n_events"),
        RFM_TILES,
        [F.col("n_events").desc(), F.col("user_id").asc()],
        "f_score",
        sf_dir,
        "rfm_rank_f",
    )
    m = _distributed_ntile(
        scored.select("user_id", "cents"),
        RFM_TILES,
        [F.col("cents").desc(), F.col("user_id").asc()],
        "m_score",
        sf_dir,
        "rfm_rank_m",
    )
    tiled = (
        r.select("user_id", "recency_days", "r_score")
        .join(f.select("user_id", "f_score"), "user_id")
        .join(m.select("user_id", "cents", "m_score"), "user_id")
    )
    return tiled.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cents").alias("total_cents"),
        F.round(F.sum("recency_days") / F.count(F.lit(1)), 2).alias(
            "avg_recency_days"
        ),
    )


# --------------------------------------------------------------------------
# Trailing-window feature backfill
# --------------------------------------------------------------------------

TRAIL_1H_US = 3_600_000_000  # 1 hour in microseconds
TRAIL_24H_US = 86_400_000_000


def q_events_trailing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window feature backfill: at every event, the user's event
    count over the trailing 1 hour and 24 hours and trailing-24h spend —
    the point-in-time-correct features a feature store materializes for
    training (computing them AT each historical event is what prevents
    label leakage).  Reported per user as peak values plus totals.

    Determinism: time is integer microseconds, the frames are integer
    RANGE windows (identical peer semantics on duplicate timestamps in
    both engines), counts are integers and spend is integer cents.

    Shape at 100 TB: ONE exchange on user_id; all three RANGE frames share
    the same (user_id, t_us) sort order, so Spark evaluates them in one
    window stage over one sort; the per-user rollup then collapses
    map-side.  No self-join — the naive "events × events within Δt" range
    join is quadratic in hot users; the RANGE frame is the linear
    formulation.
    """
    events = table(spark, sf_dir, "events")
    ev = events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    base = Window.partitionBy("user_id").orderBy("t_us")
    w1 = base.rangeBetween(-(TRAIL_1H_US - 1), 0)
    w24 = base.rangeBetween(-(TRAIL_24H_US - 1), 0)
    feat = ev.select(
        "user_id",
        "cents",
        F.count(F.lit(1)).over(w1).alias("c1h"),
        F.count(F.lit(1)).over(w24).alias("c24h"),
        F.sum("cents").over(w24).alias("v24h"),
    )
    return feat.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("c1h").alias("peak_1h_events"),
        F.max("c24h").alias("peak_24h_events"),
        F.max("v24h").alias("peak_24h_cents"),
        F.sum("cents").alias("total_cents"),
    )


# Integer EMA decay: state <- (state*EMA_KEEP + x*EMA_MIX) div EMA_DEN —
# a fixed-point alpha = 0.3 with floored division on non-negative cents.
EMA_KEEP = 7
EMA_MIX = 3
EMA_DEN = 10


def q_events_ema_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EXPONENTIAL moving average of event value — the decayed
    engagement/spend feature every behavioral model uses, and the shape
    SQL windows cannot express: EMA is RECURSIVE (each state depends on
    the previous state, not on a frame of raw rows), so it is computed
    as an in-row ARRAY FOLD — ``aggregate(rest, first, (acc, x) ->
    (acc·{EMA_KEEP} + x·{EMA_MIX}) div {EMA_DEN})`` over the
    time-ordered cents sequence.  Fixed-point integer decay (alpha =
    {EMA_MIX}/{EMA_DEN}) with floored division on non-negative operands
    makes the recursion bit-identical across engines — float EMA never
    hash-matches because error compounds per step.

    Shape at 100 TB: one exchange on user_id; the per-user sequence
    collects in-row (users are 10–10³ events — the same bound every
    window op here relies on) and the fold is scan-side arithmetic,
    whole-stage-codegen'd, no Python.  The streaming twin of this state
    recursion is ``stream_stateful_profiles``' running profile; this is
    the batch backfill that seeds such state stores.
    """
    events = table(spark, sf_dir, "events")
    ev = events.select(
        "user_id",
        F.struct(
            F.unix_micros(F.col("ts")).alias("t_us"),
            F.col("event_id").alias("event_id"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ).alias("s"),
    )
    seqd = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("s")).alias("seq"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return seqd.select(
        "user_id",
        "n_events",
        F.expr("element_at(seq, -1).cents").alias("last_cents"),
        F.expr(
            f"aggregate(slice(transform(seq, x -> x.cents), 2,"
            f" greatest(size(seq) - 1, 0)), element_at(seq, 1).cents,"
            f" (acc, x) -> (acc * {EMA_KEEP} + x * {EMA_MIX}) div {EMA_DEN})"
        ).alias("ema_cents"),
    )


_EMA_FEATURES_SQL = f"""
    WITH ev AS (
        SELECT user_id, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), seqs AS (
        SELECT user_id,
               list(cents ORDER BY ts, event_id) AS seq,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM ev GROUP BY user_id
    )
    SELECT user_id, n_events,
           seq[-1] AS last_cents,
           list_reduce(seq,
                       (acc, x) -> (acc * {EMA_KEEP} + x * {EMA_MIX})
                                   // {EMA_DEN}) AS ema_cents
    FROM seqs
"""


# Holt fixed-point smoothing weights (alpha = 3/10 level, beta = 2/10
# trend).  Trend can be NEGATIVE — safe here because BOTH engines'
# integer division truncates toward zero (verified: DuckDB -6 // 10 = 0
# and Spark -6 div 10 = 0), so plain div/(//) is engine-identical at any
# sign.  (The repo's non-negative-operands convention predates this
# verification and stays the default elsewhere.)
HOLT_DEN = 10
HOLT_ALPHA = 3
HOLT_BETA = 2


def _holt_floordiv(v: str) -> str:
    return f"(({v}) div {HOLT_DEN})"


def q_events_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT double-exponential forecast of daily event volume per event
    type — the capacity-planning statistic next to the MAD anomaly
    monitor: level + trend smoothing over the observed daily counts and
    the one-step-ahead forecast.  Like ``events_ema_features`` this is a
    RECURSIVE state (two states now: level and trend), inexpressible as
    a SQL window, computed as an in-row array fold — but the state
    struct rides the fold with acc type == element type (seed = first
    element), the shape DuckDB's ``list_reduce`` shares, so both engines
    run the IDENTICAL recursion.

    Exactness: counts are integers; the fixed-point updates
    ``l' = (αx + (10−α)(l+b)) div 10`` and ``b' = (β(l'−l) + (10−β)b)
    div 10`` agree on BOTH engines even when the trend is negative —
    both truncate toward zero (see the division note above
    ``_holt_floordiv``).  Initialization declared: l₀ = first count,
    b₀ = 0; the fold runs over OBSERVED days in order (gaps are not
    filled — the resample operator exists for that).

    Shape at 100 TB: daily counts partial-aggregate map-side to a
    |types|·|days| grid; each type's sequence collects in-row (bounded
    by the calendar) and the fold is scan-side integer arithmetic."""
    events = table(spark, sf_dir, "events")
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seqd = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "cnt"))).alias("s"),
        F.count(F.lit(1)).alias("n_days"),
    )
    lnew = _holt_floordiv(
        f"{HOLT_ALPHA} * x.v + {HOLT_DEN - HOLT_ALPHA} * (acc.l + acc.b)"
    )
    bnew = _holt_floordiv(
        f"{HOLT_BETA} * (({lnew}) - acc.l) + {HOLT_DEN - HOLT_BETA} * acc.b"
    )
    fold = (
        "aggregate(slice(st, 2, greatest(size(st) - 1, 0)),"
        " element_at(st, 1),"
        f" (acc, x) -> named_struct('v', x.v, 'l', {lnew}, 'b', {bnew}))"
    )
    return seqd.select(
        "event_type",
        "n_days",
        F.expr("element_at(s, -1).cnt").alias("last_cnt"),
        F.expr(
            "transform(s, p -> named_struct('v', p.cnt, 'l', p.cnt,"
            " 'b', CAST(0 AS BIGINT)))"
        ).alias("st"),
    ).select(
        "event_type",
        "n_days",
        "last_cnt",
        F.expr(f"({fold}).l").alias("level"),
        F.expr(f"({fold}).b").alias("trend"),
    ).withColumn("forecast_next", F.col("level") + F.col("trend"))


def _holt_oracle_sql() -> str:
    """Recursive-CTE twin of the Spark array fold.  Deliberately NOT
    ``list_reduce`` with a struct accumulator: DuckDB 1.0 evaluates the
    result-struct's fields SEQUENTIALLY against a mutating accumulator —
    by the time the trend field reads ``a.l`` it already holds the NEW
    level (measured: fold b=0 where per-step SQL gives b=-1) — so the
    recursion is unrolled as a step-indexed recursive CTE whose old
    state is referenced explicitly."""
    lnew = (
        f"(({HOLT_ALPHA} * s.xs[st.i + 1]"
        f" + {HOLT_DEN - HOLT_ALPHA} * (st.l + st.b)) // {HOLT_DEN})"
    )
    bnew = (
        f"(({HOLT_BETA} * (({lnew}) - st.l)"
        f" + {HOLT_DEN - HOLT_BETA} * st.b) // {HOLT_DEN})"
    )
    return f"""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), seqs AS (
        SELECT event_type,
               list(cnt ORDER BY day) AS xs,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(arg_max(cnt, day) AS BIGINT) AS last_cnt
        FROM daily GROUP BY event_type
    ), step(event_type, i, l, b) AS (
        SELECT event_type, CAST(1 AS BIGINT), xs[1], CAST(0 AS BIGINT)
        FROM seqs
        UNION ALL
        SELECT st.event_type, st.i + 1, {lnew}, {bnew}
        FROM step st JOIN seqs s USING (event_type)
        WHERE st.i < len(s.xs)
    )
    SELECT s.event_type, s.n_days, s.last_cnt,
           st.l AS level, st.b AS trend, st.l + st.b AS forecast_next
    FROM step st JOIN seqs s USING (event_type)
    WHERE st.i = len(s.xs)
"""


# --------------------------------------------------------------------------
# Zipf slope
# --------------------------------------------------------------------------

ZIPF_TOP = 100  # fit over the top-N words by frequency


def q_text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law slope: the OLS slope of ln(frequency) against ln(rank)
    over the top-ZIPF_TOP corpus words — natural language sits near −1;
    synthetic/boilerplate corpora drift toward 0 (flat) or below −1.5
    (repetitive), making this a one-number corpus-health statistic.

    Determinism: ranks and counts are exact integers; both lns are
    quantized to integer micro-units; every OLS sum (Σx, Σy, Σxy, Σx²) is
    exact int64 (bounded by the FIXED 100-point fit, not the corpus); the
    slope is one float division of two exact int64s.

    Shape at 100 TB: word counts are the map-side-combined aggregate;
    the top-N cut is TakeOrderedAndProject (per-task heaps, no global
    sort); the fit itself runs over 100 rows.
    """
    documents = _documents(spark, sf_dir)
    words = documents.select(
        F.explode(F.split(_normalized(F.col("text")), " ")).alias("word")
    ).filter(F.col("word") != "")
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), "word").limit(ZIPF_TOP)
    ranked = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("n").desc(), "word"))
    )
    pts = ranked.select(
        _qln(F.col("rank")).alias("x"), _qln(F.col("n")).alias("y")
    )
    fit = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return fit.select(
        F.col("k").alias("n_words"),
        F.round(
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            ),
            6,
        ).alias("zipf_slope"),
    )


# --------------------------------------------------------------------------
# N-gram novelty curve
# --------------------------------------------------------------------------


def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-gram shingles whose FIRST corpus occurrence (minimum doc_id over all
    docs containing the shingle) is this document — the marginal-new-
    content measure a curator reads to find where a source stops adding
    information (late docs full of already-seen n-grams are boilerplate
    or near-dups).

    Reuses the dedup family's shingle derivation (word 3-grams, distinct
    per doc, whole-text fallback below 3 words — and its session cache, so
    a run alongside the MinHash queries shares the tokenize+shingle work).

    Shape at 100 TB: shingles shuffle as 8-byte md5-prefix digests, never
    strings (dedup_exact's digest discipline); first-occurrence is a
    map-side-combined MIN per digest; the join back is digest-keyed.
    Exactness: counts are integers, the rate is one float division.
    """
    from simple_query_engine_spark.operators.dedup import _shingles

    g = _shingles(spark, sf_dir).select(
        "doc_id", md5_prefix_long(F.col("shingle"), 15).alias("gh")
    )
    first = g.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(first, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("int")).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 4).alias("novelty_rate"),
        )
    )


QUERIES = {
    "stats_expectations": q_stats_expectations,
    "stats_drift_psi": q_stats_drift_psi,
    "events_rfm_segments": q_events_rfm_segments,
    "events_trailing_features": q_events_trailing_features,
    "events_ema_features": q_events_ema_features,
    "events_forecast_holt": q_events_forecast_holt,
    "text_zipf_slope": q_text_zipf_slope,
    "text_ngram_novelty": q_text_ngram_novelty,
}


ORACLES = {
    "events_ema_features": _EMA_FEATURES_SQL,
    "events_forecast_holt": _holt_oracle_sql(),
    "stats_expectations": """
        WITH o AS (
            SELECT COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS custkey_not_null,
                   COUNT(*) - COUNT(DISTINCT o_orderkey) AS orderkey_unique,
                   CAST(SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END)
                        AS BIGINT) AS totalprice_positive,
                   CAST(SUM(CASE WHEN o_orderstatus IS NULL
                                   OR o_orderstatus NOT IN ('F', 'O', 'P')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS orderstatus_accepted
            FROM orders
        ), d AS (
            SELECT COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS text_not_null,
                   CAST(SUM(CASE WHEN n_chars IS NULL
                                   OR n_chars <> length(text)
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_chars_consistent
            FROM documents
        ), r AS (
            SELECT COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violations
            FROM lineitem l
            LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
              ON l.l_orderkey = o.o_orderkey
        ), checks AS (
            SELECT 'orders' AS table_name, 'custkey_not_null' AS check_name,
                   n_rows, custkey_not_null AS n_violations FROM o
            UNION ALL
            SELECT 'orders', 'orderkey_unique', n_rows, orderkey_unique FROM o
            UNION ALL
            SELECT 'orders', 'totalprice_positive', n_rows,
                   totalprice_positive FROM o
            UNION ALL
            SELECT 'orders', 'orderstatus_accepted', n_rows,
                   orderstatus_accepted FROM o
            UNION ALL
            SELECT 'documents', 'text_not_null', n_rows, text_not_null FROM d
            UNION ALL
            SELECT 'documents', 'n_chars_consistent', n_rows,
                   n_chars_consistent FROM d
            UNION ALL
            SELECT 'lineitem', 'orderkey_in_orders', n_rows, n_violations FROM r
        )
        SELECT table_name, check_name, n_rows, n_violations,
               CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT)
                   AS passed
        FROM checks
    """,
    "stats_drift_psi": f"""
        WITH per AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN ts < TIMESTAMP '{PSI_SPLIT}'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                   CAST(SUM(CASE WHEN ts >= TIMESTAMP '{PSI_SPLIT}'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
            FROM events GROUP BY event_type
        ), sm AS (
            SELECT event_type, n_ref, n_cur,
                   n_ref + 1 AS r, n_cur + 1 AS c FROM per
        ), tot AS (
            SELECT *,
                   CAST(SUM(r) OVER () AS BIGINT) AS big_r,
                   CAST(SUM(c) OVER () AS BIGINT) AS big_c
            FROM sm
        ), scored AS (
            SELECT *,
                   (c * big_r - r * big_c)
                   * ({_qln_sql('c')} + {_qln_sql('big_r')}
                      - {_qln_sql('r')} - {_qln_sql('big_c')}) AS num
            FROM tot
        )
        SELECT event_type, n_ref, n_cur,
               ROUND(num / (big_c * big_r * CAST({LN_SCALE} AS DOUBLE)), 6)
                   AS psi_contrib,
               ROUND(CAST(SUM(num) OVER () AS BIGINT)
                     / (big_c * big_r * CAST({LN_SCALE} AS DOUBLE)), 6)
                   AS psi_total
        FROM scored
    """,
    "events_rfm_segments": f"""
        WITH per_user AS (
            SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_events,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY user_id
        ), scored AS (
            SELECT *,
                   date_diff('day', CAST(last_ts AS DATE),
                             CAST(MAX(last_ts) OVER () AS DATE))
                       AS recency_days
            FROM per_user
        ), tiled AS (
            SELECT recency_days, cents,
                   NTILE({RFM_TILES}) OVER (ORDER BY recency_days ASC, user_id)
                       AS r_score,
                   NTILE({RFM_TILES}) OVER (ORDER BY n_events DESC, user_id)
                       AS f_score,
                   NTILE({RFM_TILES}) OVER (ORDER BY cents DESC, user_id)
                       AS m_score
            FROM scored
        )
        SELECT r_score, f_score, m_score,
               COUNT(*) AS n_users,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               ROUND(SUM(recency_days) / CAST(COUNT(*) AS DOUBLE), 2)
                   AS avg_recency_days
        FROM tiled GROUP BY r_score, f_score, m_score
    """,
    "events_trailing_features": f"""
        WITH ev AS (
            SELECT user_id, epoch_us(ts) AS t_us,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        ), feat AS (
            SELECT user_id, cents,
                   COUNT(*) OVER (PARTITION BY user_id ORDER BY t_us
                                  RANGE BETWEEN {TRAIL_1H_US - 1} PRECEDING
                                  AND CURRENT ROW) AS c1h,
                   COUNT(*) OVER (PARTITION BY user_id ORDER BY t_us
                                  RANGE BETWEEN {TRAIL_24H_US - 1} PRECEDING
                                  AND CURRENT ROW) AS c24h,
                   CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY t_us
                                  RANGE BETWEEN {TRAIL_24H_US - 1} PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS v24h
            FROM ev
        )
        SELECT user_id, COUNT(*) AS n_events,
               MAX(c1h) AS peak_1h_events,
               MAX(c24h) AS peak_24h_events,
               MAX(v24h) AS peak_24h_cents,
               CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM feat GROUP BY user_id
    """,
    "text_zipf_slope": f"""
        WITH words AS (
            SELECT unnest(string_split({_NORM}, ' ')) AS word FROM documents
        ), counts AS (
            SELECT word, COUNT(*) AS n FROM words
            WHERE word <> '' GROUP BY word
        ), top AS (
            SELECT word, n FROM counts ORDER BY n DESC, word LIMIT {ZIPF_TOP}
        ), ranked AS (
            SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank
            FROM top
        ), pts AS (
            SELECT {_qln_sql('rank')} AS x, {_qln_sql('n')} AS y FROM ranked
        ), fit AS (
            SELECT COUNT(*) AS k,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM pts
        )
        SELECT k AS n_words,
               ROUND((k * sxy - sx * sy)
                     / CAST(k * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
        FROM fit
    """,
    "text_ngram_novelty": f"""
        WITH docs AS (
            SELECT doc_id, string_split({_NORM}, ' ') w FROM documents
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(w) >= 3
                     THEN list_transform(range(1, len(w)-1),
                                         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
                     ELSE [array_to_string(w, ' ')] END)) AS shingle
            FROM docs
        ), g AS (
            SELECT doc_id, {md5_prefix_long_sql("shingle", 15)} AS gh FROM sh
        ), first AS (
            SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY gh
        )
        SELECT g.doc_id,
               COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               ROUND(SUM(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 4) AS novelty_rate
        FROM g JOIN first f USING (gh)
        GROUP BY g.doc_id
    """,
}
