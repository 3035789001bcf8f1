"""Second-wave curation / observability operators (round 7).

Five operators a production training-data pipeline runs next to the
curation core in ``pipeline.py``:

- ``sketch_countmin_words``      — Count-Min sketch frequency estimation
  (the fixed-memory streaming counterpart of ``text_word_freq``).
- ``pipeline_shuffle_shards``    — deterministic training-shard
  assignment + balance report (the "global shuffle" step before packing).
- ``pipeline_token_quota``       — per-source token-budget enforcement
  (the *application* of the ``pipeline_domain_mix`` weights).
- ``pipeline_pii_redaction``     — PII detection / redaction accounting
  over planted emails+phones (the corpus is synthetic word-soup, so the
  PII is planted deterministically from doc_id, same convention as
  ``dedup_planted_minhash``).
- ``events_anomaly_mad``         — median/MAD robust anomaly detection on
  daily event volumes (pipeline-health observability).

Everything is built-in-function JVM-side code (no Python in any plan) and
every numeric path is either exact integers or a single float division /
comparison of exactly-representable values, so all five are hash-exact
against the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from simple_query_engine_spark.functions.caching import session_cache
from simple_query_engine_spark.functions.hashing import (
    md5_prefix_long,
    md5_prefix_long_sql,
)
from simple_query_engine_spark.operators.text import _NORM, _documents, _normalized
from simple_query_engine_spark.sources.catalog import table

# --------------------------------------------------------------------------
# Count-Min sketch
# --------------------------------------------------------------------------

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 256  # buckets per row; 2^20 % 256 == 0 so the md5 slice mods uniformly
CMS_TOP_K = 20


def _cms_pos(word, d: int):
    """Bucket of ``word`` in sketch row ``d``: 5 hex digits of
    md5('<d>:<word>') mod CMS_WIDTH — the engine-portable md5 hash family
    (``functions/hashing.py``; 2^20 % CMS_WIDTH == 0 so the slice mods
    uniformly), one digest per (row, word)."""
    return F.pmod(
        md5_prefix_long(F.concat(F.lit(f"{d}:"), word), 5), F.lit(CMS_WIDTH)
    )


def q_sketch_countmin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch word-frequency estimation, validated against the
    exact counts: top-K words with exact count, CMS estimate, and the
    overcount (est − exact ≥ 0 always; never an undercount).

    Why this operator at 100 TB: exact per-token counting shuffles one
    row per DISTINCT token (vocabulary can be billions of strings); the
    sketch aggregates into a FIXED d×w = 4×256 table whatever the corpus
    or vocabulary size — the streaming-memory answer to "how often does
    this token appear".  Shape: the cell aggregate is map-side combined
    (each task emits ≤ d·w cells), the estimate probe joins the top-K
    words against the BROADCAST ≤ d·w-row sketch, and the top-K itself is
    TakeOrderedAndProject (per-task heaps, no global sort).  Exact counts
    ride along here only to expose the estimation error; a pure
    production run materializes the d×w table alone.
    """
    documents = _documents(spark, sf_dir)
    words = documents.select(
        F.explode(F.split(_normalized(F.col("text")), " ")).alias("word")
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_n"))

    # ONE cell expression for both the build and the probe: the estimate
    # floor (est_n >= exact_n) holds only if a word probes exactly the
    # cells it hashed into — two hand-maintained copies could drift
    # silently (the estimate would go wrong, not loudly fail).
    def cms_cells() -> "F.Column":
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_pos(F.col("word"), d).alias("pos"),
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("cell")

    cells = (
        counts.select("exact_n", cms_cells())
        .select("exact_n", "cell.d", "cell.pos")
        .groupBy("d", "pos")
        .agg(F.sum("exact_n").alias("cell_n"))
    )

    top = counts.orderBy(F.col("exact_n").desc(), "word").limit(CMS_TOP_K)
    probes = top.select("word", "exact_n", cms_cells()).select(
        "word", "exact_n", "cell.d", "cell.pos"
    )
    return (
        probes.join(F.broadcast(cells), ["d", "pos"])
        .groupBy("word", "exact_n")
        .agg(F.min("cell_n").alias("est_n"))
        .select(
            "word",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic shard assignment
# --------------------------------------------------------------------------

SHUFFLE_SHARDS = 16


def q_pipeline_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global-shuffle shard assignment + balance report: each
    document lands in shard md5(doc_id) mod SHUFFLE_SHARDS, ordered within
    the shard by the same hash — the "shuffle the corpus, then write N
    training shards" step, made a pure function of doc_id so retries,
    engines, and cluster geometries produce byte-identical shards (the
    property a resumable 100 TB shuffle needs; RNG-state shuffles don't
    have it).

    The report is the balance check run before committing the layout:
    docs / token mass / hash range per shard.  Shape: one map-side-
    combined aggregate, |shards| output rows, no window, no join.
    """
    documents = _documents(spark, sf_dir)
    docs = documents.select(
        F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens"),
        md5_prefix_long(F.col("doc_id").cast("string"), 8).alias("hash_key"),
    ).withColumn("shard", F.pmod(F.col("hash_key"), F.lit(SHUFFLE_SHARDS)))
    return docs.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.min("hash_key").alias("min_hash"),
        F.max("hash_key").alias("max_hash"),
    )


# --------------------------------------------------------------------------
# Per-source token-budget quota
# --------------------------------------------------------------------------

QUOTA_TOKENS = 5_000  # per-source token budget
QUOTA_SALTS = 8  # phase-1 fan-out inside each source's prefix sum


def q_pipeline_token_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget enforcement: keep each source's documents in
    deterministic hash order until the source's cumulative token budget is
    reached (start-offset rule, as ``pipeline_pack_sequences``: a doc is
    kept iff its tokens_before < QUOTA_TOKENS, so the budget may overshoot
    by at most one document).  This is the *enforcement* half of
    ``pipeline_domain_mix``: that operator computes the per-source weights,
    this one actually caps a source's contribution.

    Scale shape — hierarchical prefix sum: a single window partitioned by
    source funnels each source's whole slice through one reducer task (a
    boilerplate-heavy domain can be 10+ TB on its own).  Instead the
    global per-source order is defined as (salt, hash, doc_id) with
    salt = doc_id mod QUOTA_SALTS, and the prefix sum decomposes exactly:
    phase 1 computes within-(source, salt) running sums in parallel;
    phase 2 computes each salt's starting offset from the |sources|×|salts|
    per-salt totals (a window over that TINY aggregate, broadcast back).
    tokens_before = salt_offset + within_salt_running − n_tokens, identical
    to the one-window result — which is exactly what the one-window SQL
    oracle (and ``tests/test_curation.py``'s one-window Spark twin)
    verifies.  Per-source parallelism is |salts|, a dial.
    """
    documents = table(spark, sf_dir, "documents")
    docs = documents.select(
        "doc_id",
        "source",
        F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens"),
        md5_prefix_long(F.col("doc_id").cast("string"), 8).alias("hash_key"),
        F.pmod(F.col("doc_id"), F.lit(QUOTA_SALTS)).alias("salt"),
    )
    within = (
        Window.partitionBy("source", "salt")
        .orderBy("hash_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    phase1 = docs.withColumn("running", F.sum("n_tokens").over(within))
    salt_totals = docs.groupBy("source", "salt").agg(
        F.sum("n_tokens").alias("salt_tokens")
    )
    offsets = salt_totals.select(
        "source",
        "salt",
        (
            F.sum("salt_tokens")
            .over(
                Window.partitionBy("source")
                .orderBy("salt")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("salt_tokens")
        ).alias("salt_offset"),
    )
    kept = (
        phase1.join(F.broadcast(offsets), ["source", "salt"])
        .withColumn(
            "tokens_before", F.col("salt_offset") + F.col("running") - F.col("n_tokens")
        )
        .filter(F.col("tokens_before") < QUOTA_TOKENS)
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split
# --------------------------------------------------------------------------

SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 5  # test gets the remainder


def split_expr(doc_id_col: "F.Column") -> "F.Column":
    """The canonical train/val/test split stamp: md5(doc_id) mod 100
    bucket → train < 90 ≤ val < 95 ≤ test.  SINGLE-SOURCED here because
    ``multimodal_clip_pairs``' leak-free guarantee (a pair never crosses
    its document's split) depends on the pair manifest and the document
    split computing byte-identical assignments — hand-copied variants
    could silently desynchronize on a hash-width or bucket-rule edit."""
    bucket = F.pmod(md5_prefix_long(doc_id_col.cast("string"), 8), F.lit(100))
    return (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )


def split_sql(doc_id_sql: str = "doc_id") -> str:
    """DuckDB twin of :func:`split_expr`, SINGLE-SOURCED for the same
    reason: the oracles of ``pipeline_split_assign``,
    ``multimodal_clip_pairs``, and ``stream_clip_ingest`` must stamp
    byte-identical splits, and until r14 each hand-copied the CASE (two
    of them with the 90/95 bucket bounds as bare literals that a
    SPLIT_*_PCT edit would have silently missed).  The hash is
    nonnegative (8 hex digits < 2^63), so ``%`` matches Spark's pmod."""
    bucket = f"{md5_prefix_long_sql(f'CAST({doc_id_sql} AS VARCHAR)', 8)} % 100"
    return (
        f"CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train' "
        f"WHEN {bucket} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val' "
        f"ELSE 'test' END"
    )


def q_pipeline_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment + the per-split report
    a dataset release ships: each document lands in the split its
    md5(doc_id) mod 100 bucket selects (train < 90 ≤ val < 95 ≤ test), so
    membership is a pure function of doc_id — stable under retries,
    re-shuffles, corpus growth (old docs never switch splits when new docs
    arrive), and engines.  The leakage-free property: a doc can never be
    in two splits by construction, vs. rand()-based splits which reassign
    on every recomputation.

    Shape at 100 TB: one map-side-combined aggregate to 3 rows; the token
    shares come from a window over those 3 rows (the
    ``pipeline_domain_mix`` single-scan pattern).
    """
    documents = _documents(spark, sf_dir)
    split = split_expr(F.col("doc_id"))
    per_split = (
        documents.select(
            split.alias("split"),
            F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("split_tokens"),
        )
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return per_split.select(
        "split",
        "n_docs",
        "split_tokens",
        F.round(
            F.col("split_tokens") / F.sum("split_tokens").over(w), 4
        ).alias("token_share"),
    )


# --------------------------------------------------------------------------
# PII detection / redaction accounting
# --------------------------------------------------------------------------

# Patterns stay in the regex subset Java and RE2 interpret identically:
# character classes, +, *, {n} — no backslash escapes, no lookaround, no
# word boundaries.  The email pattern must consume DOTTED local parts and
# MULTI-LABEL domains in one match: a single-dot pattern like
# '[a-z0-9]+@[a-z0-9]+[.][a-z]+' redacts 'john.doe@mail.example.com' to
# 'john.[EMAIL].com' — PII fragments survive in the "scrubbed" output.
EMAIL_RE = "[a-z0-9][a-z0-9.]*@[a-z0-9.]+[a-z]"
PHONE_RE = "555-[0-9]{4}"
PII_EMAIL_MOD = 7  # doc_id % 7 == 0 → an email is planted
PII_PHONE_MOD = 11  # doc_id % 11 == 0 → a phone number is planted


def _pii_text():
    """The corpus text with deterministically planted PII (the testdata is
    synthetic word-soup with no real PII): docs with doc_id divisible by
    PII_EMAIL_MOD gain an email, by PII_PHONE_MOD a phone number — the
    planted-pattern convention of ``dedup_planted_minhash``, so both
    engines scan byte-identical inputs and recall is checkable."""
    email = F.when(
        F.col("doc_id") % PII_EMAIL_MOD == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com now"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % PII_PHONE_MOD == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 10_000).cast("string"), 4, "0"),
            F.lit(" today"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone)


def q_pipeline_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub accounting: per document, how many emails / phone numbers
    were found, and a fingerprint of the REDACTED text proving both engines
    produced the identical scrubbed output (the fingerprint is what a
    production pipeline writes to its audit log next to the redacted copy).

    Shape at 100 TB: a pure per-row map — regexp count + replace inside
    whole-stage codegen, no shuffle at all; scales with scan splits.
    """
    documents = _documents(spark, sf_dir)
    pii = _pii_text()
    redacted = F.regexp_replace(
        F.regexp_replace(pii, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all(pii, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(pii, F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
        F.substring(F.md5(redacted), 1, 16).alias("redacted_fp"),
    )


# The planted-PII text as a DuckDB SQL expression — the oracle-side twin
# of the ``_pii_text`` Column (concat/CASE/lpad/% behave identically).
_PII_TEXT_SQL = (
    "concat(text, "
    f"CASE WHEN doc_id % {PII_EMAIL_MOD} = 0 THEN "
    "concat(' contact user', CAST(doc_id AS VARCHAR), '@mail.example.com now') "
    "ELSE '' END, "
    f"CASE WHEN doc_id % {PII_PHONE_MOD} = 0 THEN "
    f"concat(' call 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' today') "
    "ELSE '' END)"
)


# --------------------------------------------------------------------------
# Robust anomaly detection (median / MAD)
# --------------------------------------------------------------------------

MAD_K = 3.0  # flag days deviating more than 3 MADs from the median


def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD anomaly detection on daily event volumes, per event type:
    a day is anomalous when |count − median| > 3·MAD (the robust z-score a
    pipeline-health monitor uses — mean/stddev would let the anomaly
    inflate its own threshold).

    Exactness: daily counts are integers; the exact median of integers is
    k or k+0.5 (both binary-exact doubles), deviations are differences of
    exact values, and the MAD is a median of those — so the 3·MAD
    comparison is deterministic across engines, no tolerance needed.

    Shape at 100 TB: the corpus-scale work is ONE map-side-combined
    count to |types|×|days| rows — and it must run ONCE: the natural
    "aggregate med, join back, aggregate mad, join back" phrasing makes
    Catalyst re-expand the daily rollup under every branch (measured: 8
    parquet scans of the event stream, zero exchange reuse — the
    ``pipeline_domain_mix`` lesson again).  Instead the medians are
    WINDOW aggregates over the daily rollup (partitioned by type,
    whole-partition frame): one scan, one corpus-scale shuffle, and the
    windows serialize only per-type day counts (bounded by the calendar,
    not the stream).  Exact medians are affordable for the same reason —
    the percentile runs over bounded cardinality.
    """
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    by_type = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dev = daily.withColumn(
        "med", F.percentile("n_events", F.lit(0.5)).over(by_type)
    ).withColumn("dev", F.abs(F.col("n_events") - F.col("med")))
    flagged = dev.withColumn(
        "mad", F.percentile("dev", F.lit(0.5)).over(by_type)
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.max("med"), 1).alias("med_daily"),
        F.round(F.max("mad"), 1).alias("mad_daily"),
        F.sum((F.col("dev") > MAD_K * F.col("mad")).cast("int")).alias("n_anomalies"),
    )


def q_stats_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE duplication matrix: for every source pair, how many
    byte-identical documents they share — the provenance diagnostic that
    tells a curator WHICH feeds copy from which (mirror detection, feed
    syndication, scraper overlap) and therefore which source to drop
    wholesale instead of deduplicating document-by-document.  Companion
    to ``stats_corpus_report``'s scalar dup rate — this is the dup rate's
    STRUCTURE.

    Shape at 100 TB: documents collapse to distinct (digest, source)
    pairs map-side (16-byte digest — body bytes never shuffle, the
    ``dedup_exact`` discipline); the pair join is keyed on the digest
    with fan-out bounded by C(|sources|, 2) per digest (sources per
    digest ≤ |sources|, a constant); the matrix is ≤ C(|sources|, 2)
    rows.  Exact integer counts throughout.

    Corpus honesty: the synthetic corpus carries exact duplicates only
    at sf0.1 (8 cross-source groups; none below), so the oracle row is
    empty-equals-empty at smaller SFs; mirror DETECTION is pinned on a
    planted fixture in tests/test_curation.py."""
    d = (
        table(spark, sf_dir, "documents")
        .select("source", F.md5(F.col("text")).alias("digest"))
        .distinct()
    )
    a = d.select(F.col("digest"), F.col("source").alias("source_a"))
    b = d.select(F.col("digest"), F.col("source").alias("source_b"))
    return (
        a.join(b, "digest")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_digests"))
    )


_SOURCE_OVERLAP_SQL = """
    WITH d AS (
        SELECT DISTINCT source, md5(text) AS digest FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_digests
    FROM d a JOIN d b ON a.digest = b.digest AND a.source < b.source
    GROUP BY 1, 2
"""


def q_stats_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI coefficient of token mass across sources — the concentration
    diagnostic a mixture curator reads next to ``pipeline_domain_mix``:
    Gini ≈ 0 means sources contribute evenly, high Gini means a few
    feeds dominate the corpus (and a naive uniform sample is really a
    sample of those feeds).  Computed from the sorted-source identity
    ``G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)`` (xᵢ ascending, i = 1..n) in
    exact integer arithmetic to ppm — the numerator and denominator are
    exact BIGINTs, the single division is integer div (non-negative:
    the ascending-rank numerator is ≥ 0 by the rearrangement
    inequality).

    Shape: one map-side-combined rollup to |sources| rows; the rank and
    the sums window over those rows only."""
    per_source = (
        _documents(spark, sf_dir)
        .select(
            "source",
            F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens"),
        )
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("mass"))
    )
    w = Window.orderBy("mass", "source")
    ranked = per_source.select(
        "mass", F.row_number().over(w).cast("long").alias("i")
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("mass").alias("total_tokens"),
        F.expr(
            "(2 * sum(i * mass) - (count(1) + 1) * sum(mass)) * 1000000"
            " div (count(1) * sum(mass))"
        ).alias("gini_ppm"),
    )


_TOKEN_GINI_SQL = f"""
    WITH per_source AS (
        SELECT source,
               CAST(SUM(len(string_split({_NORM}, ' '))) AS BIGINT) AS mass
        FROM documents GROUP BY source
    ), ranked AS (
        SELECT mass,
               CAST(ROW_NUMBER() OVER (ORDER BY mass, source) AS BIGINT) AS i
        FROM per_source
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(mass) AS BIGINT) AS total_tokens,
           (2 * CAST(SUM(i * mass) AS BIGINT)
            - (COUNT(*) + 1) * CAST(SUM(mass) AS BIGINT)) * 1000000
               // (COUNT(*) * CAST(SUM(mass) AS BIGINT)) AS gini_ppm
    FROM ranked
"""


K_ANON_K = 5  # groups smaller than this are re-identification risks
K_ANON_LEN_BUCKET = 200  # n_chars quantization for the quasi-identifier


def q_stats_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit over the release quasi-identifiers — the
    governance check run next to ``pipeline_pii_redaction`` before a
    dataset ships: treating (source, lang, length-bucket) as the
    quasi-identifier tuple (the columns a re-identification attacker can
    match against external knowledge), every equivalence class smaller
    than k = {K_ANON_K} is a risk.  The report is one row per class
    SIZE: how many classes and how many documents sit at each size, with
    the at-risk flag — the histogram a privacy reviewer reads to decide
    whether to generalize (widen buckets) or suppress (drop the tail).

    Shape at 100 TB: one map-side-combined aggregate to the class table
    (≤ |sources|·|langs|·|buckets| rows), then a tiny size-histogram
    rollup.  Exact integer counts throughout."""
    classes = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            "lang",
            F.expr(f"n_chars div {K_ANON_LEN_BUCKET}").alias("len_bucket"),
        )
        .groupBy("source", "lang", "len_bucket")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    return (
        classes.groupBy("class_size")
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            "class_size",
            "n_classes",
            (F.col("class_size") * F.col("n_classes")).alias("n_docs"),
            (F.col("class_size") < K_ANON_K).cast("int").alias("at_risk"),
        )
    )


_K_ANONYMITY_SQL = f"""
    WITH classes AS (
        SELECT source, lang, n_chars // {K_ANON_LEN_BUCKET} AS len_bucket,
               CAST(COUNT(*) AS BIGINT) AS class_size
        FROM documents GROUP BY 1, 2, 3
    )
    SELECT class_size, CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(class_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST(class_size < {K_ANON_K} AS INT) AS at_risk
    FROM classes GROUP BY class_size
"""


def q_stats_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card corpus report: per (source, lang) doc counts, token
    mass, EXACT p50/p90 token-length quantiles, and the exact-duplicate
    rate — the datasheet table a training-data release ships next to the
    corpus (the corpus-level companion of ``stats_column_profile``'s
    per-column view).

    The interesting part is EXACT percentiles that survive 100 TB:
    ``percentile_disc`` collects every group's values into one aggregation
    buffer — corpus-sized per (source, lang) group, an OOM at scale.
    Token length, though, has a BOUNDED value domain (docs are at most a
    few thousand tokens), so the report aggregates to a
    (source, lang, n_tokens) HISTOGRAM first — map-side combine collapses
    each task to ≤ groups × distinct-lengths rows — and derives the
    discrete quantiles from cumulative counts over that bounded table in
    pure integer math (first length whose cumulative count reaches ⌈p·n⌉,
    e.g. ``cum·10 >= tot·9`` for p90 — no float anywhere).  Equivalence with
    Spark's own ``percentile_disc`` is pinned in tests/test_curation.py.

    The dup flag costs the report's one corpus-scale shuffle beyond the
    scan: a count window over md5(text) — 16-byte digests plus the tiny
    report columns, never document bodies (``dedup_exact``'s shuffle
    discipline).  Exactness: counts and cumulative sums are integers; the
    single dup-rate division is one float op on two exact longs.
    """
    per_doc = table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens"),
        F.md5(F.col("text")).alias("text_hash"),
    )
    flagged = per_doc.withColumn(
        "is_dup",
        (F.count(F.lit(1)).over(Window.partitionBy("text_hash")) > 1).cast("int"),
    )
    hist = flagged.groupBy("source", "lang", "n_tokens").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("is_dup").alias("dup_cnt"),
    )
    grp = Window.partitionBy("source", "lang")
    marked = hist.select(
        "source",
        "lang",
        "n_tokens",
        "cnt",
        "dup_cnt",
        F.sum("cnt")
        .over(
            grp.orderBy("n_tokens").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("cnt").over(grp).alias("tot"),
    )
    return marked.groupBy("source", "lang").agg(
        F.sum("cnt").alias("n_docs"),
        F.sum(F.col("n_tokens") * F.col("cnt")).alias("total_tokens"),
        F.min(F.when(F.col("cum") * 2 >= F.col("tot"), F.col("n_tokens"))).alias(
            "p50_tokens"
        ),
        F.min(
            F.when(F.col("cum") * 10 >= F.col("tot") * 9, F.col("n_tokens"))
        ).alias("p90_tokens"),
        F.sum("dup_cnt").alias("n_exact_dup_docs"),
        F.round(F.sum("dup_cnt") / F.sum("cnt"), 6).alias("dup_rate"),
    )


KMV_K = 64  # k-minimum-values sketch size
KMV_HEX = 15  # md5 hex-prefix width (60 bits, collision-free here)
KMV_EPOCH = "2024-01-01"
KMV_TYPE_A, KMV_TYPE_B = "click", "purchase"


def _kmv_elements(spark: SparkSession, sf_dir: str, hex_width: int) -> DataFrame:
    """Distinct (event_type, h) elements of the two KMV event types, ``h``
    an md5 prefix of ``hex_width`` hex digits over (user_id, day)."""
    events = table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit(KMV_EPOCH).cast("date"))
    return (
        events.filter(F.col("event_type").isin(KMV_TYPE_A, KMV_TYPE_B))
        .select(
            "event_type",
            md5_prefix_long(
                F.concat_ws(":", F.col("user_id"), day), hex_width
            ).alias("h"),
        )
        .distinct()
    )


def q_sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (theta-style) set-intersection sketch — audience overlap
    between two event types over (user, activity-day) elements: each
    side keeps only its K smallest element hashes; the intersection is
    estimated from the K smallest of the sketch UNION as
    |U ∩ A ∩ B| / |U| — the Theta-sketch intersection rule every
    cross-dataset audience/dedup-overlap system ships (two datasets
    never co-resident: each side computes a K-value sketch
    independently, only the sketches meet).

    Everything is deterministic: the md5 hash family fixes which K
    elements survive, so the ESTIMATE itself — not just the exact audit
    columns computed alongside it — is bit-identical cross-engine, and
    estimate error vs the exact Jaccard is visible in the output (the
    same estimate-vs-exact accounting discipline as
    ``dedup_lsh_quality``).  Integer micro-units via ``div``; the k-min
    sets plan as TakeOrderedAndProject (distributed top-k, no global
    sort); the exact side is the small-scale audit — at production
    scale only the sketch path runs.
    """
    # ONE cached element page feeds all five 1-row branches below:
    # Catalyst does not dedupe identical subtrees, so uncached each
    # branch (and sketch_overlap's sketch lineages twice over) would
    # re-run the corpus-scale events scan + distinct shuffle.
    elems = session_cache(
        lambda: _kmv_elements(spark, sf_dir, KMV_HEX), sf_dir, "kmv_overlap_elems"
    )
    full_a = elems.filter(F.col("event_type") == KMV_TYPE_A).select("h")
    full_b = elems.filter(F.col("event_type") == KMV_TYPE_B).select("h")
    sketch_a = full_a.orderBy("h").limit(KMV_K)
    sketch_b = full_b.orderBy("h").limit(KMV_K)
    union_kmin = sketch_a.unionAll(sketch_b).distinct().orderBy("h").limit(KMV_K)
    sketch_overlap = (
        union_kmin.join(sketch_a, "h", "left_semi")
        .join(sketch_b, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("sketch_overlap"))
    )
    k_used = union_kmin.agg(F.count(F.lit(1)).alias("k_used"))
    n_a = full_a.agg(F.count(F.lit(1)).alias("n_a"))
    n_b = full_b.agg(F.count(F.lit(1)).alias("n_b"))
    exact_inter = full_a.join(full_b, "h", "left_semi").agg(
        F.count(F.lit(1)).alias("exact_inter")
    )
    return (
        n_a.crossJoin(n_b)
        .crossJoin(exact_inter)
        .crossJoin(k_used)
        .crossJoin(sketch_overlap)
        .select(
            "n_a",
            "n_b",
            "exact_inter",
            "k_used",
            "sketch_overlap",
            F.expr("sketch_overlap * 1000000 div k_used").alias(
                "jaccard_est_micro"
            ),
            F.expr(
                "exact_inter * 1000000 div (n_a + n_b - exact_inter)"
            ).alias("jaccard_exact_micro"),
        )
    )


# Union sketch uses a NARROWER 48-bit hash than the overlap sketch: the
# estimator's (k-1)*M product must fit int64 (63 * 2^60 overflows; 63 *
# 2^48 = 1.8e16 does not), and 48 bits keeps collisions negligible to
# ~2^24 elements.
KMV_UNION_HEX = 12
KMV_HASH_SPACE = 16 ** KMV_UNION_HEX


def q_sketch_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV UNION-cardinality sketch — the merge half of the theta-sketch
    pair (``sketch_kmv_overlap`` is the intersection): each side keeps
    its K smallest element hashes, the sketches MERGE by taking the K
    smallest of their union, and |A ∪ B| is estimated by the classic
    KMV estimator ``(k−1)·M div h₍k₎`` (M = the 60-bit hash space,
    h₍k₎ = the largest surviving hash).  Mergeability is the whole
    point: union cardinality across datasets that never co-reside costs
    K values per side, not a shuffle of either — the sketch a federated
    dedup/audience system actually exchanges.  When the merged sketch
    is not full (tiny inputs), it IS the union and the exact count is
    returned — the standard small-set rule, declared.

    Determinism: the md5 hash family fixes the surviving values, so the
    ESTIMATE is bit-identical cross-engine; estimate error vs the exact
    union rides alongside (the ``dedup_lsh_quality`` accounting
    discipline).  Integer arithmetic throughout — this sketch uses a
    NARROWER 48-bit hash than the overlap sketch precisely so the
    estimator's (k−1)·M product fits int64 (63·2⁶⁰ overflows, 63·2⁴⁸
    doesn't; 48 bits keeps collisions negligible to ~2²⁴ elements —
    declared trade)."""
    # Same subtree-dedup discipline as sketch_kmv_overlap: one cached
    # element page instead of a fresh scan per branch.
    elems = session_cache(
        lambda: _kmv_elements(spark, sf_dir, KMV_UNION_HEX),
        sf_dir,
        "kmv_union_elems",
    )
    full_a = elems.filter(F.col("event_type") == KMV_TYPE_A).select("h")
    full_b = elems.filter(F.col("event_type") == KMV_TYPE_B).select("h")
    sketch_a = full_a.orderBy("h").limit(KMV_K)
    sketch_b = full_b.orderBy("h").limit(KMV_K)
    merged = sketch_a.unionAll(sketch_b).distinct().orderBy("h").limit(KMV_K)
    mstats = merged.agg(
        F.count(F.lit(1)).alias("k_used"), F.max("h").alias("theta_hash")
    )
    exact_union = (
        full_a.unionAll(full_b).distinct().agg(F.count(F.lit(1)).alias("exact_union"))
    )
    return (
        mstats.crossJoin(exact_union)
        .select(
            "k_used",
            "theta_hash",
            "exact_union",
            F.expr(
                f"CASE WHEN k_used < {KMV_K} THEN k_used"
                f" ELSE (k_used - 1) * {KMV_HASH_SPACE} div theta_hash END"
            ).alias("union_est"),
        )
        .withColumn(
            "err_ppm",
            F.expr(
                "abs(union_est - exact_union) * 1000000 div exact_union"
            ),
        )
    )


_KMV_UNION_SQL = f"""
    WITH elems AS (
        SELECT DISTINCT event_type,
               {md5_prefix_long_sql(
                   "concat_ws(':', user_id, "
                   f"datediff('day', DATE '{KMV_EPOCH}', date_trunc('day', ts)))",
                   KMV_UNION_HEX,
               )} AS h
        FROM events
        WHERE event_type IN ('{KMV_TYPE_A}', '{KMV_TYPE_B}')
    ), sa AS (
        SELECT h FROM elems WHERE event_type = '{KMV_TYPE_A}'
        ORDER BY h LIMIT {KMV_K}
    ), sb AS (
        SELECT h FROM elems WHERE event_type = '{KMV_TYPE_B}'
        ORDER BY h LIMIT {KMV_K}
    ), merged AS (
        SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)
        ORDER BY h LIMIT {KMV_K}
    ), ms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
               CAST(MAX(h) AS BIGINT) AS theta_hash
        FROM merged
    ), eu AS (
        SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_union FROM elems
    )
    SELECT k_used, theta_hash, exact_union,
           CASE WHEN k_used < {KMV_K} THEN k_used
                ELSE (k_used - 1) * {KMV_HASH_SPACE} // theta_hash END
               AS union_est,
           abs(CASE WHEN k_used < {KMV_K} THEN k_used
                    ELSE (k_used - 1) * {KMV_HASH_SPACE} // theta_hash END
               - exact_union) * 1000000 // exact_union AS err_ppm
    FROM ms, eu
"""


QUERIES = {
    "sketch_countmin_words": q_sketch_countmin_words,
    "sketch_kmv_overlap": q_sketch_kmv_overlap,
    "sketch_kmv_union": q_sketch_kmv_union,
    "pipeline_shuffle_shards": q_pipeline_shuffle_shards,
    "pipeline_token_quota": q_pipeline_token_quota,
    "pipeline_pii_redaction": q_pipeline_pii_redaction,
    "pipeline_split_assign": q_pipeline_split_assign,
    "events_anomaly_mad": q_events_anomaly_mad,
    "stats_corpus_report": q_stats_corpus_report,
    "stats_source_overlap": q_stats_source_overlap,
    "stats_k_anonymity": q_stats_k_anonymity,
    "stats_token_gini": q_stats_token_gini,
}

_hash8_sql = md5_prefix_long_sql("CAST(doc_id AS VARCHAR)", 8)

# DuckDB twin of _cms_pos for row d over column ``word``.
def _cms_pos_sql(d: int) -> str:
    row_key = f"'{d}:' || word"
    return f"({md5_prefix_long_sql(row_key, 5)} % {CMS_WIDTH})"


assert CMS_DEPTH == 4  # the CMS oracle spells out four position expressions

ORACLES = {
    "sketch_kmv_union": _KMV_UNION_SQL,
    "sketch_kmv_overlap": f"""
        WITH e AS (
            SELECT DISTINCT event_type,
                   {md5_prefix_long_sql(
                       "user_id || ':' || date_diff('day', DATE '" + KMV_EPOCH
                       + "', CAST(ts AS DATE))", KMV_HEX)} AS h
            FROM events
            WHERE event_type IN ('{KMV_TYPE_A}', '{KMV_TYPE_B}')
        ),
        fa AS (SELECT h FROM e WHERE event_type = '{KMV_TYPE_A}'),
        fb AS (SELECT h FROM e WHERE event_type = '{KMV_TYPE_B}'),
        sa AS (SELECT h FROM fa ORDER BY h LIMIT {KMV_K}),
        sb AS (SELECT h FROM fb ORDER BY h LIMIT {KMV_K}),
        u AS (SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM sa
                                                     UNION ALL
                                                     SELECT h FROM sb))
              ORDER BY h LIMIT {KMV_K}),
        c AS (
            SELECT (SELECT COUNT(*) FROM fa) AS n_a,
                   (SELECT COUNT(*) FROM fb) AS n_b,
                   (SELECT COUNT(*) FROM fa WHERE h IN (SELECT h FROM fb))
                       AS exact_inter,
                   (SELECT COUNT(*) FROM u) AS k_used,
                   (SELECT COUNT(*) FROM u
                    WHERE h IN (SELECT h FROM sa)
                      AND h IN (SELECT h FROM sb)) AS sketch_overlap
        )
        SELECT n_a, n_b, exact_inter, k_used, sketch_overlap,
               sketch_overlap * 1000000 // k_used AS jaccard_est_micro,
               exact_inter * 1000000 // (n_a + n_b - exact_inter)
                   AS jaccard_exact_micro
        FROM c
    """,
    "sketch_countmin_words": f"""
        WITH words AS (
            SELECT unnest(string_split({_NORM}, ' ')) AS word FROM documents
        ), counts AS (
            SELECT word, COUNT(*) AS exact_n FROM words GROUP BY word
        ), cells AS (
            SELECT d, CASE d
                        WHEN 0 THEN {_cms_pos_sql(0)}
                        WHEN 1 THEN {_cms_pos_sql(1)}
                        WHEN 2 THEN {_cms_pos_sql(2)}
                        ELSE {_cms_pos_sql(3)} END AS pos,
                   CAST(SUM(exact_n) AS BIGINT) AS cell_n
            FROM counts, (SELECT unnest([0, 1, 2, 3]) AS d)
            GROUP BY 1, 2
        ), top AS (
            SELECT word, exact_n FROM counts
            ORDER BY exact_n DESC, word LIMIT {CMS_TOP_K}
        ), probes AS (
            SELECT word, exact_n, d, CASE d
                        WHEN 0 THEN {_cms_pos_sql(0)}
                        WHEN 1 THEN {_cms_pos_sql(1)}
                        WHEN 2 THEN {_cms_pos_sql(2)}
                        ELSE {_cms_pos_sql(3)} END AS pos
            FROM top, (SELECT unnest([0, 1, 2, 3]) AS d)
        )
        SELECT p.word, CAST(p.exact_n AS BIGINT) AS exact_n,
               MIN(c.cell_n) AS est_n,
               MIN(c.cell_n) - CAST(p.exact_n AS BIGINT) AS overcount
        FROM probes p JOIN cells c USING (d, pos)
        GROUP BY p.word, p.exact_n
    """,
    "pipeline_shuffle_shards": f"""
        WITH docs AS (
            SELECT len(string_split({_NORM}, ' ')) AS n_tokens,
                   {_hash8_sql} AS hash_key
            FROM documents
        )
        SELECT hash_key % {SHUFFLE_SHARDS} AS shard,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
               MIN(hash_key) AS min_hash,
               MAX(hash_key) AS max_hash
        FROM docs GROUP BY 1
    """,
    # One-window form: the Spark side's salted two-phase prefix sum must
    # equal this exactly (same global (salt, hash, doc_id) order).
    "pipeline_token_quota": f"""
        WITH docs AS (
            SELECT doc_id, source,
                   len(string_split({_NORM}, ' ')) AS n_tokens,
                   {_hash8_sql} AS hash_key,
                   doc_id % {QUOTA_SALTS} AS salt
            FROM documents
        ), ordered AS (
            SELECT source, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY salt, hash_key, doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens
                       AS tokens_before
            FROM docs
        )
        SELECT source, COUNT(*) AS n_kept,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
        FROM ordered WHERE tokens_before < {QUOTA_TOKENS}
        GROUP BY source
    """,
    "pipeline_split_assign": f"""
        WITH per_split AS (
            SELECT {split_sql()} AS split,
                   len(string_split({_NORM}, ' ')) AS n_tokens
            FROM documents
        ), agg AS (
            SELECT split, COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS split_tokens
            FROM per_split GROUP BY split
        ), tot AS (
            SELECT CAST(SUM(split_tokens) AS BIGINT) AS corpus_tokens FROM agg
        )
        SELECT split, n_docs, split_tokens,
               ROUND(split_tokens / CAST(corpus_tokens AS DOUBLE), 4)
                   AS token_share
        FROM agg, tot
    """,
    "pipeline_pii_redaction": f"""
        WITH pii AS (
            SELECT doc_id, {_PII_TEXT_SQL} AS pii_text FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(pii_text, '{EMAIL_RE}')) AS INT)
                   AS n_emails,
               CAST(len(regexp_extract_all(pii_text, '{PHONE_RE}')) AS INT)
                   AS n_phones,
               substr(md5(regexp_replace(
                   regexp_replace(pii_text, '{EMAIL_RE}', '[EMAIL]', 'g'),
                   '{PHONE_RE}', '[PHONE]', 'g')), 1, 16) AS redacted_fp
        FROM pii
    """,
    "events_anomaly_mad": f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   COUNT(*) AS n_events
            FROM events GROUP BY 1, 2
        ), med AS (
            SELECT event_type, quantile_cont(n_events, 0.5) AS med
            FROM daily GROUP BY event_type
        ), dev AS (
            SELECT d.event_type, ABS(d.n_events - m.med) AS dev
            FROM daily d JOIN med m USING (event_type)
        ), mad AS (
            SELECT event_type, quantile_cont(dev, 0.5) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               COUNT(*) AS n_days,
               ROUND(MAX(m.med), 1) AS med_daily,
               ROUND(MAX(a.mad), 1) AS mad_daily,
               CAST(SUM(CASE WHEN d.dev > {MAD_K} * a.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_anomalies
        FROM dev d
        JOIN med m USING (event_type)
        JOIN mad a USING (event_type)
        GROUP BY d.event_type
    """,
    # Same histogram-derived discrete quantiles as the Spark side (integer
    # cumulative-count math, NOT quantile_disc — the two engines' built-in
    # discrete-quantile index conventions differ; the shared derivation is
    # pinned against Spark's percentile_disc in tests/test_curation.py).
    "stats_source_overlap": _SOURCE_OVERLAP_SQL,
    "stats_k_anonymity": _K_ANONYMITY_SQL,
    "stats_token_gini": _TOKEN_GINI_SQL,
    "stats_corpus_report": f"""
        WITH per_doc AS (
            SELECT source, lang,
                   len(string_split({_NORM}, ' ')) AS n_tokens,
                   md5(text) AS text_hash
            FROM documents
        ), flagged AS (
            SELECT source, lang, n_tokens,
                   CASE WHEN COUNT(*) OVER (PARTITION BY text_hash) > 1
                        THEN 1 ELSE 0 END AS is_dup
            FROM per_doc
        ), hist AS (
            SELECT source, lang, n_tokens,
                   COUNT(*) AS cnt,
                   CAST(SUM(is_dup) AS BIGINT) AS dup_cnt
            FROM flagged GROUP BY source, lang, n_tokens
        ), marked AS (
            SELECT source, lang, n_tokens, cnt, dup_cnt,
                   SUM(cnt) OVER (PARTITION BY source, lang ORDER BY n_tokens
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(cnt) OVER (PARTITION BY source, lang) AS tot
            FROM hist
        )
        SELECT source, lang,
               CAST(SUM(cnt) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens * cnt) AS BIGINT) AS total_tokens,
               MIN(CASE WHEN cum * 2 >= tot THEN n_tokens END) AS p50_tokens,
               MIN(CASE WHEN cum * 10 >= tot * 9 THEN n_tokens END)
                   AS p90_tokens,
               CAST(SUM(dup_cnt) AS BIGINT) AS n_exact_dup_docs,
               ROUND(SUM(dup_cnt) / CAST(SUM(cnt) AS DOUBLE), 6) AS dup_rate
        FROM marked GROUP BY source, lang
    """,
}
