"""End-to-end training-data curation pipeline — the composition exhibit.

One query chains the pipeline a pretraining corpus actually runs:

1. quality gate  — keep documents with ≥ 20 whitespace tokens
2. exact dedup   — keep the lowest doc_id per md5(text)
3. near-dup drop — remove the higher-id member of every MinHash-LSH pair
                   with estimated Jaccard ≥ threshold
4. corpus stats  — per-language doc count + token mass of the survivors

Every stage composes from operators that are independently oracle-checked
(text_quality_score, dedup_exact, dedup_minhash_lsh); the whole chain is
itself SQL-expressible, so the driver verifies the *composition*, not just
the parts.  The near-dup stage is deliberately the LSH path, not the exact
shingle self-join: candidate generation joins on (band_idx, band_hash), so
candidate volume is governed by bands×rows, independent of corpus size —
no raw-shingle self-join appears anywhere in this plan.  The exact-Jaccard
operator remains in the catalog as the LSH family's ground-truth baseline
(recall pinned in ``tests/test_dedup.py``).  At 100 TB each stage is the
shuffle shape documented on its operator; nothing here adds a new one —
filters are scan-side, and the near-dup drop is an UNHINTED anti-join: the
loser list is one doc_id per near-duplicate document, i.e. proportional to
corpus size (10-30% dup rates are normal), so a forced broadcast would
collect billions of ids onto the driver at 100 TB.  Left unhinted, AQE
broadcasts it when the runtime size actually fits under
``autoBroadcastJoinThreshold`` and falls back to a shuffled anti-join on
16-byte (doc_id) rows otherwise — both safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_query_engine_spark.operators.dedup import (
    PLANT_DOC_OFFSET,
    offset_doc_id,
    PLANT_SUFFIX,
    PLANTED_JACCARD_THRESHOLD,
    _band_rows,
    _minhash_oracle_sql,
    _minhash_sig_of,
    _shingles_of,
    q_dedup_exact,
    q_dedup_minhash_lsh,
)
from simple_query_engine_spark.operators.text import (
    _NORM,
    STOPWORDS,
    _normalized,
    _sql_in_list,
)
from simple_query_engine_spark.sources.catalog import table

MIN_TOKENS = 20


PRUNE_STEP_PPM = 5_000  # threshold grid: stopword-ratio ppm, 10 buckets
PRUNE_BUCKETS = 10


def q_pipeline_quality_prune_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold prune curve — the diagnostic a curation team
    reads before picking a filter bar: for each stopword-ratio threshold
    on a fixed ppm grid, how many documents and tokens SURVIVE pruning
    everything below it.  (Stopword density is the classic
    natural-language-ness signal; thresholds sweep 0–45 000 ppm in
    5 000-ppm steps.)

    Scale shape: the per-document score is a pure scan-side map
    (integer ppm via ``div`` — no float ordering anywhere); documents
    aggregate into ≤ {PRUNE_BUCKETS} threshold buckets FIRST (map-side
    combine), and the survivors-at-threshold cumulation is a window
    over that bucket table — rows, not documents.  No global sort, no
    per-threshold rescan of the corpus; this is a fixed-grid threshold
    sweep (how pruning is actually applied), not an equal-count decile
    ranking (which would need a distributed quantile pass first).
    """
    documents = table(spark, sf_dir, "documents")
    tokens = F.split(_normalized(F.col("text")), " ")
    stop = F.size(F.filter(tokens, lambda t: t.isin(*STOPWORDS)))
    scored = documents.select(
        F.size(tokens).alias("n_tokens"), stop.alias("n_stop")
    ).select(
        "n_tokens",
        F.least(
            F.expr(f"n_stop * 1000000 div n_tokens div {PRUNE_STEP_PPM}"),
            F.lit(PRUNE_BUCKETS - 1),
        ).alias("bucket"),
    )
    per_bucket = scored.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    from pyspark.sql.window import Window

    w_at_or_above = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_bucket.select(
        (F.col("bucket") * PRUNE_STEP_PPM).cast("long").alias("threshold_ppm"),
        "n_docs",
        "n_tokens",
        F.sum("n_docs").over(w_at_or_above).alias("docs_retained"),
        F.sum("n_tokens").over(w_at_or_above).alias("tokens_retained"),
        F.expr(
            f"sum(n_tokens) over (order by bucket desc rows between unbounded "
            f"preceding and current row) * 1000000 div "
            f"sum(n_tokens) over ()"
        ).alias("retained_ppm"),
    )


def q_pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = table(spark, sf_dir, "documents")
    tokens = F.split(_normalized(F.col("text")), " ")
    quality = documents.select(
        "doc_id", "lang", F.size(tokens).alias("n_tokens")
    ).filter(F.col("n_tokens") >= MIN_TOKENS)

    exact_keepers = q_dedup_exact(spark, sf_dir).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    near_dup_losers = q_dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_id_b").alias("doc_id")
    ).distinct()

    survivors = (
        quality.join(exact_keepers, "doc_id", "left_semi")
        .join(near_dup_losers, "doc_id", "left_anti")
    )
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


SAMPLES_PER_LANG = 40
SAMPLE_SALTS = 16  # phase-1 fan-out: corpus-wide work spreads over lang×salt
EVAL_SET_MAX_DOC_ID = 10  # doc_id < 10 plays the held-out benchmark set
CONTAM_NGRAM = 5


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced subsample: N docs per language, selected by hash
    order (deterministic across engines/retries — corpus balancing without
    a global sort).

    Two-phase top-N: a single window over ``partitionBy(lang)`` would
    funnel the whole corpus through one reducer task per language (~10
    tasks at 100 TB).  Instead phase 1 ranks within (lang, salt) — the
    full-corpus shuffle spreads over ``langs × SAMPLE_SALTS`` keys and each
    salt keeps its own top N — and phase 2 re-ranks only the ≤ salts × N
    survivors per language.  Every member of a language's true top N is in
    some salt's top N, so the result is identical to the one-phase window
    (same deterministic (hash, doc_id) order), which is exactly what the
    unchanged one-phase SQL oracle verifies.
    """
    documents = table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    from simple_query_engine_spark.functions.hashing import md5_prefix_long

    hash_key = md5_prefix_long(F.col("doc_id").cast("string"), 8)
    salted = documents.select(
        "doc_id",
        "lang",
        hash_key.alias("hash_key"),
        F.pmod(F.col("doc_id"), F.lit(SAMPLE_SALTS)).alias("salt"),
    )
    pre = Window.partitionBy("lang", "salt").orderBy("hash_key", "doc_id")
    survivors = salted.withColumn("pre_rank", F.row_number().over(pre)).filter(
        F.col("pre_rank") <= SAMPLES_PER_LANG
    )
    final = Window.partitionBy("lang").orderBy("hash_key", "doc_id")
    return (
        survivors.withColumn("sample_rank", F.row_number().over(final))
        .filter(F.col("sample_rank") <= SAMPLES_PER_LANG)
        .select("doc_id", "lang", "sample_rank")
    )


SAMPLE_TOPK = 100


def q_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-K deterministic global sample: the K documents with the
    smallest md5(doc_id) — the fixed-size complement of ``sample_hash``'s
    fixed-RATE sample (holdout sets that must be exactly N rows,
    reproducible across engines, retries and partitionings).

    Shape at 100 TB: ``orderBy(hash).limit(K)`` compiles to
    ``TakeOrderedAndProject`` — each task keeps its own K-row heap and the
    driver merges |tasks|·K candidate rows; no global sort, no single-
    reducer shuffle.  This is the distributed equivalent of reservoir
    sampling, but deterministic (hash order, not RNG state).
    """
    from simple_query_engine_spark.functions.hashing import md5_prefix_long

    documents = table(spark, sf_dir, "documents")
    hash_key = md5_prefix_long(F.col("doc_id").cast("string"), 15)
    return (
        documents.select("doc_id", "lang", "source", hash_key.alias("hash_key"))
        .orderBy("hash_key", "doc_id")
        .limit(SAMPLE_TOPK)
        .select("doc_id", "lang", "source")
    )


PACK_TOKEN_BUDGET = 512
PACK_SHARDS = 8
# Pack-id composition: shard * 2^40 + pack index.  2^40 packs/shard at a
# 512-token budget is ~562 T tokens per shard before ids could collide —
# past any real corpus — and shard*2^40 + idx stays far inside int64
# (the previous 1e6 stride collided once a shard crossed 512 M tokens).
PACK_SHARD_STRIDE = 1 << 40


def q_pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed token-budget packs (the
    pretraining step that concatenates documents into training sequences),
    greedy-filled in deterministic md5 order.  A doc joins the pack where
    its segment BEGINS (start-offset rule: pack = floor(tokens_before /
    budget)), so pack membership is a pure function of the running sum.

    Shape at 100 TB: a global running sum would serialize on one reducer,
    so docs first hash into PACK_SHARDS independent shards (pack ids are
    shard-prefixed); each shard's cumulative-sum window runs in its own
    partition, and the per-pack rollup reuses the shard clustering.  On a
    cluster, shards = O(total cores) and the plan is embarrassingly
    parallel; determinism (md5 order, not arrival order) means retries and
    repartitionings rebuild identical packs.  Output is per-pack integer
    stats only — nothing float anywhere.
    """
    from pyspark.sql.window import Window

    from simple_query_engine_spark.functions.hashing import md5_prefix_long

    documents = table(spark, sf_dir, "documents")
    docs = documents.select(
        "doc_id",
        F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens"),
        md5_prefix_long(F.col("doc_id").cast("string"), 8).alias("hash_key"),
    ).withColumn("shard", F.pmod(F.col("hash_key"), F.lit(PACK_SHARDS)))
    w = (
        Window.partitionBy("shard")
        .orderBy("hash_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs.select(
        "shard",
        "n_tokens",
        (
            F.col("shard") * PACK_SHARD_STRIDE
            + F.floor(
                (F.sum("n_tokens").over(w) - F.col("n_tokens"))
                / F.lit(PACK_TOKEN_BUDGET)
            )
        ).alias("pack_id"),
    )
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


def _contam_shingles(documents: DataFrame, sf_dir: str | None = None) -> DataFrame:
    """(doc_id, gram): each document's distinct word CONTAM_NGRAM-grams
    (whole normalized text when shorter) — shared by the exact and Bloom
    decontamination paths so they flag over identical shingle sets.
    With ``sf_dir`` the exploded table is session-cached: each
    decontamination entry reads it from BOTH its eval and corpus branches
    (two evaluations of the corpus-wide explode otherwise — Spark shares
    no subtree across plan branches without a cache), and the exact and
    Bloom entries share one materialization.

    The word array materializes in its OWN projection before the gram
    transform: referenced many times (size + every lambda element), the
    inline split/normalize expression defeats Catalyst's common-
    subexpression elimination inside ``transform`` and re-tokenizes the
    document once per gram — measured 8x slower at sf0.1.  The separate
    alias is referenced non-trivially, so CollapseProject keeps it as a
    once-per-row evaluation."""

    def build() -> DataFrame:
        words = F.col("w")
        grams = F.when(
            F.size(words) >= CONTAM_NGRAM,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(words) - (CONTAM_NGRAM - 1)),
                    lambda i: F.concat_ws(" ", F.slice(words, i, CONTAM_NGRAM)),
                )
            ),
        ).otherwise(F.array(F.concat_ws(" ", words)))
        return documents.select(
            "doc_id", F.split(_normalized(F.col("text")), " ").alias("w")
        ).select("doc_id", F.explode(grams).alias("gram"))

    if sf_dir is None:
        return build()
    from simple_query_engine_spark.functions.caching import session_cache

    return session_cache(build, sf_dir, "contam_shingles")


def q_text_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    5-gram with the held-out eval set (doc_id < EVAL_SET_MAX_DOC_ID).

    The canonical pretraining hygiene step.  Plan shape: eval-set shingles
    are tiny and BROADCAST — the corpus side streams once, no shuffle; at
    100 TB this is a broadcast semi-join of the whole corpus against a
    benchmark fingerprint set.
    """
    documents = table(spark, sf_dir, "documents")
    shingled = _contam_shingles(documents, sf_dir)
    eval_grams = (
        shingled.filter(F.col("doc_id") < EVAL_SET_MAX_DOC_ID)
        .select("gram")
        .distinct()
    )
    return (
        shingled.filter(F.col("doc_id") >= EVAL_SET_MAX_DOC_ID)
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )


def q_text_decontamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: corpus documents whose MinHash
    signature estimates Jaccard ≥ {PLANTED_JACCARD_THRESHOLD} against an
    eval document — the paraphrase-level leak the exact-5-gram operators
    (``text_decontamination`` / ``_bloom``) MISS: a lightly-edited
    benchmark answer shares high shingle Jaccard but may share no intact
    5-gram.  Every serious pretraining hygiene stack runs both tiers
    (exact n-gram + fuzzy near-dup) against its eval suites.

    Vacuity handling (the ``dedup_planted_minhash`` convention): the
    corpus's organic Jaccard against the 10-doc eval set never reaches
    the production threshold, so the query derives leaked copies INSIDE
    itself — each eval doc gains a one-token-appended copy at
    doc_id + PLANT_DOC_OFFSET posing as a corpus document — and the
    oracle performs the identical derivation, so paraphrase-level
    DETECTION is exercised by the hash-checked gate, not only by tests.

    Scale shape: the eval side is |eval| docs — its band rows BROADCAST,
    so the corpus side streams once with NO shuffle for candidate
    generation (same discipline as the exact path's broadcast semi-join;
    the incremental-minhash machinery reused with the tiny side
    broadcast).  Verification touches candidates only."""
    from simple_query_engine_spark.functions.caching import session_cache

    def build_sig() -> DataFrame:
        base = table(spark, sf_dir, "documents").select("doc_id", "text")
        leaked = base.filter(F.col("doc_id") < EVAL_SET_MAX_DOC_ID).select(
            offset_doc_id(
                PLANT_DOC_OFFSET, "fuzzy-decontamination leak ids"
            ).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" " + PLANT_SUFFIX)).alias("text"),
        )
        return _minhash_sig_of(
            _shingles_of(base.union(leaked), sf_dir, "decontam_fuzzy_shingles")
        )

    sig = session_cache(build_sig, sf_dir, "decontam_fuzzy_sig")
    evals = sig.filter(F.col("doc_id") < EVAL_SET_MAX_DOC_ID)
    corpus = sig.filter(F.col("doc_id") >= EVAL_SET_MAX_DOC_ID)
    candidates = (
        _band_rows(corpus)
        .alias("a")
        .join(
            F.broadcast(_band_rows(evals)).alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("eval_doc_id"),
        )
        .dropDuplicates(["doc_id", "eval_doc_id"])
    )
    sig_c = sig.select(F.col("doc_id"), F.col("signature").alias("sig_a"))
    sig_e = sig.select(
        F.col("doc_id").alias("eval_doc_id"), F.col("signature").alias("sig_b")
    )
    from simple_query_engine_spark.operators.dedup import NUM_MINHASH

    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(NUM_MINHASH)
    return (
        candidates.join(sig_c, "doc_id")
        .join(F.broadcast(sig_e), "eval_doc_id")
        .withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= PLANTED_JACCARD_THRESHOLD)
        .select("doc_id", "eval_doc_id", "est_jaccard")
    )


# Oracle twin of the in-query leak derivation above.
_FUZZY_LEAK_DOCS_SQL = f"""(
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {PLANT_DOC_OFFSET} AS doc_id,
                   text || ' {PLANT_SUFFIX}' AS text
            FROM documents WHERE doc_id < {EVAL_SET_MAX_DOC_ID}
        )"""


# m: bit-array size — fixed, independent of eval-set size.  Sized for a
# ~1e-4 per-gram false-positive rate at this eval set (~2k grams): the
# broadcast cost is bounded by min(m bits, k·n set positions) either way,
# so a generous m buys accuracy for free at small n while the packed
# bitmask stays a fixed 16 KiB/2^17 bits at production n.
BLOOM_BITS = 1 << 17
BLOOM_HASHES = 3  # k hash functions: disjoint 5-hex-digit slices of one md5


def q_text_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the production-scale variant of
    ``text_decontamination``.

    The exact path broadcasts the eval set's raw 5-gram STRINGS; fine
    while the benchmark suite is small, but the broadcast grows with the
    eval corpus.  The Bloom variant broadcasts a FIXED-size structure
    instead: the set of set bit positions of an m=BLOOM_BITS /
    k=BLOOM_HASHES Bloom filter over the eval grams (≤ m rows whatever
    the eval size).  A corpus gram is flagged when all k of its hash
    positions are set — no false negatives by construction, and a false-
    positive rate of (1 − e^(−kn/m))^k (pinned against the exact operator
    in ``tests/test_pipeline.py``).

    Engine-portable exactness: positions derive from the md5-prefix hash
    family (``functions/hashing.py``), so DuckDB builds the identical
    filter and flags the identical false positives — the oracle compares
    exactly even though the operator is approximate vs ground truth.

    Shape at 100 TB: each corpus gram reduces to its k scalar positions
    (the gram string is dropped immediately — only small longs flow on),
    then k successive BROADCAST semi-joins implement the all-k-bits-set
    conjunction: the first join prunes all but ~(set bits)/m of the
    grams, so joins 2..k probe a tiny remnant; no row inflation, no
    per-gram aggregation, and the only shuffle is the final per-doc
    count over survivors.  (A real cluster would pack the positions into
    a bitmask inside the broadcast; the position-table form keeps the
    plan shape identical and the result engine-checkable.)
    """
    documents = table(spark, sf_dir, "documents")
    shingled = _contam_shingles(documents, sf_dir)

    def positions(gram):
        # One md5 per gram, k disjoint 5-hex-digit slices of the digest as
        # the k hash functions (2^20 ≥ m and 2^20 mod m == 0, so each
        # slice mods into the bit space exactly uniformly) — a third of
        # the hash work of k independent md5 calls, same engine-portable
        # md5 family as functions/hashing.py.
        digest = F.md5(gram)
        return [
            F.pmod(
                F.conv(F.substring(digest, 1 + 5 * j, 5), 16, 10).cast("long"),
                F.lit(BLOOM_BITS),
            )
            for j in range(BLOOM_HASHES)
        ]

    eval_positions = (
        shingled.filter(F.col("doc_id") < EVAL_SET_MAX_DOC_ID)
        .select(F.explode(F.array(*positions(F.col("gram")))).alias("pos"))
        .distinct()
    )
    flagged = shingled.filter(F.col("doc_id") >= EVAL_SET_MAX_DOC_ID).select(
        "doc_id",
        *[p.alias(f"p{j}") for j, p in enumerate(positions(F.col("gram")))],
    )
    for j in range(BLOOM_HASHES):
        flagged = flagged.join(
            F.broadcast(eval_positions),
            flagged[f"p{j}"] == eval_positions["pos"],
            "left_semi",
        )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("flagged_ngrams")
    )


def q_pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reweighting: per-source sampling weights that rebalance
    the corpus to a UNIFORM token budget per source — the domain-mixing
    step of a pretraining pipeline (down-weight boilerplate-heavy domains,
    up-weight scarce ones).  ``mix_weight`` is the factor to apply to a
    source's sampling rate so each source contributes total/|S| tokens.

    Determinism: every share and weight is a SINGLE division of exact
    integer sums, rounded once — weight = T / (|S|·T_s) — so no float
    accumulation order exists anywhere.  Shape at 100 TB: ONE map-side-
    combined per-source aggregate scans the corpus (plan-asserted single
    scan in tests); the corpus totals come from an unpartitioned window
    over that aggregate's |S| rows — a global window is normally the
    single-reducer anti-pattern, but its input here is one row per
    SOURCE (10²–10⁴ domains), not per document, so the serialized step
    is trivially bounded.  (A separate ``per_source.agg(...)`` totals
    branch reads nicer but Catalyst does not reuse the aggregate's
    exchange across the self-join — it re-scans and re-tokenizes the
    whole corpus for the one totals row: measured two parquet scans, a
    genuine 2× corpus cost at scale.)
    """
    from pyspark.sql.window import Window

    documents = table(spark, sf_dir, "documents")
    per_source = (
        documents.select(
            "source",
            F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    corpus_tokens = F.sum("total_tokens").over(w)
    n_sources = F.count(F.lit(1)).over(w)
    return per_source.select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens") / corpus_tokens, 4).alias("token_share"),
        F.round(
            corpus_tokens / (n_sources * F.col("total_tokens")), 4
        ).alias("mix_weight"),
    )


# Mixture resampling gate resolution: acceptance thresholds live in ppm of
# the md5(doc_id) % 1e6 gate, so membership is a pure function of doc_id
# (stable under retries and corpus growth — the pipeline_split_assign
# discipline applied to mixture weights).  corpus_tokens·1e6 must stay
# < 2⁶³ → declared bound ~9·10¹² corpus tokens (the text_bm25_search
# integer-headroom convention; shard the totals beyond that).
MIXTURE_GATE_MOD = 1_000_000


def _mixture_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (source, n_tokens, gate) projection of the corpus —
    read by both the threshold aggregate and the sampled aggregate (and
    by the streaming twin's oracle side)."""
    from simple_query_engine_spark.functions.caching import session_cache
    from simple_query_engine_spark.functions.hashing import md5_prefix_long

    return session_cache(
        lambda: table(spark, sf_dir, "documents").select(
            "source",
            F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens"),
            F.pmod(
                md5_prefix_long(F.col("doc_id").cast("string"), 8),
                F.lit(MIXTURE_GATE_MOD),
            ).alias("gate"),
        ),
        sf_dir,
        "mixture_per_doc",
    )


def mixture_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|S|-row mixture policy table: (source, n_docs, total_tokens,
    accept_ppm) — the standing acceptance thresholds both the batch
    resampler and the streaming ingest gate apply."""
    per_source = _mixture_per_doc(spark, sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "total_tokens",
        F.expr(
            f"least(cast({MIXTURE_GATE_MOD} as bigint), "
            f"sum(total_tokens) over () * {MIXTURE_GATE_MOD} "
            "div (count(1) over () * total_tokens))"
        ).alias("accept_ppm"),
    )


def q_pipeline_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture RESAMPLING — the application step of
    ``pipeline_domain_mix``: that entry computes per-source reweighting
    factors; this one actually draws the rebalanced corpus.  Each source
    gets an acceptance threshold ``accept_ppm = min(1e6, T·1e6 //
    (|S|·T_s))`` (uniform token budget per source, downsample-only:
    over-represented sources are cut to the uniform share, scarce ones
    keep everything — up-weighting is an epoch-repetition decision left
    to the trainer), and a document survives iff ``md5(doc_id) % 1e6 <
    accept_ppm`` — membership is a pure function of doc_id, so the drawn
    sample is stable under retries, partitioning, and corpus growth,
    where a ``rand()`` sampler re-draws every run.  Output: per-source
    audit — inputs, threshold, sampled counts/tokens, achieved share in
    ppm (the number the DoReMi-style mixture tuning loop feeds back on).

    Scale shape: ONE corpus scan builds the (doc_id, source, n_tokens,
    gate) projection, session-cached because both the threshold aggregate
    and the sampled aggregate read it (uncached, Catalyst re-scans and
    re-tokenizes the corpus for each — the ``pipeline_domain_mix``
    two-scan trap); thresholds are |S| rows computed by a window over the
    per-source aggregate and broadcast back; both aggregates are map-side
    combined.  All arithmetic is single integer divisions — no float
    accumulation anywhere."""
    per_doc = _mixture_per_doc(spark, sf_dir)
    thresholds = mixture_thresholds(spark, sf_dir)
    sampled = (
        per_doc.join(
            F.broadcast(thresholds.select("source", "accept_ppm")), "source"
        )
        .filter(F.col("gate") < F.col("accept_ppm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_sampled"),
            F.sum("n_tokens").alias("tokens_sampled"),
        )
    )
    return (
        thresholds.join(sampled, "source", "left")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "accept_ppm",
            F.coalesce("docs_sampled", F.lit(0)).alias("docs_sampled"),
            F.coalesce("tokens_sampled", F.lit(0)).alias("tokens_sampled"),
        )
        .select(
            "*",
            F.expr(
                f"tokens_sampled * {MIXTURE_GATE_MOD} "
                "div sum(tokens_sampled) over ()"
            ).alias("sampled_share_ppm"),
        )
    )


def q_pipeline_attrition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source attrition accounting for the curation pipeline — the
    observability twin of ``pipeline_corpus_curation``: how many docs each
    source loses at each stage (first-failing-stage attribution, matching
    the pipeline's stage order: quality gate → exact dedup → near-dup
    drop), and how many survive.

    Production pipelines ship exactly this report next to every curation
    run; a source whose near-dup loss spikes is the first sign of a
    scraper feeding duplicated content.  All counts are exact integers.
    Shape at 100 TB: the stage flags come from the same doc-id-keyed
    joins the pipeline itself runs (keeper semi-structure as a left join
    to preserve non-keepers for counting); output is |sources| rows.
    """
    documents = table(spark, sf_dir, "documents")
    docs = documents.select(
        "doc_id",
        "source",
        F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens"),
    )
    keepers = q_dedup_exact(spark, sf_dir).select(
        F.col("keep_doc_id").alias("doc_id"), F.lit(1).alias("is_keeper")
    )
    losers = (
        q_dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
        .withColumn("is_loser", F.lit(1))
    )
    stage = (
        F.when(F.col("n_tokens") < MIN_TOKENS, "quality")
        .when(F.col("is_keeper").isNull(), "exact_dup")
        .when(F.col("is_loser").isNotNull(), "near_dup")
        .otherwise("kept")
    )
    flags = (
        docs.join(keepers, "doc_id", "left")
        .join(losers, "doc_id", "left")
        .select("source", stage.alias("stage"))
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("stage") == "quality").cast("int")).alias("n_quality_drop"),
        F.sum((F.col("stage") == "exact_dup").cast("int")).alias("n_exact_dup"),
        F.sum((F.col("stage") == "near_dup").cast("int")).alias("n_near_dup"),
        F.sum((F.col("stage") == "kept").cast("int")).alias("n_kept"),
    )


URL_VARIANTS = 4  # doc_id div 4 = page: four URL spellings per page


def _planted_url():
    """A deterministic source URL per document (the corpus carries no URL
    column, so one is planted as a pure function of (doc_id, source) — the
    planted-pattern convention of ``dedup_planted_minhash``): every
    ``doc_id div 4`` page appears under four spellings — clean https, an
    upper-cased http://www. form with a trailing slash, a utm-tracking
    query, and a fragment — exactly the variants a crawl frontier emits
    for one page."""
    page = F.expr(f"doc_id div {URL_VARIANTS}").cast("string")
    host = F.concat(F.lit("example-"), F.col("source"), F.lit(".com/article/"))
    clean = F.concat(F.lit("https://"), host, page)
    return (
        F.when(
            F.col("doc_id") % URL_VARIANTS == 1,
            F.upper(F.concat(F.lit("http://www."), host, page, F.lit("/"))),
        )
        .when(
            F.col("doc_id") % URL_VARIANTS == 2,
            F.concat(
                clean,
                F.lit("?utm_source=feed"),
                (F.col("doc_id") % 5).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % URL_VARIANTS == 3,
            F.concat(clean, F.lit("#section"), (F.col("doc_id") % 3).cast("string")),
        )
        .otherwise(clean)
    )


def _canonical_url(url):
    """Crawl-style URL canonicalization: lowercase, strip scheme, strip a
    leading www., strip the fragment, strip a tracking-only query string,
    strip a trailing slash.  Every pattern is ANCHORED (^/$), so the
    replace-first semantics DuckDB defaults to and Spark's replace-all
    coincide — no regex-flag divergence is possible; all patterns stay in
    the Java/RE2-identical subset."""
    c = F.lower(url)
    c = F.regexp_replace(c, "^https?://", "")
    c = F.regexp_replace(c, "^www[.]", "")
    c = F.regexp_replace(c, "#[a-z0-9]*$", "")
    c = F.regexp_replace(c, "[?]utm_[a-z]+=[a-z0-9]*$", "")
    return F.regexp_replace(c, "/$", "")


def q_pipeline_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup accounting — the FIRST dedup stage of a
    web-crawl corpus (CommonCrawl-style pipelines dedup by canonical URL
    before any content hashing: it's free — no text is read — and removes
    the bulk of refetch duplicates).  Per source: docs, distinct canonical
    pages, the dup count, and the lexicographically-first canonical URL
    (proving the canonical STRINGS, not just their counts, agree across
    engines).

    Shape at 100 TB: canonicalization is a pure per-row regex map inside
    whole-stage codegen; the rollup shuffles (source, canonical) — URL
    strings are short, and a production variant would shuffle
    md5(canonical) digests exactly like ``dedup_exact``.
    """
    documents = table(spark, sf_dir, "documents")
    with_url = documents.select(
        "source", _canonical_url(_planted_url()).alias("canonical")
    )
    return with_url.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("canonical").alias("n_pages"),
        (F.count(F.lit(1)) - F.countDistinct("canonical")).alias("n_dup_docs"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct("canonical"))
            / F.count(F.lit(1)),
            4,
        ).alias("dup_rate"),
        F.min("canonical").alias("first_canonical"),
    )


# --------------------------------------------------------------------------
# CDC-driven incremental curation (managed table + change feed + delta-only
# quality + incremental MinHash — the continuous-ingestion composition)
# --------------------------------------------------------------------------

INC_EDIT_MOD = 10          # doc_id % 10 == 3 → the doc's text is revised
INC_EDIT_RES = 3
INC_NEW_MOD = 20           # doc_id % 20 == 7 → spawns a brand-new ingest doc
INC_NEW_RES = 7
INC_NEW_OFFSET = 1_000_000  # new doc ids live above every corpus id
INC_EDIT_SUFFIX = "revised curated edition"
INC_NEW_PREFIX = "fresh ingest copy of"
INC_NEW_SOURCE = "ingest"


def q_pipeline_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-driven incremental curation — the production shape for a
    continuously-ingested training corpus, composing the managed-table
    MERGE, the change feed, delta-only quality maintenance
    (``dml_incremental_view`` discipline) and batch-vs-corpus incremental
    MinHash (``dedup_incremental_minhash`` discipline) into ONE certified
    path:

    1. the documents corpus is materialized as a managed table (v0) and
       two artifacts bootstrap ONCE: the curated per-(source, lang)
       rollup (docs with ≥ MIN_TOKENS tokens) and the persisted MinHash
       signature table;
    2. a changed-docs batch MERGEs in (v1): every doc_id ≡ 3 (mod 10)
       gets its text revised, and every doc_id ≡ 7 (mod 20) spawns a NEW
       '{INC_NEW_SOURCE}'-source document above INC_NEW_OFFSET;
    3. the v0→v1 CHANGE FEED — which reads only rewritten/appended files
       (manifest pruning) — drives everything downstream:
       the rollup is maintained by signed deltas (never recomputed over
       the mutated snapshot), and the signature table is maintained by
       anti-joining deleted ids and appending signatures computed over
       INSERTED ROWS ONLY;
    4. the new-doc batch's bands join the maintained corpus bands
       (candidate volume ∝ batch, independent of corpus size), flagging
       which freshly-curated docs near-duplicate the live corpus at the
       {PLANTED_JACCARD_THRESHOLD} est-Jaccard bar.

    The returned table is the MAINTAINED rollup plus the per-group
    near-dup flag count; the oracle recomputes the same statistics from
    scratch over the merged final state — so the driver's hash-match IS
    the incremental-equals-full proof.  O(changed data) is pinned in
    tests/test_pipeline.py (the delta branches scan only changed files).

    Scale: the only full-corpus passes are the two v0 bootstraps (one
    aggregate scan + one signature build — both one-offs in production);
    every per-batch cost is O(batch): signature upserts, band join
    probes, signed rollup deltas, and a |sources×langs|-row maintenance
    join.
    """
    from simple_query_engine_spark.operators.dedup import NUM_MINHASH
    from simple_query_engine_spark.operators.dml import _scratch
    from simple_query_engine_spark.functions.caching import session_cache
    from simple_query_engine_spark.sources.managed import ManagedTable

    documents = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    # stats_columns on the merge key: the CDC batch's merge probes prune
    # to files whose doc_id box contains a batch key (VERDICT r13 item 2).
    t = ManagedTable.create(
        spark, _scratch("inccur_"), documents, stats_columns=["doc_id"]
    )

    n_tokens = F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens")

    # -- bootstrap at v0 (the one-off full passes) --------------------------
    # v0's content IS `documents` (the create wrote it one line above, and
    # nothing commits in between), so the bootstraps read the cached
    # source relation instead of re-scanning the freshly written files —
    # value-identical, one corpus-wide parquet read saved per bootstrap.
    v0 = documents
    base_rollup = (
        v0.select("source", "lang", n_tokens)
        .filter(F.col("n_tokens") >= MIN_TOKENS)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )

    # -- the changed-docs batch MERGEs in (v1) ------------------------------
    edits = documents.filter(
        F.pmod(F.col("doc_id"), F.lit(INC_EDIT_MOD)) == INC_EDIT_RES
    ).withColumn("text", F.concat(F.col("text"), F.lit(f" {INC_EDIT_SUFFIX}")))
    news = documents.filter(
        F.pmod(F.col("doc_id"), F.lit(INC_NEW_MOD)) == INC_NEW_RES
    ).select(
        offset_doc_id(INC_NEW_OFFSET, "incremental-curation new-doc ids").alias(
            "doc_id"
        ),
        F.concat(F.lit(f"{INC_NEW_PREFIX} "), F.col("text")).alias("text"),
        "lang",
        F.lit(INC_NEW_SOURCE).alias("source"),
    )
    t.merge(
        edits.unionByName(news),
        on="doc_id",
        update_assignments={"text": F.col("s.text")},
        # Deterministic source (filters/projections of the documents
        # scan): skip the defensive scratch materialization.
        materialize_source=False,
        # Keys are unique by construction — edits keep their corpus
        # doc_id (≡ {INC_EDIT_RES} mod {INC_EDIT_MOD}, one row each) and
        # news live above INC_NEW_OFFSET — so the per-merge duplicate
        # scan is skippable (one full source job saved).
        check_duplicate_keys=False,
    )

    # -- everything below reads the CHANGE FEED, not the corpus -------------
    feed = t.changes(0, 1)
    inserted = feed.filter(F.col("_change_op") == "insert")
    deleted_ids = (
        feed.filter(F.col("_change_op") == "delete").select("doc_id").distinct()
    )

    # Signature-table maintenance: drop deleted ids, append signatures
    # computed over inserted rows only.  The v0 shingles read only the
    # documents table; the delta and the maintained table read this
    # call's managed table, so its path is their token.
    def build_sig_v1() -> DataFrame:
        sig_v0 = _minhash_sig_of(
            _shingles_of(v0.select("doc_id", "text"), sf_dir, "inccur_shingles_v0")
        )
        sig_delta = _minhash_sig_of(
            _shingles_of(
                inserted.select("doc_id", "text"),
                sf_dir,
                "inccur_shingles_delta",
                token=t.path,
            )
        )
        return sig_v0.join(deleted_ids, "doc_id", "left_anti").unionByName(
            sig_delta
        )

    sig_v1 = session_cache(build_sig_v1, sf_dir, "inccur_sig_v1", token=t.path)

    # Incremental near-dup: new-doc bands probe the maintained corpus bands.
    batch_sig = sig_v1.filter(F.col("doc_id") >= INC_NEW_OFFSET)
    corpus_sig = sig_v1.filter(F.col("doc_id") < INC_NEW_OFFSET)
    candidates = (
        _band_rows(batch_sig)
        .alias("a")
        .join(
            _band_rows(corpus_sig).alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc_id"),
            F.col("b.doc_id").alias("corpus_doc_id"),
        )
        .dropDuplicates(["new_doc_id", "corpus_doc_id"])
    )
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    ) / F.lit(NUM_MINHASH)
    flagged = (
        candidates.join(
            batch_sig.select(
                F.col("doc_id").alias("new_doc_id"), F.col("signature").alias("sig_a")
            ),
            "new_doc_id",
        )
        .join(
            corpus_sig.select(
                F.col("doc_id").alias("corpus_doc_id"),
                F.col("signature").alias("sig_b"),
            ),
            "corpus_doc_id",
        )
        .filter(F.round(est, 4) >= PLANTED_JACCARD_THRESHOLD)
        .select("new_doc_id")
        .distinct()
    )

    # Rollup maintenance: signed deltas from the feed (insert +, delete −).
    sign = F.when(F.col("_change_op") == "insert", F.lit(1)).otherwise(F.lit(-1))
    feed_scored = feed.select("source", "lang", n_tokens, sign.alias("sign"))
    delta = (
        feed_scored.filter(F.col("n_tokens") >= MIN_TOKENS)
        .groupBy("source", "lang")
        .agg(
            F.sum("sign").alias("d_docs"),
            F.sum(F.col("sign") * F.col("n_tokens")).alias("d_tokens"),
        )
    )
    flag_counts = (
        inserted.select("doc_id", "source", "lang", n_tokens)
        .filter(F.col("n_tokens") >= MIN_TOKENS)
        .join(flagged, F.col("doc_id") == F.col("new_doc_id"), "left_semi")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_flag"))
    )
    return (
        base_rollup.join(delta, ["source", "lang"], "full_outer")
        .join(flag_counts, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            (
                F.coalesce("n_docs", F.lit(0)) + F.coalesce("d_docs", F.lit(0))
            ).alias("n_docs"),
            (
                F.coalesce("total_tokens", F.lit(0)) + F.coalesce("d_tokens", F.lit(0))
            ).alias("total_tokens"),
            F.coalesce("n_flag", F.lit(0)).alias("n_new_neardup"),
        )
        .filter(F.col("n_docs") > 0)
    )


# DSIR feature space: hashed word-bigram buckets.  The point of hashing
# (vs the raw vocabulary the NB classifier keeps) is the model size bound:
# at 100 TB the bigram vocabulary is unbounded but the importance model
# stays exactly DSIR_BUCKETS rows, broadcastable forever.
DSIR_BUCKETS = 1_024
DSIR_TILES = 4  # select the top quartile by importance weight


def q_pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (the public DSIR recipe):
    score every raw document by how much its hashed-bigram feature
    distribution looks like the TARGET distribution (here: the
    ``lang='en'`` slice) versus the RAW corpus, then keep the top
    importance quartile — the distribution-matching selection stage that
    sits between raw crawl and quality filtering in modern pretraining
    pipelines.  ``text_quality_classifier`` is the per-document
    discriminative twin; DSIR's distinguishing mechanics are (a) the
    FIXED hashed feature space (importance model = {DSIR_BUCKETS} bucket
    rows regardless of vocabulary growth) and (b) the corpus-level
    resampling step (an exact global top-quartile cut, not a per-doc
    threshold).

    log-importance weight, exact integer micro-units (the quantized-ln
    discipline of ``text_unigram_surprisal``): w(doc) =
    Σ_b c_b·(s_t(b) − s_r(b)) − n_feats·(L_t − L_r) with
    s_x(b) = round(1e6·ln(n_x(b)+1)) and L_x = round(1e6·ln(T_x +
    {DSIR_BUCKETS})) the Laplace normalizers.  The published recipe adds
    Gumbel noise before the cut; the deterministic substitute is the
    (weight, doc_id) total order, declared.  Selection reuses
    :func:`quality._distributed_ntile` — the range-partitioned two-phase
    exact rank, NO single-reducer window (oracle stays plain NTILE).

    Shape at 100 TB: feature extraction is scan-side; the bucket model is
    one map-side-combined aggregate to {DSIR_BUCKETS} rows + a 1-row
    normalizer, both broadcast; scoring is a broadcast join + per-doc
    sum; the quartile cut is the two-phase rank.  Same measured caveat
    as the classifier: the synthetic corpus's lang column carries no
    lexical signal, so weights spread narrowly here; the planted-signal
    test pins that target-like docs rank on top when signal exists.
    """
    from simple_query_engine_spark.functions.hashing import md5_prefix_long
    from simple_query_engine_spark.operators.quality import _distributed_ntile
    from simple_query_engine_spark.operators.text import SURPRISAL_LN_SCALE

    scale = SURPRISAL_LN_SCALE
    documents = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    from simple_query_engine_spark.operators.text import _word_bigrams

    # The DSIR feature space IS the bigram operators' — share the helper
    # so the two can never drift.
    bigram_arr = _word_bigrams(F.col("w"))
    tokenized = documents.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_target"),
        F.split(_normalized(F.col("text")), " ").alias("w"),
    )
    feats = tokenized.select(
        "doc_id",
        "is_target",
        F.explode(bigram_arr).alias("bg"),
    ).select(
        "doc_id",
        "is_target",
        (md5_prefix_long(F.col("bg"), 15) % DSIR_BUCKETS).alias("b"),
    )
    db = feats.groupBy("doc_id", "is_target", "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    cb = db.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(F.lit(0))).alias(
            "n_t"
        ),
        F.sum("c").alias("n_r"),
    )
    tot = cb.agg(
        F.round(
            F.log((F.sum("n_t") + F.lit(DSIR_BUCKETS)).cast("double")) * scale
        )
        .cast("long")
        .alias("l_t"),
        F.round(
            F.log((F.sum("n_r") + F.lit(DSIR_BUCKETS)).cast("double")) * scale
        )
        .cast("long")
        .alias("l_r"),
    )
    wts = cb.select(
        "b",
        F.round(F.log((F.col("n_t") + 1).cast("double")) * scale)
        .cast("long")
        .alias("s_t"),
        F.round(F.log((F.col("n_r") + 1).cast("double")) * scale)
        .cast("long")
        .alias("s_r"),
    )
    scored = (
        db.join(wts, "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c") * (F.col("s_t") - F.col("s_r"))).alias("sw"),
        )
    )
    per_doc = (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            (
                F.coalesce("sw", F.lit(0))
                - F.coalesce("n_feats", F.lit(0))
                * (F.col("l_t") - F.col("l_r"))
            )
            .cast("long")
            .alias("logweight_micro"),
        )
    )
    tiled = _distributed_ntile(
        per_doc,
        DSIR_TILES,
        [F.col("logweight_micro").desc(), F.col("doc_id")],
        "tile",
        sf_dir,
        "dsir_tiles",
    )
    return tiled.select(
        "doc_id",
        "n_feats",
        "logweight_micro",
        "tile",
        (F.col("tile") == 1).alias("selected"),
    )


QUERIES = {
    "pipeline_corpus_curation": q_pipeline_corpus_curation,
    "pipeline_dsir_weights": q_pipeline_dsir_weights,
    "pipeline_incremental_curation": q_pipeline_incremental_curation,
    "pipeline_url_dedup": q_pipeline_url_dedup,
    "pipeline_quality_prune_curve": q_pipeline_quality_prune_curve,
    "sample_stratified": q_sample_stratified,
    "sample_topk": q_sample_topk,
    "pipeline_pack_sequences": q_pipeline_pack_sequences,
    "text_decontamination": q_text_decontamination,
    "text_decontamination_fuzzy": q_text_decontamination_fuzzy,
    "text_decontamination_bloom": q_text_decontamination_bloom,
    "pipeline_domain_mix": q_pipeline_domain_mix,
    "pipeline_mixture_sample": q_pipeline_mixture_sample,
    "pipeline_attrition_report": q_pipeline_attrition_report,
}

from simple_query_engine_spark.functions.hashing import md5_prefix_long_sql

_hash8_sql = md5_prefix_long_sql("CAST(doc_id AS VARCHAR)", 8)

_hash15_sql = md5_prefix_long_sql("CAST(doc_id AS VARCHAR)", 15)

# The shared shingle derivation (SQL twin of _contam_shingles).
_GRAMS_SQL = f"""
            SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(w) >= {CONTAM_NGRAM}
                     THEN list_transform(range(1, len(w) - {CONTAM_NGRAM - 2}),
                                         i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))
                     ELSE [array_to_string(w, ' ')] END)) AS gram
            FROM (SELECT doc_id, string_split({_NORM}, ' ') w FROM documents)
"""


def _bloom_pos_sql(j: int) -> str:
    """DuckDB twin of one Bloom hash position for column ``gram`` (the
    j-th 5-hex-digit slice of one md5, exactly as the Spark side)."""
    return (
        f"(CAST('0x' || substr(md5(gram), {1 + 5 * j}, 5) AS BIGINT)"
        f" % {BLOOM_BITS})"
    )


assert BLOOM_HASHES == 3  # the bloom oracle spells out three position predicates

_PAGE_SQL = f"CAST(doc_id // {URL_VARIANTS} AS VARCHAR)"
_URL_SQL = f"""CASE
    WHEN doc_id % {URL_VARIANTS} = 1 THEN
        upper(concat('http://www.example-', source, '.com/article/',
                     {_PAGE_SQL}, '/'))
    WHEN doc_id % {URL_VARIANTS} = 2 THEN
        concat('https://example-', source, '.com/article/', {_PAGE_SQL},
               '?utm_source=feed', CAST(doc_id % 5 AS VARCHAR))
    WHEN doc_id % {URL_VARIANTS} = 3 THEN
        concat('https://example-', source, '.com/article/', {_PAGE_SQL},
               '#section', CAST(doc_id % 3 AS VARCHAR))
    ELSE concat('https://example-', source, '.com/article/', {_PAGE_SQL})
    END"""

# Oracle twin of the merged (v1) state q_pipeline_incremental_curation
# builds: in-place edits for doc_id ≡ INC_EDIT_RES (mod INC_EDIT_MOD),
# plus new ingest-source docs above INC_NEW_OFFSET.
_INC_MERGED_SQL = f"""(
            SELECT doc_id,
                   CASE WHEN doc_id % {INC_EDIT_MOD} = {INC_EDIT_RES}
                        THEN text || ' {INC_EDIT_SUFFIX}'
                        ELSE text END AS text,
                   lang, source
            FROM documents
            UNION ALL
            SELECT doc_id + {INC_NEW_OFFSET} AS doc_id,
                   '{INC_NEW_PREFIX} ' || text AS text,
                   lang, '{INC_NEW_SOURCE}' AS source
            FROM documents WHERE doc_id % {INC_NEW_MOD} = {INC_NEW_RES}
        )"""


_DSIR_LN = "1000000"  # SURPRISAL_LN_SCALE, spelled out for the SQL below

ORACLES = {
    "pipeline_dsir_weights": f"""
        WITH docs AS (
            SELECT doc_id, lang = 'en' AS is_target,
                   string_split({_NORM}, ' ') AS w
            FROM documents
        ), feats AS (
            SELECT doc_id, is_target,
                   {md5_prefix_long_sql("concat_ws(' ', w[i], w[i+1])", 15)}
                       % {DSIR_BUCKETS} AS b
            FROM docs, UNNEST(range(1, len(w))) AS t(i)
            WHERE len(w) >= 2
        ), db AS (
            SELECT doc_id, is_target, b, COUNT(*) AS c
            FROM feats GROUP BY doc_id, is_target, b
        ), cb AS (
            SELECT b,
                   CAST(SUM(CASE WHEN is_target THEN c ELSE 0 END) AS BIGINT)
                       AS n_t,
                   CAST(SUM(c) AS BIGINT) AS n_r
            FROM db GROUP BY b
        ), tot AS (
            SELECT CAST(round(ln(CAST(SUM(n_t) + {DSIR_BUCKETS} AS DOUBLE))
                              * {_DSIR_LN}) AS BIGINT) AS l_t,
                   CAST(round(ln(CAST(SUM(n_r) + {DSIR_BUCKETS} AS DOUBLE))
                              * {_DSIR_LN}) AS BIGINT) AS l_r
            FROM cb
        ), wts AS (
            SELECT b,
                   CAST(round(ln(CAST(n_t + 1 AS DOUBLE)) * {_DSIR_LN})
                        AS BIGINT) AS s_t,
                   CAST(round(ln(CAST(n_r + 1 AS DOUBLE)) * {_DSIR_LN})
                        AS BIGINT) AS s_r
            FROM cb
        ), scored AS (
            SELECT db.doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_feats,
                   CAST(SUM(c * (s_t - s_r)) AS BIGINT) AS sw
            FROM db JOIN wts USING (b) GROUP BY db.doc_id
        ), per_doc AS (
            SELECT d.doc_id,
                   CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
                   CAST(COALESCE(s.sw, 0)
                        - COALESCE(s.n_feats, 0) * (t.l_t - t.l_r)
                        AS BIGINT) AS logweight_micro
            FROM documents d LEFT JOIN scored s USING (doc_id), tot t
        )
        SELECT doc_id, n_feats, logweight_micro, tile, tile = 1 AS selected
        FROM (
            SELECT *, CAST(NTILE({DSIR_TILES}) OVER (
                       ORDER BY logweight_micro DESC, doc_id) AS INT) AS tile
            FROM per_doc
        )
    """,
    # The incremental path must land exactly on the from-scratch recompute
    # over the merged final state — this oracle IS that recompute (merged
    # relation + full incremental-MinHash rederivation + direct rollup).
    "pipeline_incremental_curation": f"""
        WITH mh AS MATERIALIZED ({_minhash_oracle_sql(
            docs_sql=_INC_MERGED_SQL,
            threshold=PLANTED_JACCARD_THRESHOLD,
            incremental_offset=INC_NEW_OFFSET,
        )}),
        flagged AS (SELECT DISTINCT new_doc_id FROM mh),
        scored AS (
            SELECT source, lang, doc_id,
                   CAST(len(string_split({_NORM}, ' ')) AS INT) AS n_tokens
            FROM {_INC_MERGED_SQL}
        )
        SELECT source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN doc_id IN (SELECT new_doc_id FROM flagged)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_new_neardup
        FROM scored
        WHERE n_tokens >= {MIN_TOKENS}
        GROUP BY source, lang
    """,
    # Fixed-grid threshold sweep: per-bucket aggregate, then cumulate
    # buckets at-or-above each threshold (DESC running sums).
    "pipeline_quality_prune_curve": f"""
        WITH scored AS (
            SELECT len(toks) AS n_tokens,
                   LEAST(len(list_filter(toks, t -> t IN
                             {_sql_in_list(STOPWORDS)}))
                         * 1000000 // len(toks) // {PRUNE_STEP_PPM},
                         {PRUNE_BUCKETS - 1}) AS bucket
            FROM (SELECT string_split({_NORM}, ' ') AS toks FROM documents)
        ), per_bucket AS (
            SELECT bucket, COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM scored GROUP BY bucket
        )
        SELECT CAST(bucket * {PRUNE_STEP_PPM} AS BIGINT) AS threshold_ppm,
               n_docs,
               n_tokens,
               CAST(SUM(n_docs) OVER w AS BIGINT) AS docs_retained,
               CAST(SUM(n_tokens) OVER w AS BIGINT) AS tokens_retained,
               CAST(SUM(n_tokens) OVER w * 1000000
                    // SUM(n_tokens) OVER () AS BIGINT) AS retained_ppm
        FROM per_bucket
        WINDOW w AS (ORDER BY bucket DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "pipeline_url_dedup": f"""
        WITH canon AS (
            SELECT source,
                   regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(regexp_replace(
                           lower({_URL_SQL}),
                           '^https?://', ''),
                       '^www[.]', ''),
                   '#[a-z0-9]*$', ''),
                   '[?]utm_[a-z]+=[a-z0-9]*$', ''),
                   '/$', '') AS canonical
            FROM documents
        )
        SELECT source, COUNT(*) AS n_docs,
               COUNT(DISTINCT canonical) AS n_pages,
               COUNT(*) - COUNT(DISTINCT canonical) AS n_dup_docs,
               ROUND((COUNT(*) - COUNT(DISTINCT canonical))
                     / CAST(COUNT(*) AS DOUBLE), 4) AS dup_rate,
               MIN(canonical) AS first_canonical
        FROM canon GROUP BY source
    """,
    "sample_topk": f"""
        SELECT doc_id, lang, source FROM documents
        ORDER BY {_hash15_sql}, doc_id
        LIMIT {SAMPLE_TOPK}
    """,
    # PACK_TOKEN_BUDGET is a power of two, so the float division inside
    # FLOOR is exact in both engines (no boundary hazard); the windowed
    # SUM is cast to BIGINT before the arithmetic (DuckDB HUGEINT
    # widening, the round-5 lesson).
    "pipeline_pack_sequences": f"""
        WITH docs AS (
            SELECT doc_id,
                   len(string_split({_NORM}, ' ')) AS n_tokens,
                   {_hash8_sql} AS hash_key
            FROM documents
        ), sharded AS (
            SELECT *, hash_key % {PACK_SHARDS} AS shard FROM docs
        ), packed AS (
            SELECT shard, n_tokens,
                   shard * {PACK_SHARD_STRIDE} + CAST(FLOOR(
                       (CAST(SUM(n_tokens) OVER (
                            PARTITION BY shard ORDER BY hash_key, doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens)
                       / {PACK_TOKEN_BUDGET}) AS BIGINT) AS pack_id
            FROM sharded
        )
        SELECT pack_id, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
        FROM packed GROUP BY pack_id
    """,
    "sample_stratified": f"""
        SELECT doc_id, lang, sample_rank FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY {_hash8_sql},
                                doc_id) AS sample_rank
            FROM documents
        ) WHERE sample_rank <= {SAMPLES_PER_LANG}
    """,
    "text_decontamination_fuzzy": _minhash_oracle_sql(
        docs_sql=_FUZZY_LEAK_DOCS_SQL,
        threshold=PLANTED_JACCARD_THRESHOLD,
        eval_max=EVAL_SET_MAX_DOC_ID,
    ),
    "text_decontamination": f"""
        WITH grams AS ({_GRAMS_SQL}), eval_grams AS (
            SELECT DISTINCT gram FROM grams WHERE doc_id < {EVAL_SET_MAX_DOC_ID}
        )
        SELECT g.doc_id, COUNT(*) AS shared_ngrams
        FROM grams g
        WHERE g.doc_id >= {EVAL_SET_MAX_DOC_ID}
          AND g.gram IN (SELECT gram FROM eval_grams)
        GROUP BY g.doc_id
    """,
    # Identical filter, identical false positives: positions come from the
    # shared md5 hash family, so the approximate operator is still exactly
    # comparable across engines.
    "text_decontamination_bloom": f"""
        WITH grams AS ({_GRAMS_SQL}), eval_pos AS (
            SELECT DISTINCT unnest([
                {_bloom_pos_sql(0)}, {_bloom_pos_sql(1)}, {_bloom_pos_sql(2)}
            ]) AS pos
            FROM grams WHERE doc_id < {EVAL_SET_MAX_DOC_ID}
        ), flagged AS (
            SELECT doc_id, gram FROM grams
            WHERE doc_id >= {EVAL_SET_MAX_DOC_ID}
              AND {_bloom_pos_sql(0)} IN (SELECT pos FROM eval_pos)
              AND {_bloom_pos_sql(1)} IN (SELECT pos FROM eval_pos)
              AND {_bloom_pos_sql(2)} IN (SELECT pos FROM eval_pos)
        )
        SELECT doc_id, COUNT(*) AS flagged_ngrams
        FROM flagged GROUP BY doc_id
    """,
    "pipeline_mixture_sample": f"""
        WITH d AS (
            SELECT source,
                   len(string_split({_NORM}, ' ')) AS n_tokens,
                   {md5_prefix_long_sql("CAST(doc_id AS VARCHAR)", 8)}
                       % {MIXTURE_GATE_MOD} AS gate
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
            SELECT source, n_docs, total_tokens,
                   LEAST(CAST({MIXTURE_GATE_MOD} AS BIGINT),
                         (corpus_tokens * {MIXTURE_GATE_MOD})
                         // (n_sources * total_tokens)) AS accept_ppm
            FROM per_source, tot
        ), samp AS (
            SELECT d.source, COUNT(*) AS docs_sampled,
                   CAST(SUM(d.n_tokens) AS BIGINT) AS tokens_sampled
            FROM d JOIN thr t ON d.source = t.source
            WHERE d.gate < t.accept_ppm
            GROUP BY d.source
        )
        SELECT t.source, t.n_docs, t.total_tokens,
               CAST(t.accept_ppm AS BIGINT) AS accept_ppm,
               CAST(COALESCE(s.docs_sampled, 0) AS BIGINT) AS docs_sampled,
               CAST(COALESCE(s.tokens_sampled, 0) AS BIGINT) AS tokens_sampled,
               CAST(COALESCE(s.tokens_sampled, 0) * {MIXTURE_GATE_MOD}
                    // (SELECT CAST(SUM(tokens_sampled) AS BIGINT) FROM samp)
                    AS BIGINT) AS sampled_share_ppm
        FROM thr t LEFT JOIN samp s ON t.source = s.source
    """,
    "pipeline_domain_mix": f"""
        WITH per_source AS (
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(len(string_split({_NORM}, ' '))) AS BIGINT)
                       AS total_tokens
            FROM documents GROUP BY source
        ), totals AS (
            SELECT CAST(SUM(total_tokens) AS BIGINT) AS corpus_tokens,
                   COUNT(*) AS n_sources
            FROM per_source
        )
        SELECT source, n_docs, total_tokens,
               ROUND(total_tokens / CAST(corpus_tokens AS DOUBLE), 4)
                   AS token_share,
               ROUND(corpus_tokens / CAST(n_sources * total_tokens AS DOUBLE), 4)
                   AS mix_weight
        FROM per_source, totals
    """,
    "pipeline_attrition_report": f"""
        WITH docs AS (
            SELECT doc_id, source,
                   len(string_split({_NORM}, ' ')) AS n_tokens
            FROM documents
        ), keepers AS (
            SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ), losers AS (
            SELECT DISTINCT doc_id_b AS doc_id
            FROM ({_minhash_oracle_sql()}) mh
        ), flags AS (
            SELECT source,
                   CASE WHEN n_tokens < {MIN_TOKENS} THEN 'quality'
                        WHEN doc_id NOT IN (SELECT doc_id FROM keepers)
                             THEN 'exact_dup'
                        WHEN doc_id IN (SELECT doc_id FROM losers)
                             THEN 'near_dup'
                        ELSE 'kept' END AS stage
            FROM docs
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN stage = 'quality' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_quality_drop,
               CAST(SUM(CASE WHEN stage = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact_dup,
               CAST(SUM(CASE WHEN stage = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_near_dup,
               CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept
        FROM flags GROUP BY source
    """,
    "pipeline_corpus_curation": f"""
        WITH quality AS (
            SELECT doc_id, lang,
                   CAST(len(string_split({_NORM}, ' ')) AS INT) AS n_tokens
            FROM documents
            WHERE len(string_split({_NORM}, ' ')) >= {MIN_TOKENS}
        ), exact_keepers AS (
            SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ), near_dup_losers AS (
            SELECT DISTINCT doc_id_b AS doc_id
            FROM ({_minhash_oracle_sql()}) mh
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               ROUND(AVG(n_tokens), 4) AS avg_tokens
        FROM quality
        WHERE doc_id IN (SELECT doc_id FROM exact_keepers)
          AND doc_id NOT IN (SELECT doc_id FROM near_dup_losers)
        GROUP BY lang
    """,
}
