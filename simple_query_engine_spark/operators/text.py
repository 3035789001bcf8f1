"""Text-analysis operators for the training-data pipeline (documents table).

All hot-path logic stays JVM-side (built-in string/regexp/array functions →
whole-stage codegen); there is no Python in any of these plans, so they
vectorize and scale linearly with input splits — a 100 TB documents corpus is
just more parquet splits, no shuffle except the explicit aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_query_engine_spark.sources.catalog import table

# The shared English stopword set (quality scoring, language-ID, prune
# curve).  ONE definition drives the Spark filters AND the DuckDB oracle
# fragments below (plus pipeline.py's) — six hand-maintained copies of
# the same literal list previously had to stay byte-identical for the
# hash gates.  LANG_ID extends it with "in" (the language-ID heuristic's
# extra marker), derived here for the same reason.
STOPWORDS = ("the", "a", "of", "and", "to")
LANG_ID_MARKERS = STOPWORDS + ("in",)


def _sql_in_list(words: tuple) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


# One shared normalization: lowercase, collapse runs of whitespace, trim.
# The whitespace class is EXPLICIT rather than \s because the two engines'
# \s disagree on vertical tab (Java \s = [ \t\n\x0B\f\r], DuckDB's RE2 \s
# omits \x0B) — with a bare \s a document containing \x0B would tokenize
# differently per engine and every downstream hash (fingerprints, shingles,
# token counts) would diverge.  Both sides pin the same five-char class.
_WS_CLASS = r"[ \t\n\x0B\f\r]+"


def _normalized(col):
    return F.trim(F.regexp_replace(F.lower(col), _WS_CLASS, " "))


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with an explicit repartition before the CPU-bound string
    work: the table often arrives as one split, and AQE won't widen a
    byte-small but compute-heavy stage (same lesson as dedup._shingles —
    measured 1.5 s → 0.4 s for the fingerprint pass on 32 cores)."""
    return table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count per document (tokenization baseline)."""
    documents = _documents(spark, sf_dir)
    return documents.select(
        "doc_id",
        F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


_BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (letter runs / digit runs / single
    punctuation) — the pre-tokenizer split most BPE vocabularies assume.
    The pattern stays in the portable regex subset shared by Java and RE2.
    """
    documents = _documents(spark, sf_dir)
    tokens = F.expr(f"regexp_extract_all(lower(text), '{_BPE_PATTERN}', 0)")
    return documents.select(
        "doc_id",
        F.size(tokens).alias("n_bpe_tokens"),
        F.size(F.array_distinct(tokens)).alias("n_unique_tokens"),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals: token count, mean token length,
    whitespace ratio, stopword ratio — the classic pretraining-data filters."""
    documents = _documents(spark, sf_dir)
    norm = _normalized(F.col("text"))
    tokens = F.split(norm, " ")
    n_tokens = F.size(tokens)
    n_chars = F.length(norm)
    n_spaces = n_tokens - 1
    stopwords = F.size(
        F.filter(tokens, lambda t: t.isin(*STOPWORDS))
    )
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round((n_chars - n_spaces) / n_tokens, 4).alias("mean_token_len"),
        F.round(n_spaces / n_chars, 4).alias("space_ratio"),
        F.round(stopwords / n_tokens, 4).alias("stopword_ratio"),
        (n_tokens >= 20).cast("boolean").alias("passes_min_length"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language heuristic vs the labeled ``lang`` column.

    A deterministic stand-in for n-gram language ID: score = count of
    English marker tokens; prediction thresholds on the marker ratio.  (The
    synthetic corpus is English word-salad with random ``lang`` labels, so
    agreement with the label is not the point — determinism and the
    plan shape are.)
    """
    documents = _documents(spark, sf_dir)
    tokens = F.split(_normalized(F.col("text")), " ")
    markers = F.size(
        F.filter(tokens, lambda t: t.isin(*LANG_ID_MARKERS))
    )
    ratio = F.round(markers / F.size(tokens), 4)
    return documents.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        ratio.alias("en_marker_ratio"),
        F.when(ratio >= F.lit(0.05), "en").otherwise("unknown").alias("predicted_lang"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: MD5 over the normalized text — the join key for
    exact dedup across shards (hash is computed scan-side, shuffle ships
    16-byte digests, not documents)."""
    documents = _documents(spark, sf_dir)
    return documents.select(
        "doc_id",
        F.md5(_normalized(F.col("text"))).alias("fingerprint"),
        F.length("text").alias("n_chars_actual"),
    )


_ROLL_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime): products stay in long range
_ROLL_BASE = 31


def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint (Rabin-Karp style) over the
    normalized text: ``h = Σ c_i · B^(n-i) mod M`` computed as a left fold
    — engine-portable (pure integer arithmetic, unlike engine hash
    builtins), so it IS oracle-checkable, and the building block for
    content-defined chunking at scale."""
    documents = _documents(spark, sf_dir)
    chars = F.split(_normalized(F.col("text")), "")
    rolled = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * _ROLL_BASE + F.ascii(c)) % _ROLL_MOD,
    )
    return documents.select("doc_id", rolled.alias("rolling_hash"))


def q_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency, top 20 — explode → partial-agg →
    shuffle of (token, count) pairs only."""
    documents = _documents(spark, sf_dir)
    return (
        documents.select(
            F.explode(F.split(_normalized(F.col("text")), " ")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
        .orderBy(F.col("token_count").desc(), F.col("token"))
        .limit(20)
    )


HIST_BUCKET_WIDTH = 100
HIST_MAX_BUCKET = 19


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram: fixed-width character buckets with a
    clamped tail — the standard corpus-shape diagnostic before setting
    quality-gate thresholds.  One partial-agg shuffle of ≤ 20 rows/task
    regardless of corpus size."""
    documents = _documents(spark, sf_dir)
    bucket = F.least(
        F.floor(F.col("n_chars") / HIST_BUCKET_WIDTH), F.lit(HIST_MAX_BUCKET)
    ).cast("int")
    return (
        documents.groupBy(bucket.alias("length_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


TFIDF_TOP_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic keyword extractor.

    Shape at 100 TB: TF is a partial-agg shuffle of (doc_id, word) pairs;
    DF reduces that to one row per vocabulary word; the TF⋈DF join is
    keyed on the word (left unhinted — the vocabulary is small relative
    to the corpus and AQE broadcasts it when it measurably fits, the same
    policy as pipeline.py's anti-joins); the final top-k is a per-doc
    window, shuffled by doc_id.  The corpus size N is a metadata-cheap
    ``count()`` — the one driver-side scalar.

    Determinism across engines: scores are ROUNDed to 6 decimals BEFORE
    ranking (with the word as tie-break) so real-valued ties — e.g.
    tf=2,df=N/2 vs tf=1,df=N/4, both exactly 2·ln2 — cannot rank
    differently from last-ulp ln() differences between Spark and DuckDB.
    """
    documents = _documents(spark, sf_dir)
    n_docs = documents.count()
    words = documents.select(
        "doc_id", F.explode(F.split(_normalized(F.col("text")), " ")).alias("word")
    ).filter(F.col("word") != "")
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("n_tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("n_df"))
    scored = tf.join(dfreq, "word").select(
        "doc_id",
        "word",
        F.round(
            F.col("n_tf") * F.log(F.lit(float(n_docs)) / F.col("n_df")), 6
        ).alias("score"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "word",
            F.round("score", 4).alias("tfidf"),
            "term_rank",
        )
    )


SURPRISAL_LN_SCALE = 1_000_000


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram-LM cross-entropy per document — the language-model
    quality filter (CCNet-style) reduced to its deterministic unigram
    core: avg_surprisal = mean over doc tokens of −ln p(token), with
    p estimated from the corpus itself.  Low = boilerplate/common-token
    text, high = rare-token (or noisy) text.

    Shape at 100 TB: no eager action — the corpus token total is derived
    in-plan from the (tiny) vocabulary aggregate and broadcast cross-joined
    (the round-5 version ran an eager ``words.count()`` whose full
    tokenization pass was then discarded).  Plan-verified at HEAD: ONE
    parquet scan; the raw-text exchange is a ``ReusedExchange`` in the
    vocab branch (the second explode is CPU over reused shuffle blocks,
    not a second scan), and the vocab partial-agg exchange is reused by
    the totals branch.  The (doc,word)⋈vocab join stays unhinted — AQE
    broadcasts the vocab — so token rows never shuffle; a word-partitioned
    window would avoid the duplicate explode but shuffles every
    (doc, word) row with stopword-grade key skew, strictly worse at scale.

    Determinism: per-token ln values are quantized to integers
    (``round(ln(n_w)·1e6)`` as BIGINT) and summed with exact integer
    arithmetic, so the per-doc sum is independent of partitioning /
    summation order — avoiding the float-accumulation-order hazard that
    ``agg_percentiles_exact``'s docstring documents.  With
    s_w = round(S·ln n_w) and L = round(S·ln total):
    avg_surprisal ≈ (L·n_tokens − Σ c_w·s_w) / (n_tokens·S),
    an exact integer ratio divided once — bit-identical across engines.

    Acknowledged residual risk: the quantization itself assumes JVM
    ``Math.log`` and DuckDB's libm ``ln`` agree at the quantization
    boundary — a 1-ulp divergence when ln(n_w)·1e6 lands exactly on a .5
    boundary would flip s_w by 1 and could flip the final 4-decimal
    rounding.  Never observed across the three SFs; if it ever bites,
    the fix is a shared fixed-point ln over the exact integer counts (or
    a tolerance band on this one column), not engine-native ln.
    """
    documents = _documents(spark, sf_dir)
    scale = SURPRISAL_LN_SCALE
    words = documents.select(
        "doc_id", F.explode(F.split(_normalized(F.col("text")), " ")).alias("word")
    ).filter(F.col("word") != "")
    doc_word = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    vocab = doc_word.groupBy("word").agg(F.sum("c").alias("n_w"))
    vocab_q = vocab.select(
        "word",
        F.round(F.log(F.col("n_w").cast("double")) * scale).cast("long").alias("s_w"),
    )
    totals = vocab.agg(
        F.round(F.log(F.sum("n_w").cast("double")) * scale).cast("long").alias("l_tot")
    )
    per_doc = (
        doc_word.join(vocab_q, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("s_w")).alias("sum_s"),
        )
    )
    return per_doc.join(F.broadcast(totals)).select(
        "doc_id",
        "n_tokens",
        F.round(
            (F.col("l_tot") * F.col("n_tokens") - F.col("sum_s"))
            / (F.col("n_tokens") * F.lit(float(scale))),
            4,
        ).alias("avg_surprisal"),
    )


def _word_ngrams(words_col, n: int):
    """Space-joined word n-grams of a tokenized doc (empty array below n
    words).  The when() guard matters: ``F.sequence(1, size-(n-1))`` with
    ``size < n`` would step DOWNWARD and fabricate grams — this is the
    ONE definition of that guard (bigrams, boilerplate templates, and
    the positional variant below all derive from it or restate it)."""
    return F.when(
        F.size(words_col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words_col) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words_col, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _word_bigrams(words_col):
    """Adjacent word pairs of a tokenized doc (empty array below 2 words)."""
    return _word_ngrams(words_col, 2)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText-style
    repetitious-text filter): distinct-word ratio and the fraction of all
    word bigrams taken by the single most frequent bigram — high values of
    the latter mark the looping/boilerplate docs a pretraining pipeline
    drops.

    Shape at 100 TB: per-doc word stats are scan-side (no shuffle); the
    bigram counts shuffle on (doc_id, gram) with map-side partial
    aggregation, then collapse to one row per doc.  Ratios are single
    divisions of exact integer counts — no float accumulation.
    """
    documents = _documents(spark, sf_dir)
    words = F.split(_normalized(F.col("text")), " ")
    base = documents.select("doc_id", words.alias("w"))
    stats = base.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
    )
    per_doc = (
        base.select("doc_id", F.explode(_word_bigrams(F.col("w"))).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram"), F.sum("c").alias("n_bigrams"))
    )
    return stats.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.round(F.col("n_distinct") / F.col("n_words"), 4).alias("distinct_ratio"),
        F.round(F.col("top_bigram") / F.col("n_bigrams"), 4).alias("top_bigram_frac"),
    )


# Gopher/MassiveText repetition thresholds (Rae et al. 2021, table A1):
# a doc fails when the most frequent 3-gram covers > 18% of its characters
# or when characters inside ANY within-doc duplicated 5-gram cover > 15%.
GOPHER_TOP3_PPM_MAX = 180_000
GOPHER_DUP5_PPM_MAX = 150_000


def _word_ngrams_pos(words_col, n: int):
    """(1-based start position, space-joined n-word gram) structs; empty
    array below n words.  The when() guard matters: F.sequence(1, size-k)
    with size < k would step DOWNWARD and fabricate grams."""
    return F.when(
        F.size(words_col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words_col) - (n - 1)),
            lambda i: F.struct(
                i.alias("i"),
                F.concat_ws(" ", F.slice(words_col, i, n)).alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<i:int,gram:string>>"))


def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style WITHIN-document repetition filters in exact integer
    ppm: the character fraction covered by occurrences of the single most
    frequent 3-gram (``top3gram_ppm``) and the character fraction covered
    by the UNION of all within-doc duplicated 5-gram occurrences
    (``dup5gram_ppm``), plus the pass flag at the published thresholds
    (0.18 / 0.15).  Distinct from ``text_repetition`` (which counts gram
    occurrences, not characters) and from the cross-document
    ``text_dup_ngram_coverage``: these are the character-mass signals the
    MassiveText/Gopher recipe actually thresholds, and the duplicated-gram
    side is a positional COVERAGE (overlapping duplicated grams must not
    double-count a word), computed as a distinct-position union.

    Exactness: character counts are integers; fractions are
    ``chars * 1_000_000 div total_chars`` on non-negative integers — no
    float path.  The most-frequent-3-gram tie-break is total order
    (count desc, char length desc, gram asc), mirrored in the oracle.
    Denominator is the doc's non-space character mass; empty docs yield
    NULL ppm and pass=1 (nothing to threshold).

    Shape at 100 TB: per-doc gram tables shuffle on (doc_id, gram) with
    map-side partial aggregation; the coverage join and the word-length
    join are both doc_id-keyed (co-partitioned with the exploded grams);
    the top-3-gram pick is a per-doc window over the already-reduced
    gram-count table.  Nothing is corpus-global — every stage is linear
    in the doc's own gram count, so the operator scales with input
    splits.  The reference engine has no text operators; this extends its
    scan -> project -> filter pipeline (reference src/query_engine.rs:96)
    with the document-quality stage an LLM curation pipeline needs.
    """
    from simple_query_engine_spark.functions.caching import session_cache

    documents = _documents(spark, sf_dir)
    norm = _normalized(F.col("text"))
    # Session-cache the tokenized projection: FOUR branches read it (the
    # 3-gram explode, the 5-gram explode, the word-length table, and the
    # final rollup) and Catalyst does not dedupe identical subtrees — an
    # uncached base re-scans and re-tokenizes the corpus once per branch
    # (the pipeline_domain_mix "measured two parquet scans" lesson, ×4).
    base = session_cache(
        lambda: documents.select(
            "doc_id",
            F.split(norm, " ").alias("w"),
            F.length(F.regexp_replace(norm, " ", "")).cast("long").alias(
                "total_chars"
            ),
        ),
        sf_dir,
        "gopher_base",
    )
    tri = base.select(
        "doc_id", F.explode(_word_ngrams_pos(F.col("w"), 3)).alias("g")
    ).select("doc_id", F.col("g.gram").alias("gram"))
    tc3 = (
        tri.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("cl", (F.length("gram") - 2).cast("long"))
    )
    from pyspark.sql.window import Window

    win = Window.partitionBy("doc_id").orderBy(
        F.col("c").desc(), F.col("cl").desc(), F.col("gram")
    )
    top3 = (
        tc3.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("doc_id", (F.col("c") * F.col("cl")).alias("chars3"))
    )
    g5 = base.select(
        "doc_id", F.explode(_word_ngrams_pos(F.col("w"), 5)).alias("g")
    ).select("doc_id", F.col("g.i").alias("i"), F.col("g.gram").alias("gram"))
    dup5 = (
        g5.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("doc_id", "gram")
    )
    cover = (
        g5.join(dup5, ["doc_id", "gram"])
        .select("doc_id", F.explode(F.sequence(F.col("i"), F.col("i") + 4)).alias("idx"))
        .distinct()
    )
    wl = base.select(
        "doc_id", F.posexplode("w").alias("pos0", "word")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("int").alias("idx"),
        F.length("word").cast("long").alias("wlen"),
    )
    cov_chars = (
        cover.join(wl, ["doc_id", "idx"])
        .groupBy("doc_id")
        .agg(F.sum("wlen").alias("dup_chars"))
    )
    return (
        base.select("doc_id", F.size("w").alias("n_words"), "total_chars")
        .join(top3, "doc_id", "left")
        .join(cov_chars, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "total_chars",
            F.expr(
                "coalesce(chars3, 0L) * 1000000 div nullif(total_chars, 0)"
            ).alias("top3gram_ppm"),
            F.expr(
                "coalesce(dup_chars, 0L) * 1000000 div nullif(total_chars, 0)"
            ).alias("dup5gram_ppm"),
        )
        .withColumn(
            "gopher_pass",
            (
                (F.coalesce(F.col("top3gram_ppm"), F.lit(0)) <= GOPHER_TOP3_PPM_MAX)
                & (F.coalesce(F.col("dup5gram_ppm"), F.lit(0)) <= GOPHER_DUP5_PPM_MAX)
            ).cast("int"),
        )
    )


TEMPLATE_WORDS = 8  # boilerplate window width (dedup.DUP_SPAN_WORDS twin)
TEMPLATE_TOP_K = 15


def q_text_boilerplate_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILERPLATE TEMPLATE mining: the corpus-wide top-{TEMPLATE_TOP_K}
    duplicated {TEMPLATE_WORDS}-word windows with their occurrence count,
    document spread, and SOURCE spread — the target list a substring-
    dedup pass (``dedup_substring_spans``) excises, mined corpus-wide
    instead of diagnosed per-doc: repeated navigation strings, legal
    footers, and generator signatures show up here as high-occurrence
    windows spanning many docs (and, when syndicated, many sources).

    Shape at 100 TB: windows shuffle as (gram) keys with map-side
    partial aggregation (occurrence + two distinct-ish counts in one
    pass — doc/source spread via count(distinct) over the grouped key);
    the page is TakeOrderedAndProject.  Only duplicated windows
    (n_occurrences ≥ 2) rank, so the page is the actual boilerplate
    list, not a sample of singletons."""
    documents = _documents(spark, sf_dir)
    words = F.split(_normalized(F.col("text")), " ")
    base = documents.select("doc_id", "source", words.alias("w"))
    grams = base.select(
        "doc_id",
        "source",
        F.explode(_word_ngrams(F.col("w"), TEMPLATE_WORDS)).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .orderBy(F.col("n_occurrences").desc(), "gram")
        .limit(TEMPLATE_TOP_K)
    )


BIGRAM_TOP_K = 20


def q_text_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-K adjacent word pairs — the first statistic of any
    n-gram LM / BPE-merge pipeline (which symbol pairs to merge next).

    Companion to ``text_word_freq`` (unigrams).  Shape: one shuffle keyed
    on the bigram with map-side partial aggregation, then a
    TakeOrderedAndProject top-K — no global sort.
    """
    documents = _documents(spark, sf_dir)
    # Materialize the word array before the bigram transform: an inline
    # split referenced inside the transform lambda re-tokenizes the doc
    # once per bigram (see _contam_shingles in pipeline.py — measured 8x).
    base = documents.select(F.split(_normalized(F.col("text")), " ").alias("w"))
    return (
        base.select(F.explode(_word_bigrams(F.col("w"))).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(BIGRAM_TOP_K)
    )


def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM cross-entropy per document: mean over doc bigrams
    of −ln p(w2|w1), with p(w2|w1) = n(w1 w2)/n(w1 ·) estimated from the
    corpus — the conditional-LM step up from ``text_unigram_surprisal``
    (and the last rung of deterministic LM-quality scoring before an
    actual neural LM, which is not expressible as exact SQL).

    Same determinism construction as the unigram operator: −ln p
    decomposes to ln n(w1·) − ln n(w1w2); both lns are quantized to
    integers (×SURPRISAL_LN_SCALE) at the (tiny) bigram-vocabulary level,
    per-doc sums run in exact BIGINT arithmetic, one final division.
    Same shape too: doc×bigram counts aggregate up to a bigram vocabulary
    (map-side combined), the prefix marginals aggregate the vocabulary
    again (vocab-sized, not corpus-sized), and the doc⋈vocab join stays
    unhinted so AQE broadcasts the vocabulary side.  Docs with < 2 words
    have no bigrams and drop out (both engines).
    """
    documents = _documents(spark, sf_dir)
    scale = SURPRISAL_LN_SCALE
    base = documents.select(
        "doc_id", F.split(_normalized(F.col("text")), " ").alias("w")
    )
    grams = base.select("doc_id", F.explode(_word_bigrams(F.col("w"))).alias("gram"))
    doc_gram = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    gram_counts = doc_gram.groupBy("gram").agg(F.sum("c").alias("n_bg"))
    prefix = (
        gram_counts.select(F.substring_index("gram", " ", 1).alias("w1"), "n_bg")
        .groupBy("w1")
        .agg(F.sum("n_bg").alias("n_w1"))
    )
    gram_q = (
        gram_counts.withColumn("w1", F.substring_index("gram", " ", 1))
        .join(prefix, "w1")
        .select(
            "gram",
            F.round(F.log(F.col("n_bg").cast("double")) * scale)
            .cast("long")
            .alias("s_bg"),
            F.round(F.log(F.col("n_w1").cast("double")) * scale)
            .cast("long")
            .alias("s_w1"),
        )
    )
    per_doc = doc_gram.join(gram_q, "gram").groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.sum(F.col("c") * (F.col("s_w1") - F.col("s_bg"))).alias("sum_s"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(
            F.col("sum_s") / (F.col("n_bigrams") * F.lit(float(scale))), 4
        ).alias("avg_bigram_surprisal"),
    )


# BM25 ranked retrieval: fixed keyword queries (terms verified present in
# the corpus vocabulary), Robertson k1 = 1.2 and b = 0.75 kept as the exact
# rationals 6/5 and 3/4 so the tf normalization clears to integers.
BM25_QUERIES: dict[int, list[str]] = {
    1: ["spark", "join"],
    2: ["window", "agg", "stream"],
    3: ["customer", "table", "scan"],
}
BM25_TOP_K = 10


def q_text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked keyword retrieval — the inverted-index search every
    retrieval/RAG stack runs, as a pure DataFrame plan: postings are the
    (doc, term, tf) aggregate, document frequency and corpus totals are
    tiny broadcast aggregates, and scoring is a postings⋈query join —
    the physical twin of a distributed inverted index (the postings
    shuffle IS the index build; at 100 TB you persist it bucketed by
    term and this plan becomes one bucket-pruned probe per query term).

    Exact arithmetic: with k1 = 6/5, b = 3/4, idf(w) = ln((N+1)/(df+½))
    (the +1-smoothed Robertson idf, = ln(2N+2) − ln(2df+1) over pure
    integers — each ln quantized to BIGINT micro-units separately, the
    ``text_unigram_surprisal`` discipline), a term's score
    idf·tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) multiplies out over
    avgdl = T/N to integers:

        score_term = (idf_µ · 22·T·tf) div (10·T·tf + 3·T + 9·dl·N)

    — one floor division per (query, doc, term), summed exactly, so
    ranking is engine-identical (ties broken by doc_id).  Bound honesty:
    the numerator idf_µ·22·T·tf is the binding term — with a typical
    idf_µ ≈ 2·10⁷ and tf ≈ 1 it crosses 2⁶³ near T ≈ 2·10¹⁰ corpus
    tokens (worst realistic case, idf_µ ≈ 7·10⁵ for a term in half the
    docs, buys ~6·10¹¹) — so the safe envelope is ~10¹⁰–10¹¹ tokens,
    NOT the ~10¹² an earlier revision claimed.  Failure modes past the
    bound differ by engine: the DuckDB oracle raises a BIGINT-overflow
    error (loud), while Spark's non-ANSI long multiply wraps silently —
    a production deployment rescales first (divide idf·tf products
    through by T) or scores in doubles and accepts last-ulp rank ties.

    The reference engine's FILTER-then-PROJECT pipeline
    (src/query_engine.rs:96-117) has no ranked retrieval; this is the
    §2.2 extension surface.
    """
    scale = SURPRISAL_LN_SCALE
    documents = _documents(spark, sf_dir)
    qdf = spark.createDataFrame(
        [(qid, t) for qid, terms in BM25_QUERIES.items() for t in terms],
        "query_id int, term string",
    )
    words = documents.select(
        "doc_id",
        F.explode(F.split(_normalized(F.col("text")), " ")).alias("word"),
    ).filter(F.col("word") != "")
    postings = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # dl is derivable scan-side (count of non-empty tokens) — a projection,
    # not a re-aggregation of postings, which would need its own exchange
    # because the (doc_id, word) hash partitioning can't serve a doc_id
    # grouping.  Docs that normalize to zero tokens drop from N exactly as
    # they drop from the postings.
    doclen = documents.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(_normalized(F.col("text")), " "), lambda x: x != ""
            )
        )
        .cast("long")
        .alias("dl"),
    ).filter(F.col("dl") > 0)
    corpus = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("t_tokens")
    )
    matched = postings.join(
        F.broadcast(qdf), postings["word"] == qdf["term"]
    ).select("query_id", "doc_id", "term", "tf")
    dfreq = matched.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    idf = (
        dfreq.crossJoin(F.broadcast(corpus))
        .select(
            "term",
            (
                F.round(
                    F.log((2 * F.col("n_docs") + 2).cast("double")) * scale
                ).cast("long")
                - F.round(
                    F.log((2 * F.col("df") + 1).cast("double")) * scale
                ).cast("long")
            ).alias("idf_micro"),
        )
    )
    score_term = F.expr(
        "(idf_micro * 22 * t_tokens * tf) div "
        "(10 * t_tokens * tf + 3 * t_tokens + 9 * dl * n_docs)"
    )
    scored = (
        matched.join(F.broadcast(idf), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "query_id",
            "doc_id",
            score_term.alias("s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched_terms"),
            F.sum("s").alias("score_micro"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_K)
    )


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality/language classifier — multinomial Naive Bayes
    (en-vs-rest on the ``lang`` label), trained ON the corpus and applied
    to every document: the fastText-classifier filtering stage of the
    public pretraining recipes (CCNet / GPT-3-style "looks like the
    target distribution" scoring), where ``text_lang_id`` is the
    hand-written n-gram heuristic and ``text_unigram_surprisal`` the
    single-LM generative score, this is the *discriminative trained*
    counterpart — with the ground-truth label carried through so the
    confusion matrix is one groupBy away.

    Exact integer discipline (the ``text_unigram_surprisal`` trick): the
    per-token class log-likelihoods ln(n_{c,w}+1) quantize to BIGINT
    micro-units at the (tiny) vocabulary level; each document's
    log-likelihood-RATIO score is then an exact integer sum —
    Σ c_w·(s_en(w) − s_rest(w)) − n_tokens·(L_en − L_rest), with
    L_c = round(1e6·ln(T_c + V)) the Laplace normalizers — so the score
    is independent of partitioning and summation order (same declared
    1-ulp-at-the-rounding-boundary residual risk as surprisal).  Uniform
    class prior (no prior term), declared.

    Shape at 100 TB: training IS the aggregation — (doc, word) counts
    (one keyed shuffle), the per-word class-count table (vocabulary-sized,
    partial-aggregated map-side), and a 1-row normalizer broadcast;
    inference is the (doc,word)⋈vocab join (AQE-broadcast when the vocab
    fits, never a corpus shuffle of raw text) followed by a per-doc sum.
    No iteration, no driver round-trip, no float accumulation anywhere.

    Measurement honesty: the synthetic corpus's ``lang`` column is
    metadata-only — every language shares the same English-like
    vocabulary (measured: en stopword rate ≈6% in ALL five langs, de/es
    stopwords absent everywhere) — so in-sample accuracy on this corpus
    is ≈0.6, barely above the majority class.  The certified claim is the
    exact distributed train+score pipeline; that the classifier LEARNS
    when lexical signal exists is pinned by the planted-vocabulary
    fixture in tests/test_text.py (100% separation required).
    """
    documents = _documents(spark, sf_dir)
    scale = SURPRISAL_LN_SCALE
    words = documents.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_en"),
        F.explode(F.split(_normalized(F.col("text")), " ")).alias("word"),
    ).filter(F.col("word") != "")
    dw = words.groupBy("doc_id", "is_en", "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    cc = dw.groupBy("word").agg(
        F.sum(F.when(F.col("is_en"), F.col("c")).otherwise(F.lit(0))).alias(
            "n_en"
        ),
        F.sum(F.when(~F.col("is_en"), F.col("c")).otherwise(F.lit(0))).alias(
            "n_rest"
        ),
    )
    tot = cc.agg(
        F.round(
            F.log((F.sum("n_en") + F.count(F.lit(1))).cast("double")) * scale
        )
        .cast("long")
        .alias("l_en"),
        F.round(
            F.log((F.sum("n_rest") + F.count(F.lit(1))).cast("double")) * scale
        )
        .cast("long")
        .alias("l_rest"),
    )
    wts = cc.select(
        "word",
        F.round(F.log((F.col("n_en") + 1).cast("double")) * scale)
        .cast("long")
        .alias("s_en"),
        F.round(F.log((F.col("n_rest") + 1).cast("double")) * scale)
        .cast("long")
        .alias("s_rest"),
    )
    per_doc = (
        dw.join(wts, "word")
        .groupBy("doc_id")
        .agg(
            F.bool_or("is_en").alias("actual_en"),
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * (F.col("s_en") - F.col("s_rest"))).alias("sw"),
        )
    )
    score = F.col("sw") - F.col("n_tokens") * (F.col("l_en") - F.col("l_rest"))
    return per_doc.join(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        score.alias("score_micro"),
        (score > 0).alias("predicted_en"),
        "actual_en",
    )


# --------------------------------------------------------------------------
# BPE merge training (fixed-iteration, deterministic)
# --------------------------------------------------------------------------

BPE_MERGES = 5


def _bpe_pair_counts(seqdf: DataFrame) -> DataFrame:
    """(seq, freq) → per adjacent symbol pair, the frequency-weighted count.

    ``seq`` is the bracketed symbol string ``(s1)(s2)...(sn)`` — symbols
    are [a-z]+ so the parens can never occur inside one, making both the
    ``)(`` split here and the merge-by-string-replace exact."""
    syms = F.split(F.expr("substring(seq, 2, length(seq) - 2)"), r"\)\(")
    pair_structs = F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(syms) - 2),
            lambda i: F.struct(
                F.element_at(syms, i + 1).alias("left_sym"),
                F.element_at(syms, i + 2).alias("right_sym"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<left_sym:string,right_sym:string>>")
    )
    return (
        seqdf.select("freq", F.explode(pair_structs).alias("p"))
        .groupBy("p.left_sym", "p.right_sym")
        .agg(F.sum("freq").alias("pair_count"))
    )


def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule TRAINING: {BPE_MERGES} fixed iterations of the
    byte-pair-encoding vocabulary construction — each round merges the
    most frequent adjacent symbol pair across the corpus (frequency-
    weighted by word count; ties broken lexically on (left, right)) and
    rewrites every word's symbol sequence before the next count.  Output:
    one row per learned merge rule with its count at merge time — the
    tokenizer-training statistic a pretraining pipeline derives from the
    corpus.

    Determinism (both engines, bit-exact): words are the ``[a-z]+`` runs
    of the BPE pre-tokenizer (``text_bpe_token_count``'s convention —
    ASCII only, so character splitting is portable); counts are integer
    sums; the argmax is a TOTAL order (count desc, left, right).  The
    merge application uses the bracketed-string trick: a word's symbols
    render as ``(s1)(s2)...`` and merging pair (a,b) is
    ``replace(seq, '(a)(b)', '(ab)')`` — both engines' ``replace`` scans
    left-to-right non-overlapping, which IS the BPE greedy rule (the
    original paper's ``re.sub`` loop), and the per-symbol brackets make
    boundary-crossing false matches impossible.

    Shape at 100 TB: the corpus collapses ONCE to the distinct-word
    vocabulary (map-side combined; vocab is millions of rows regardless
    of corpus size).  Every iteration then runs on the vocab table: one
    explode+aggregate for pair counts (partial-agg shuffle), a top-1
    TakeOrderedAndProject (no global sort materialization), and a
    broadcast crossJoin of the 1-row winner for the rewrite.  Each
    level is session-cached so the K-step chain is computed once, linear
    in K — the ``graph_pagerank_neardup`` fixed-iteration discipline
    (dedup.py:921).  Oracle: K unrolled CTE steps, the
    ``_pagerank_oracle_sql`` pattern.
    """
    winners, _ = _bpe_trained(spark, sf_dir)
    out = winners[0]
    for w in winners[1:]:
        out = out.unionByName(w)
    return out


def _bpe_trained(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    """(per-step winner frames, final vocab sequences after all
    BPE_MERGES rewrites) — shared by the training entry (which reads the
    winners) and the encode entry (which reads the final sequences; each
    level is lazy + session-cached, so an entry only pays for the levels
    it actually evaluates)."""
    # Each level MATERIALIZES (r18, the k-means-iteration discipline):
    # with session_cache the level-k plan still embeds level k-1's full
    # lineage, so every invocation re-built and re-canonicalized a chain
    # that deepens per merge level, and the warm noop pass re-walked the
    # whole union's analysis.  Materialized, every level is a scan leaf
    # (vocab-sized seq tables, 1-row winners), values identical.
    from simple_query_engine_spark.functions.caching import session_materialize

    def build_seq_0() -> DataFrame:
        vocab = (
            _documents(spark, sf_dir)
            .select(
                F.explode(
                    F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
                ).alias("word")
            )
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
        return vocab.select(
            F.regexp_replace("word", "(.)", r"($1)").alias("seq"), "freq"
        )

    seq = session_materialize(build_seq_0, sf_dir, "bpe_train_seq_0")
    winners = []
    for k in range(1, BPE_MERGES + 1):
        win = session_materialize(
            lambda: _bpe_pair_counts(seq)
            .orderBy(F.col("pair_count").desc(), "left_sym", "right_sym")
            .limit(1),
            sf_dir,
            f"bpe_train_win_{k}",
        )
        winners.append(
            win.select(
                F.lit(k).alias("step"),
                "left_sym",
                "right_sym",
                F.concat("left_sym", "right_sym").alias("merged"),
                "pair_count",
            )
        )
        seq = session_materialize(
            lambda: seq.crossJoin(F.broadcast(win.select("left_sym", "right_sym")))
            .select(
                F.expr(
                    "replace(seq, '(' || left_sym || ')(' || right_sym || ')',"
                    " '(' || left_sym || right_sym || ')')"
                ).alias("seq"),
                "freq",
            ),
            sf_dir,
            f"bpe_train_seq_{k}",
        )
    return winners, seq


BPE_TOP_SYMBOLS = 10


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer IN ACTION: after applying all {BPE_MERGES}
    learned merges to the vocabulary, the {BPE_TOP_SYMBOLS} most frequent
    SYMBOLS of the encoded corpus (frequency-weighted by word count, ties
    broken lexically) — the sanity table a tokenizer team reads after
    training (are the merges absorbing the common digraphs?).

    Shape: reuses the session-cached merge chain of ``text_bpe_train``
    (the final rewrite level), one explode + partial-agg shuffle over the
    vocab table, then a {BPE_TOP_SYMBOLS}-row TakeOrderedAndProject — no
    global sort, no extra corpus pass.  Oracle: the same K unrolled merge
    CTEs, then the symbol rollup over the final rewrite."""
    _, seq = _bpe_trained(spark, sf_dir)
    syms = F.split(F.expr("substring(seq, 2, length(seq) - 2)"), r"\)\(")
    return (
        seq.select("freq", F.explode(syms).alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("freq").alias("total_count"))
        .orderBy(F.col("total_count").desc(), "symbol")
        .limit(BPE_TOP_SYMBOLS)
    )


def q_text_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer applied back to the CORPUS: tokens-per-
    document under the {BPE_MERGES} learned merges — the statistic
    ``text_bpe_token_count`` computes with a FIXED pre-tokenizer, now
    with the TRAINED vocabulary, proving the merge rules round-trip from
    training to encoding (a tokenizer team's per-doc compression check
    before committing a vocab).

    Each word's token count is the symbol count of its fully-rewritten
    sequence, so encoding a document is a join of its words against the
    rewritten vocab table — never a re-run of the merge loop per doc.
    Shape at 100 TB: the vocab side is millions of rows regardless of
    corpus size (broadcast here; a shuffle join on ``word`` if the vocab
    outgrows the broadcast threshold), and the doc side is one explode +
    partial-agg shuffle keyed on doc_id.  Oracle: the same K unrolled
    merge CTEs, vocab recovered by bracket-strip, then the join-rollup.
    """
    _, seq = _bpe_trained(spark, sf_dir)
    vocab_tok = seq.select(
        F.regexp_replace("seq", r"[()]", "").alias("word"),
        F.size(
            F.split(F.expr("substring(seq, 2, length(seq) - 2)"), r"\)\(")
        ).alias("n_symbols"),
    )
    words = _documents(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("word"),
    )
    return (
        words.join(F.broadcast(vocab_tok), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_symbols").alias("n_bpe_tokens_trained"),
        )
    )


def q_text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language: tokens-per-word under the trained
    merges, rolled up per ``lang`` — THE standard tokenizer-evaluation
    metric (a vocab trained on one language family over-fragments the
    others; fertility is how that bias is measured and reported, e.g. in
    the multilingual-tokenizer literature).  Fertility is reported in
    exact parts-per-million (token·10⁶/words, integer division) so the
    ratio is engine-identical — the quantized-ln/integer-cents
    convention.

    Same plan as :func:`q_text_bpe_encode_docs` with the rollup keyed on
    ``lang`` (5-ish groups) instead of ``doc_id``: one corpus explode +
    vocab join + a partial-aggregated shuffle of a handful of rows.
    """
    _, seq = _bpe_trained(spark, sf_dir)
    vocab_tok = seq.select(
        F.regexp_replace("seq", r"[()]", "").alias("word"),
        F.size(
            F.split(F.expr("substring(seq, 2, length(seq) - 2)"), r"\)\(")
        ).alias("n_symbols"),
    )
    words = _documents(spark, sf_dir).select(
        "lang",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("word"),
    )
    return (
        words.join(F.broadcast(vocab_tok), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_symbols").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.expr("n_tokens * 1000000 div n_words").alias("fertility_ppm"),
        )
    )


def _bpe_chain_parts(k: int = BPE_MERGES, full: bool = False) -> tuple[list[str], str]:
    """Shared unrolled-CTE merge chain of the BPE oracles: (CTE parts,
    name of the last rewrite CTE).  ``full=True`` includes the K-th
    rewrite — the encode oracles read the fully-rewritten vocab, while
    the train oracle stops at the K-th winner."""
    parts = [
        r"""w0 AS (
            SELECT regexp_replace(word, '(.)', '(\1)', 'g') AS seq,
                   CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+', 0))
                         AS word
                  FROM documents)
            GROUP BY word
        )"""
    ]
    prev = "w0"
    for i in range(1, k + 1):
        parts.append(
            f"""p{i} AS (
            SELECT pr[1] AS left_sym, pr[2] AS right_sym,
                   CAST(SUM(freq) AS BIGINT) AS pair_count
            FROM (
                SELECT unnest(list_transform(range(1, len(s)),
                              j -> [s[j], s[j+1]])) AS pr,
                       freq
                FROM (SELECT string_split(seq[2:-2], ')(') AS s, freq
                      FROM {prev})
            )
            GROUP BY left_sym, right_sym
        )"""
        )
        parts.append(
            f"""m{i} AS (
            SELECT left_sym, right_sym, pair_count FROM p{i}
            ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
        )"""
        )
        if i < k or full:
            parts.append(
                f"""w{i} AS (
            SELECT replace(seq,
                           '(' || m.left_sym || ')(' || m.right_sym || ')',
                           '(' || m.left_sym || m.right_sym || ')') AS seq,
                   freq
            FROM {prev}, m{i} m
        )"""
            )
            prev = f"w{i}"
    return parts, prev


def _bpe_train_oracle_sql(k: int = BPE_MERGES) -> str:
    """Unrolled-CTE DuckDB twin of :func:`q_text_bpe_train` — one
    (pairs, argmax, rewrite) CTE triple per merge step, exactly the
    ``_pagerank_oracle_sql`` fixed-iteration construction."""
    parts, _ = _bpe_chain_parts(k, full=False)
    selects = [
        f"SELECT CAST({i} AS INT) AS step, left_sym, right_sym, "
        f"left_sym || right_sym AS merged, pair_count FROM m{i}"
        for i in range(1, k + 1)
    ]
    return "WITH " + ",\n        ".join(parts) + "\n" + "\nUNION ALL ".join(selects)


def _bpe_encode_oracle_sql(k: int = BPE_MERGES) -> str:
    """Full merge chain + symbol rollup over the final rewrite — the
    DuckDB twin of :func:`q_text_bpe_encode`."""
    parts, final = _bpe_chain_parts(k, full=True)
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f"""
        SELECT symbol, CAST(SUM(freq) AS BIGINT) AS total_count FROM (
            SELECT unnest(string_split(seq[2:-2], ')(')) AS symbol, freq
            FROM {final}
        )
        GROUP BY symbol
        ORDER BY total_count DESC, symbol
        LIMIT {BPE_TOP_SYMBOLS}"""
    )


def _bpe_fertility_oracle_sql(k: int = BPE_MERGES) -> str:
    """Full merge chain + per-language fertility rollup — the DuckDB twin
    of :func:`q_text_bpe_fertility`."""
    parts, final = _bpe_chain_parts(k, full=True)
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f""",
        vocab AS (
            SELECT replace(replace(seq, '(', ''), ')', '') AS word,
                   CAST(len(string_split(seq[2:-2], ')(')) AS INT) AS n_symbols
            FROM {final}
        ),
        words AS (
            SELECT lang,
                   unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS word
            FROM documents
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(n_symbols) AS BIGINT) AS n_tokens,
               CAST(SUM(n_symbols) AS BIGINT) * 1000000
                   // CAST(COUNT(*) AS BIGINT) AS fertility_ppm
        FROM words JOIN vocab USING (word)
        GROUP BY lang"""
    )


def _bpe_encode_docs_oracle_sql(k: int = BPE_MERGES) -> str:
    """Full merge chain + per-document token counts under the trained
    merges — the DuckDB twin of :func:`q_text_bpe_encode_docs`.  The word
    is recovered from its bracketed sequence by stripping the parens
    (words are ``[a-z]+`` runs, so the strip is injective)."""
    parts, final = _bpe_chain_parts(k, full=True)
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f""",
        vocab AS (
            SELECT replace(replace(seq, '(', ''), ')', '') AS word,
                   CAST(len(string_split(seq[2:-2], ')(')) AS INT) AS n_symbols
            FROM {final}
        ),
        words AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS word
            FROM documents
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(n_symbols) AS BIGINT) AS n_bpe_tokens_trained
        FROM words JOIN vocab USING (word)
        GROUP BY doc_id"""
    )


QUERIES = {
    "text_token_count": q_token_count,
    "text_bpe_token_count": q_bpe_token_count,
    "text_bpe_train": q_text_bpe_train,
    "text_bpe_encode": q_text_bpe_encode,
    "text_bpe_encode_docs": q_text_bpe_encode_docs,
    "text_bpe_fertility": q_text_bpe_fertility,
    "text_quality_score": q_quality_score,
    "text_quality_classifier": q_quality_classifier,
    "text_bm25_search": q_text_bm25_search,
    "text_lang_id": q_lang_id,
    "text_fingerprint": q_fingerprint,
    "text_rolling_hash": q_rolling_hash,
    "text_word_freq": q_word_freq,
    "text_length_histogram": q_length_histogram,
    "text_tfidf_top_terms": q_tfidf_top_terms,
    "text_unigram_surprisal": q_unigram_surprisal,
    "text_bigram_surprisal": q_bigram_surprisal,
    "text_repetition": q_text_repetition,
    "text_gopher_quality": q_text_gopher_quality,
    "text_boilerplate_templates": q_text_boilerplate_templates,
    "text_bigram_freq": q_text_bigram_freq,
}

# DuckDB equivalents.  Normalization mirrored exactly:
# lower → regexp_replace(explicit ws class → ' ', 'g') → trim.
# _NORM is the single source of truth for the oracle-side normalization —
# dedup.py, pipeline.py, and relational4.py import it rather than keeping
# copies that could drift from the Spark-side ``_normalized``.  The class
# is spelled out (not \s) for the same \x0B reason as ``_WS_CLASS``.
_NORM = "trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
_TOKENS = f"string_split({_NORM}, ' ')"

def _bm25_oracle_sql() -> str:
    values = ", ".join(
        f"({qid}, '{t}')" for qid, terms in BM25_QUERIES.items() for t in terms
    )
    s = SURPRISAL_LN_SCALE
    return f"""
        WITH q(query_id, term) AS (VALUES {values}),
        toks AS (
            SELECT doc_id, unnest(string_split({{norm}}, ' ')) AS word
            FROM documents
        ), postings AS (
            SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks WHERE word <> '' GROUP BY doc_id, word
        ), doclen AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split({{norm}}, ' '),
                                        x -> x <> '')) AS BIGINT) AS dl
            FROM documents
            WHERE len(list_filter(string_split({{norm}}, ' '),
                                  x -> x <> '')) > 0
        ), corpus AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS t_tokens
            FROM doclen
        ), matched AS (
            SELECT q.query_id, p.doc_id, q.term, p.tf
            FROM postings p JOIN q ON p.word = q.term
        ), dfreq AS (
            SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM matched GROUP BY term
        ), idf AS (
            SELECT term,
                   CAST(round(ln(CAST(2 * c.n_docs + 2 AS DOUBLE)) * {s})
                        AS BIGINT)
                   - CAST(round(ln(CAST(2 * df + 1 AS DOUBLE)) * {s})
                          AS BIGINT) AS idf_micro
            FROM dfreq, corpus c
        ), scored AS (
            SELECT m.query_id, m.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_matched_terms,
                   CAST(SUM((idf_micro * 22 * c.t_tokens * m.tf)
                            // (10 * c.t_tokens * m.tf + 3 * c.t_tokens
                                + 9 * d.dl * c.n_docs)) AS BIGINT)
                       AS score_micro
            FROM matched m
            JOIN idf USING (term)
            JOIN doclen d USING (doc_id), corpus c
            GROUP BY m.query_id, m.doc_id
        )
        SELECT query_id, doc_id, n_matched_terms, score_micro, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY score_micro DESC,
                                                  doc_id) AS rank
            FROM scored
        ) WHERE rank <= {BM25_TOP_K}
    """


# Shared with dedup._keeper_quality_oracle_sql (the cluster-keeper entry
# joins components with this exact score relation) — keep it a complete,
# self-contained SELECT so it embeds as a parenthesized subquery.
_CLASSIFIER_ORACLE_SQL = f"""
        WITH toks AS (
            SELECT doc_id, lang = 'en' AS is_en,
                   unnest(string_split({_NORM}, ' ')) AS word
            FROM documents
        ), dw AS (
            SELECT doc_id, is_en, word, COUNT(*) AS c
            FROM toks WHERE word <> '' GROUP BY doc_id, is_en, word
        ), cc AS (
            SELECT word,
                   CAST(SUM(CASE WHEN is_en THEN c ELSE 0 END) AS BIGINT)
                       AS n_en,
                   CAST(SUM(CASE WHEN NOT is_en THEN c ELSE 0 END) AS BIGINT)
                       AS n_rest
            FROM dw GROUP BY word
        ), tot AS (
            SELECT CAST(round(ln(CAST(SUM(n_en) + COUNT(*) AS DOUBLE))
                              * {SURPRISAL_LN_SCALE}) AS BIGINT) AS l_en,
                   CAST(round(ln(CAST(SUM(n_rest) + COUNT(*) AS DOUBLE))
                              * {SURPRISAL_LN_SCALE}) AS BIGINT) AS l_rest
            FROM cc
        ), wts AS (
            SELECT word,
                   CAST(round(ln(CAST(n_en + 1 AS DOUBLE))
                              * {SURPRISAL_LN_SCALE}) AS BIGINT) AS s_en,
                   CAST(round(ln(CAST(n_rest + 1 AS DOUBLE))
                              * {SURPRISAL_LN_SCALE}) AS BIGINT) AS s_rest
            FROM cc
        ), pd AS (
            SELECT dw.doc_id,
                   bool_or(is_en) AS actual_en,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(SUM(c * (s_en - s_rest)) AS BIGINT) AS sw
            FROM dw JOIN wts USING (word) GROUP BY dw.doc_id
        )
        SELECT doc_id, n_tokens,
               CAST(sw - n_tokens * (l_en - l_rest) AS BIGINT) AS score_micro,
               (sw - n_tokens * (l_en - l_rest)) > 0 AS predicted_en,
               actual_en
        FROM pd, tot
    """

ORACLES = {
    "text_bm25_search": _bm25_oracle_sql().format(norm=_NORM),
    "text_quality_classifier": _CLASSIFIER_ORACLE_SQL,
    "text_bpe_train": _bpe_train_oracle_sql(),
    "text_bpe_encode": _bpe_encode_oracle_sql(),
    "text_bpe_encode_docs": _bpe_encode_docs_oracle_sql(),
    "text_bpe_fertility": _bpe_fertility_oracle_sql(),
    "text_bpe_token_count": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}', 0)) AS INT) AS n_bpe_tokens,
               CAST(len(list_distinct(regexp_extract_all(lower(text), '{_BPE_PATTERN}', 0))) AS INT) AS n_unique_tokens
        FROM documents
    """,
    "text_token_count": f"""
        SELECT doc_id,
               CAST(len({_TOKENS}) AS INT) AS n_tokens,
               CAST(length(text) AS INT) AS n_chars_actual
        FROM documents
    """,
    "text_quality_score": f"""
        WITH t AS (
            SELECT doc_id,
                   {_TOKENS} AS toks,
                   length({_NORM}) AS n_chars
            FROM documents
        )
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_tokens,
               ROUND((n_chars - (len(toks) - 1)) / CAST(len(toks) AS DOUBLE), 4) AS mean_token_len,
               ROUND((len(toks) - 1) / CAST(n_chars AS DOUBLE), 4) AS space_ratio,
               ROUND(len(list_filter(toks, t -> t IN {_sql_in_list(STOPWORDS)}))
                     / CAST(len(toks) AS DOUBLE), 4) AS stopword_ratio,
               len(toks) >= 20 AS passes_min_length
        FROM t
    """,
    "text_lang_id": f"""
        WITH t AS (
            SELECT doc_id, lang, {_TOKENS} AS toks FROM documents
        )
        SELECT doc_id,
               lang AS labeled_lang,
               ROUND(len(list_filter(toks, t -> t IN {_sql_in_list(LANG_ID_MARKERS)}))
                     / CAST(len(toks) AS DOUBLE), 4) AS en_marker_ratio,
               CASE WHEN ROUND(len(list_filter(toks, t -> t IN {_sql_in_list(LANG_ID_MARKERS)}))
                               / CAST(len(toks) AS DOUBLE), 4) >= 0.05
                    THEN 'en' ELSE 'unknown' END AS predicted_lang
        FROM t
    """,
    "text_fingerprint": f"""
        SELECT doc_id,
               md5({_NORM}) AS fingerprint,
               CAST(length(text) AS INT) AS n_chars_actual
        FROM documents
    """,
    # Empty-doc guard: DuckDB string_split('', '') is [''] (unicode('') =
    # -1) where Spark split('', '') is [] — an empty/whitespace-only doc
    # must hash to the fold seed 0 in both engines.
    "text_rolling_hash": f"""
        SELECT doc_id,
               CASE WHEN length({_NORM}) = 0 THEN CAST(0 AS BIGINT)
                    ELSE list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                                     list_transform(string_split({_NORM}, ''),
                                                    c -> CAST(unicode(c) AS BIGINT))),
                        (a, b) -> (a * {_ROLL_BASE} + b) % {_ROLL_MOD})
               END AS rolling_hash
        FROM documents
    """,
    "text_length_histogram": f"""
        SELECT CAST(LEAST(FLOOR(n_chars / {HIST_BUCKET_WIDTH}.0), {HIST_MAX_BUCKET}) AS INT)
                   AS length_bucket,
               COUNT(*) AS n_docs,
               MIN(n_chars) AS min_chars,
               MAX(n_chars) AS max_chars
        FROM documents
        GROUP BY 1
    """,
    "text_word_freq": f"""
        SELECT token, COUNT(*) AS token_count
        FROM (SELECT unnest({_TOKENS}) AS token FROM documents)
        GROUP BY token
        ORDER BY token_count DESC, token
        LIMIT 20
    """,
    "text_tfidf_top_terms": f"""
        WITH words AS (
            SELECT doc_id, unnest({_TOKENS}) AS word FROM documents
        ), tf AS (
            SELECT doc_id, word, COUNT(*) AS n_tf
            FROM words WHERE word <> '' GROUP BY 1, 2
        ), dfreq AS (
            SELECT word, COUNT(*) AS n_df FROM tf GROUP BY 1
        ), scored AS (
            SELECT t.doc_id, t.word,
                   ROUND(t.n_tf * ln((SELECT COUNT(*) FROM documents) * 1.0
                                     / d.n_df), 6) AS score
            FROM tf t JOIN dfreq d USING (word)
        ), ranked AS (
            SELECT doc_id, word, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, word) AS term_rank
            FROM scored
        )
        SELECT doc_id, word, ROUND(score, 4) AS tfidf,
               CAST(term_rank AS INT) AS term_rank
        FROM ranked WHERE term_rank <= {TFIDF_TOP_K}
    """,
    # DuckDB lists are 1-indexed and range(a, b) is end-exclusive, so
    # i in 1..len-1 pairs w[i] with w[i+1] — exactly the Spark-side
    # slice(w, i, 2) bigrams.
    "text_repetition": f"""
        WITH base AS (
            SELECT doc_id, {_TOKENS} AS w FROM documents
        ), grams AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w)),
                                         i -> w[i] || ' ' || w[i+1])) AS gram
            FROM base WHERE len(w) >= 2
        ), gc AS (
            SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
        ), pd AS (
            SELECT doc_id, MAX(c) AS top_bigram,
                   CAST(SUM(c) AS BIGINT) AS n_bigrams
            FROM gc GROUP BY doc_id
        )
        SELECT b.doc_id,
               CAST(len(b.w) AS INT) AS n_words,
               ROUND(len(list_distinct(b.w)) / CAST(len(b.w) AS DOUBLE), 4)
                   AS distinct_ratio,
               ROUND(pd.top_bigram / CAST(pd.n_bigrams AS DOUBLE), 4)
                   AS top_bigram_frac
        FROM base b LEFT JOIN pd ON b.doc_id = pd.doc_id
    """,
    # Mirrors q_text_gopher_quality exactly: DuckDB list slicing w[a:b] is
    # 1-based inclusive on both ends (w[i:i+4] is the 5-gram at i); range()
    # is end-exclusive; '//' is integer division (non-negative operands).
    "text_boilerplate_templates": f"""
        WITH base AS (
            SELECT doc_id, source, {_TOKENS} AS w FROM documents
        ), grams AS (
            SELECT doc_id, source,
                   unnest(list_transform(range(1, len(w) - {TEMPLATE_WORDS - 2}),
                          i -> array_to_string(w[CAST(i AS INT):CAST(i + {TEMPLATE_WORDS - 1} AS INT)], ' '))) AS gram
            FROM base WHERE len(w) >= {TEMPLATE_WORDS}
        )
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(DISTINCT source) AS n_sources
        FROM grams GROUP BY gram
        HAVING COUNT(*) >= 2
        ORDER BY n_occurrences DESC, gram LIMIT {TEMPLATE_TOP_K}
    """,
    "text_gopher_quality": f"""
        WITH base AS (
            SELECT doc_id, {_TOKENS} AS w,
                   CAST(len(replace({_NORM}, ' ', '')) AS BIGINT) AS total_chars
            FROM documents
        ), tri AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w) - 1),
                                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
            FROM base WHERE len(w) >= 3
        ), tc3 AS (
            SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(len(gram) - 2 AS BIGINT) AS cl
            FROM tri GROUP BY doc_id, gram
        ), top3 AS (
            SELECT doc_id, c * cl AS chars3,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, cl DESC, gram) AS rn
            FROM tc3
        ), g5g AS (
            SELECT doc_id, unnest(range(1, len(w) - 3)) AS i,
                   unnest(list_transform(range(1, len(w) - 3),
                                         i -> array_to_string(w[CAST(i AS INT):CAST(i + 4 AS INT)], ' '))) AS gram
            FROM base WHERE len(w) >= 5
        ), dup5 AS (
            SELECT doc_id, gram FROM g5g GROUP BY doc_id, gram
            HAVING COUNT(*) >= 2
        ), cover AS (
            SELECT DISTINCT doc_id, idx FROM (
                SELECT g.doc_id, unnest(range(g.i, g.i + 5)) AS idx
                FROM g5g g JOIN dup5 d USING (doc_id, gram)
            )
        ), cov_chars AS (
            SELECT c.doc_id,
                   CAST(SUM(len(b.w[CAST(c.idx AS INT)])) AS BIGINT) AS dup_chars
            FROM cover c JOIN base b USING (doc_id) GROUP BY c.doc_id
        )
        SELECT b.doc_id, CAST(len(b.w) AS INT) AS n_words, b.total_chars,
               coalesce(t.chars3, 0) * 1000000 // nullif(b.total_chars, 0)
                   AS top3gram_ppm,
               coalesce(cc.dup_chars, 0) * 1000000 // nullif(b.total_chars, 0)
                   AS dup5gram_ppm,
               CAST(coalesce(coalesce(t.chars3, 0) * 1000000
                             // nullif(b.total_chars, 0), 0) <= {GOPHER_TOP3_PPM_MAX}
                    AND coalesce(coalesce(cc.dup_chars, 0) * 1000000
                                 // nullif(b.total_chars, 0), 0) <= {GOPHER_DUP5_PPM_MAX}
                    AS INT) AS gopher_pass
        FROM base b
        LEFT JOIN (SELECT doc_id, chars3 FROM top3 WHERE rn = 1) t USING (doc_id)
        LEFT JOIN cov_chars cc USING (doc_id)
    """,
    "text_bigram_freq": f"""
        SELECT gram, COUNT(*) AS n FROM (
            SELECT unnest(list_transform(range(1, len(w)),
                                         i -> w[i] || ' ' || w[i+1])) AS gram
            FROM (SELECT {_TOKENS} AS w FROM documents) WHERE len(w) >= 2
        ) GROUP BY gram
        ORDER BY n DESC, gram LIMIT {BIGRAM_TOP_K}
    """,
    # Quantized-ln integer arithmetic mirrors the Spark side exactly (see
    # q_unigram_surprisal docstring): the per-doc sum is exact BIGINT math,
    # so no float-accumulation-order hazard on either engine.
    "text_unigram_surprisal": f"""
        WITH words AS (
            SELECT doc_id, unnest({_TOKENS}) AS word FROM documents
        ), w AS (
            SELECT doc_id, word FROM words WHERE word <> ''
        ), dw AS (
            SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
        ), vocab AS (
            SELECT word, CAST(SUM(c) AS BIGINT) AS n_w FROM dw GROUP BY word
        ), vq AS (
            SELECT word,
                   CAST(ROUND(ln(CAST(n_w AS DOUBLE)) * {SURPRISAL_LN_SCALE})
                        AS BIGINT) AS s_w
            FROM vocab
        ), tot AS (
            SELECT CAST(ROUND(ln(CAST(SUM(n_w) AS DOUBLE)) * {SURPRISAL_LN_SCALE})
                        AS BIGINT) AS l_tot
            FROM vocab
        ), agg AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(SUM(c * s_w) AS BIGINT) AS sum_s
            FROM dw JOIN vq USING (word) GROUP BY doc_id
        )
        SELECT doc_id,
               n_tokens,
               ROUND((l_tot * n_tokens - sum_s)
                     / (n_tokens * CAST({SURPRISAL_LN_SCALE} AS DOUBLE)), 4)
                   AS avg_surprisal
        FROM agg, tot
    """,
    # Same quantized-ln construction as the unigram oracle; prefix
    # marginals via split_part (the exact twin of substring_index for
    # single-space bigram keys).
    "text_bigram_surprisal": f"""
        WITH docs AS (
            SELECT doc_id, {_TOKENS} AS w FROM documents
        ), g AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w)),
                                         i -> w[i] || ' ' || w[i+1])) AS gram
            FROM docs WHERE len(w) >= 2
        ), dg AS (
            SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram
        ), bg AS (
            SELECT gram, CAST(SUM(c) AS BIGINT) AS n_bg FROM dg GROUP BY gram
        ), pre AS (
            SELECT split_part(gram, ' ', 1) AS w1,
                   CAST(SUM(n_bg) AS BIGINT) AS n_w1
            FROM bg GROUP BY 1
        ), gq AS (
            SELECT gram,
                   CAST(ROUND(ln(CAST(n_bg AS DOUBLE)) * {SURPRISAL_LN_SCALE})
                        AS BIGINT) AS s_bg,
                   CAST(ROUND(ln(CAST(n_w1 AS DOUBLE)) * {SURPRISAL_LN_SCALE})
                        AS BIGINT) AS s_w1
            FROM bg JOIN pre ON split_part(bg.gram, ' ', 1) = pre.w1
        ), agg AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_bigrams,
                   CAST(SUM(c * (s_w1 - s_bg)) AS BIGINT) AS sum_s
            FROM dg JOIN gq USING (gram) GROUP BY doc_id
        )
        SELECT doc_id,
               n_bigrams,
               ROUND(sum_s / (n_bigrams * CAST({SURPRISAL_LN_SCALE} AS DOUBLE)), 4)
                   AS avg_bigram_surprisal
        FROM agg
    """,
}
