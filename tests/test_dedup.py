"""Dedup operator tests — the exact n-gram Jaccard result is the ground
truth the LSH methods are measured against (their oracle is rows-only at
the driver, so recall is pinned here)."""

from __future__ import annotations

import pytest

from simple_query_engine_spark.operators import dedup as D


@pytest.fixture(scope="module")
def exact_pairs(spark, sf_dir):
    rows = D.q_dedup_ngram_jaccard(spark, sf_dir).collect()
    return {(r.doc_id_a, r.doc_id_b): r.jaccard for r in rows}


def test_exact_dedup_partitions_corpus(spark, sf_dir):
    rows = D.q_dedup_exact(spark, sf_dir).collect()
    total_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.dup_count for r in rows) == total_docs
    keepers = [r.keep_doc_id for r in rows]
    assert len(keepers) == len(set(keepers))


def test_jaccard_finds_planted_neardups(exact_pairs):
    # The synthetic corpus plants high-similarity pairs (verified ≥ 0.9).
    assert len(exact_pairs) > 0
    assert all(j >= D.JACCARD_THRESHOLD for j in exact_pairs.values())


def test_minhash_recall_against_exact(spark, sf_dir, exact_pairs):
    lsh_rows = D.q_dedup_minhash_lsh(spark, sf_dir).collect()
    lsh_pairs = {(r.doc_id_a, r.doc_id_b) for r in lsh_rows}
    strong = {p for p, j in exact_pairs.items() if j >= 0.8}
    if not strong:
        pytest.skip("no strong near-dup pairs at this sf")
    recall = len(strong & lsh_pairs) / len(strong)
    assert recall >= 0.9, f"minhash recall {recall} over {len(strong)} strong pairs"


def test_minhash_estimates_track_exact(spark, sf_dir, exact_pairs):
    lsh_rows = D.q_dedup_minhash_lsh(spark, sf_dir).collect()
    for r in lsh_rows:
        true_j = exact_pairs.get((r.doc_id_a, r.doc_id_b))
        if true_j is not None:
            assert abs(r.est_jaccard - true_j) <= 0.25, (
                f"pair ({r.doc_id_a},{r.doc_id_b}): est {r.est_jaccard} vs {true_j}"
            )


def test_simhash_finds_neardups_and_bounds_distance(spark, sf_dir, exact_pairs):
    rows = D.q_dedup_simhash(spark, sf_dir).collect()
    assert all(r.hamming_distance <= D.SIMHASH_MAX_HAMMING for r in rows)
    found = {(r.doc_id_a, r.doc_id_b) for r in rows}
    very_strong = {p for p, j in exact_pairs.items() if j >= 0.95}
    if very_strong:
        overlap = len(very_strong & found) / len(very_strong)
        assert overlap >= 0.5, f"simhash found {overlap} of near-identical pairs"


def test_clusters_match_union_find(spark, sf_dir, exact_pairs):
    """Label-propagation components must equal a driver-side union-find
    ground truth over the same pair list."""
    clusters = D.q_dedup_clusters(spark, sf_dir).collect()

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in exact_pairs:
        union(a, b)
    expected: dict[int, set] = {}
    for node in list(parent):
        expected.setdefault(find(node), set()).add(node)

    got = {r.cluster_id: r for r in clusters}
    assert set(got) == set(expected)
    for root, members in expected.items():
        assert got[root].cluster_size == len(members)
        assert got[root].keep_doc_id == min(members)


def test_row_minhash_signature_equals_grouped_construction(spark, sf_dir):
    """The stateless projection form (streaming decontamination's
    signature path) must produce bit-identical signatures to the
    explode+groupBy batch construction — the invariant that lets the
    streaming gate share the batch tier's oracle."""
    from simple_query_engine_spark.sources.catalog import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    row_form = {
        r.doc_id: tuple(r.signature)
        for r in D._row_minhash_signature(docs).collect()
    }
    grouped = {
        r.doc_id: tuple(r.signature)
        for r in D._minhash_sig_of(
            D._shingles_of(docs, sf_dir, "rowsig_pin_shingles")
        ).collect()
    }
    assert row_form == grouped


def test_cluster_keeper_quality_matches_model(spark, sf_dir):
    """Quality-keeper clusters must equal a driver-side model: union-find
    over the SAME LSH pair list, keeper = argmax (score_micro, -doc_id)
    using the (separately model-tested) classifier scores.  Also pins that
    the score join drops nothing: every clustered doc has tokens, so the
    total member count equals the union-find node count."""
    from simple_query_engine_spark.operators.text import q_quality_classifier

    lsh_pairs = [
        (r.doc_id_a, r.doc_id_b)
        for r in D.q_dedup_minhash_lsh(spark, sf_dir).collect()
    ]
    scores = {
        r.doc_id: r.score_micro
        for r in q_quality_classifier(spark, sf_dir).collect()
    }
    got = {r.cluster_id: r for r in D.q_dedup_cluster_keeper_quality(spark, sf_dir).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in lsh_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    components: dict[int, set] = {}
    for node in list(parent):
        components.setdefault(find(node), set()).add(node)

    assert set(got) == set(components)
    assert sum(r.cluster_size for r in got.values()) == len(parent)
    for root, members in components.items():
        keeper = min(members, key=lambda d: (-scores[d], d))
        row = got[root]
        assert row.cluster_size == len(members)
        assert row.keep_doc_id == keeper
        assert row.keep_score_micro == scores[keeper]
        assert row.keeper_not_min_id == (keeper != root)


def test_shingle_df_cap_drops_hot_shingles(spark):
    """A shingle present in more docs than the cap is excluded before the
    self-join; Jaccard is then computed over the capped sets."""
    rows = [(d, "hot hot hot") for d in range(6)] + [(0, "rare one"), (1, "rare one")]
    df = spark.createDataFrame(rows, ["doc_id", "shingle"])
    capped = D._cap_shingle_df(df, max_df=5)
    assert {(r.doc_id, r.shingle) for r in capped.collect()} == {
        (0, "rare one"),
        (1, "rare one"),
    }
    pairs = D._jaccard_pairs(
        capped, "synthetic-cap-test", "cap_test_windowed"
    ).collect()
    assert {(r.doc_id_a, r.doc_id_b, r.jaccard) for r in pairs} == {(0, 1, 1.0)}


def test_shingle_df_cap_is_inert_at_test_scale(spark, sf_dir):
    """Observed max shingle DF is far below MAX_SHINGLE_DF on the synthetic
    corpus — the cap is a pure scale guard, results are identical."""
    uncapped = D._jaccard_pairs(
        D._shingles(spark, sf_dir), sf_dir, "uncapped_test_windowed"
    ).collect()
    capped = D.q_dedup_ngram_jaccard(spark, sf_dir).collect()
    assert sorted(map(tuple, uncapped)) == sorted(map(tuple, capped))


def test_label_propagation_doubles_pointers_on_chains(spark):
    """A 64-link chain needs ~63 rounds under plain neighbor-min
    propagation; pointer doubling must converge in O(log n) rounds and
    still label every node with the component minimum.  The local-edge
    cap is pinned to 0 so the DISTRIBUTED algorithm is what's exercised
    (the size-adaptive driver fast path would otherwise absorb a
    64-node graph)."""
    from pyspark.sql import functions as F

    n = 64
    one_way = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"]
    )
    edges = one_way.union(
        one_way.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    spark.conf.set(D.CC_LOCAL_EDGE_CAP_CONF, "0")
    try:
        labels, rounds = D._propagate_labels(edges, max_iterations=15)
        rows = labels.collect()
    finally:
        spark.conf.unset(D.CC_LOCAL_EDGE_CAP_CONF)
    assert len(rows) == n
    assert all(r.label == 0 for r in rows)
    assert 1 <= rounds <= 8, f"took {rounds} rounds for a {n}-chain"
    labels.unpersist()


def test_local_components_fast_path_matches_distributed(spark):
    """The size-adaptive driver union-find and the distributed
    pointer-doubling rounds must compute the IDENTICAL min-label
    fixpoint — chains (deep trees), a star, a cycle, singleton-pair and
    disjoint components in one graph."""
    import random

    from pyspark.sql import functions as F

    random.seed(7)
    pairs = [(i, i + 1) for i in range(40)]                     # 41-chain
    pairs += [(1000, 1000 + i) for i in range(1, 12)]           # star
    pairs += [(2000 + i, 2000 + (i + 1) % 9) for i in range(9)]  # cycle
    pairs += [(3000, 3001)]                                     # pair
    pairs += [
        (random.randrange(4000, 4040), random.randrange(4000, 4040))
        for _ in range(60)
    ]                                                           # random blob
    pairs = [(a, b) for a, b in pairs if a != b]
    one_way = spark.createDataFrame(pairs, ["src", "dst"])
    edges = one_way.union(
        one_way.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    fast, fast_rounds = D._propagate_labels(edges)
    assert fast_rounds == 0, "small graph must take the driver fast path"
    spark.conf.set(D.CC_LOCAL_EDGE_CAP_CONF, "0")
    try:
        slow, slow_rounds = D._propagate_labels(edges)
        assert slow_rounds >= 1, "cap=0 must force the distributed path"
        assert (
            sorted((r.doc_id, r.label) for r in fast.collect())
            == sorted((r.doc_id, r.label) for r in slow.collect())
        )
    finally:
        spark.conf.unset(D.CC_LOCAL_EDGE_CAP_CONF)


def test_cc_scratch_root_session_conf_roundtrip(spark, tmp_path, monkeypatch):
    """The CC scratch root is configurable via the spark.sqe.cc.scratchDir
    session conf (cluster deployments set it once on the session instead of
    exporting an env var per executor host); a relative path resolves and
    round-trips, and the env var wins over the conf when both are set."""
    import os

    from pyspark.sql import functions as F

    from simple_query_engine_spark.session import CC_SCRATCH_CONF, cc_scratch_root

    monkeypatch.delenv("SQE_CC_SCRATCH_DIR", raising=False)
    monkeypatch.chdir(tmp_path)
    spark.conf.set(CC_SCRATCH_CONF, "cc_scratch_rel")
    # The materialization assertion below is about the DISTRIBUTED
    # rounds' parquet round-trip; pin cap=0 so the tiny graph can't take
    # the driver fast path (which writes nothing).
    spark.conf.set(D.CC_LOCAL_EDGE_CAP_CONF, "0")
    try:
        assert cc_scratch_root(spark) == "cc_scratch_rel"
        one_way = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
        edges = one_way.union(
            one_way.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        labels, _ = D._propagate_labels(edges)
        assert {(r.doc_id, r.label) for r in labels.collect()} == {
            (0, 0), (1, 0), (2, 0)
        }
        # The rounds really materialized under the configured root — the
        # fixpoint parquet files themselves, not just Python-side dirs
        # (relative paths are absolutized so the JVM writes to the same
        # place Python created; without that the JVM anchors to ITS cwd).
        parquet_parts = [
            os.path.join(dirpath, f)
            for dirpath, _, files in os.walk("cc_scratch_rel")
            for f in files
            if f.endswith(".parquet")
        ]
        assert parquet_parts, "no parquet files under the configured root"
        # Env var takes precedence over the session conf.
        monkeypatch.setenv("SQE_CC_SCRATCH_DIR", str(tmp_path / "env_root"))
        assert cc_scratch_root(spark) == str(tmp_path / "env_root")
    finally:
        spark.conf.unset(CC_SCRATCH_CONF)
        spark.conf.unset(D.CC_LOCAL_EDGE_CAP_CONF)


def test_signatures_are_deterministic(spark, sf_dir):
    a = D.minhash_signatures(spark, sf_dir).orderBy("doc_id").limit(3).collect()
    b = D.minhash_signatures(spark, sf_dir).orderBy("doc_id").limit(3).collect()
    assert [r.signature for r in a] == [r.signature for r in b]


def test_planted_minhash_detects_planted_pairs(spark, sf_dir):
    """Every PLANT_DOC_MOD-th doc gains an appended-token copy; the
    production-threshold (0.8) LSH must pair most of them with their
    original (short docs whose single whole-text shingle changes entirely
    are legitimately missed)."""
    from pyspark.sql import functions as F

    rows = D.q_dedup_planted_minhash(spark, sf_dir).collect()
    assert rows, "planted corpus produced no near-dup pairs"
    planted_found = {
        r.doc_id_a
        for r in rows
        if r.doc_id_b == r.doc_id_a + D.PLANT_DOC_OFFSET
    }
    eligible = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter((F.col("doc_id") % D.PLANT_DOC_MOD) == 0)
        .count()
    )
    assert len(planted_found) >= 0.8 * eligible
    for r in rows:
        assert r.est_jaccard >= D.PLANTED_JACCARD_THRESHOLD


def test_containment_planted_pairs_score_one(spark, sf_dir):
    """A planted copy contains every shingle of its original (appending a
    token never removes a 3-gram), so planted pairs score containment 1.0
    at the production threshold."""
    rows = D.q_dedup_containment_planted(spark, sf_dir).collect()
    assert rows
    planted = [
        r for r in rows if r.doc_id_b == r.doc_id_a + D.PLANT_DOC_OFFSET
    ]
    assert planted
    for r in planted:
        assert r.containment == 1.0
    for r in rows:
        assert r.containment >= D.CONTAINMENT_THRESHOLD


def test_dup_ngram_coverage_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    rows = D.q_dup_ngram_coverage(spark, sf_dir).collect()
    assert len(rows) == docs
    assert all(0.0 <= r.dup_coverage <= 1.0 for r in rows)
    assert all(r.n_shingles >= 1 for r in rows)
    # The synthetic corpus is built from a small common vocabulary, so
    # SOME shingle sharing must exist (guards against a vacuous metric).
    assert any(r.dup_coverage > 0 for r in rows)


def test_incremental_minhash_matches_full_planted_run(spark, sf_dir):
    """The incremental batch-vs-corpus path must find exactly the full
    planted run's CROSS-SPLIT pairs (incoming=planted copies vs corpus=
    originals): same bands, same verify threshold — only the candidate
    join shape differs."""
    full = {
        (r.doc_id_b, r.doc_id_a)  # (planted, original) orientation
        for r in D.q_dedup_planted_minhash(spark, sf_dir).collect()
        if r.doc_id_b >= D.PLANT_DOC_OFFSET > r.doc_id_a
    }
    incremental = {
        (r.new_doc_id, r.corpus_doc_id)
        for r in D.q_dedup_incremental_minhash(spark, sf_dir).collect()
    }
    assert incremental == full
    assert incremental  # non-vacuous: the planted batch must be detected


def test_planted_offset_guard_fails_loudly_on_collision(spark, tmp_path):
    """ADVICE r05: a real doc_id at/above PLANT_DOC_OFFSET must error the
    query (the planted-id space and the incremental batch/corpus split key
    on the offset) instead of silently corrupting the planted gate."""
    import pytest

    rows = [
        (1, "hello world one", "en", "s", 15),
        (D.PLANT_DOC_OFFSET + 5, "colliding doc text", "en", "s", 18),
    ]
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(Exception, match="planted-id collision"):
        D._planted_documents(spark, str(tmp_path)).collect()


def test_pagerank_against_python_model(spark, sf_dir):
    """Exact integer re-derivation: same micro-units, same floored
    divisions, same fixed iteration count — equality is bitwise, not
    approximate (the operator's whole determinism claim)."""
    from collections import defaultdict

    from simple_query_engine_spark.operators.dedup import (
        PAGERANK_DAMP_DEN,
        PAGERANK_DAMP_NUM,
        PAGERANK_ITERATIONS,
        PAGERANK_UNIT,
        q_dedup_minhash_lsh,
        q_graph_pagerank_neardup,
    )

    pairs = [
        (r.doc_id_a, r.doc_id_b)
        for r in q_dedup_minhash_lsh(spark, sf_dir).collect()
    ]
    assert pairs, "fixture must produce a non-empty near-dup graph"
    edges = defaultdict(list)
    for a, b in pairs:
        edges[a].append(b)
        edges[b].append(a)
    deg = {n: len(dsts) for n, dsts in edges.items()}
    base = PAGERANK_UNIT * (PAGERANK_DAMP_DEN - PAGERANK_DAMP_NUM) // PAGERANK_DAMP_DEN
    rank = {n: PAGERANK_UNIT for n in deg}
    for _ in range(PAGERANK_ITERATIONS):
        contrib = defaultdict(int)
        for src, dsts in edges.items():
            c = rank[src] // deg[src]
            for d in dsts:
                contrib[d] += c
        rank = {
            n: base + (contrib[n] * PAGERANK_DAMP_NUM) // PAGERANK_DAMP_DEN
            for n in deg
        }
    rows = q_graph_pagerank_neardup(spark, sf_dir).collect()
    assert {r.doc_id: (r.degree, r.rank_e6) for r in rows} == {
        n: (deg[n], rank[n]) for n in deg
    }


def test_label_spread_matches_python_model(spark, sf_dir):
    """Pure-Python synchronous label propagation over the same pair list
    and seed rule: per-round majority adoption (count desc, label asc),
    cumulative frontier — exact equality of (label, labeled_round) for
    every labeled node, and seeds never relabel."""
    from collections import Counter, defaultdict

    from simple_query_engine_spark.operators.dedup import (
        LABEL_SEED_MOD,
        LABEL_SPREAD_ROUNDS,
        q_dedup_minhash_lsh,
        q_graph_label_spread,
    )

    pairs = [
        (r.doc_id_a, r.doc_id_b)
        for r in q_dedup_minhash_lsh(spark, sf_dir).collect()
    ]
    assert pairs
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    src_of = {
        r.doc_id: r.source
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    labeled = {
        n: (src_of[n], 0) for n in adj if n % LABEL_SEED_MOD == 0
    }
    for rnd in range(1, LABEL_SPREAD_ROUNDS + 1):
        new = {}
        for n in adj:
            if n in labeled:
                continue
            votes = Counter(
                labeled[m][0] for m in adj[n] if m in labeled
            )
            if votes:
                best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
                new[n] = (best, rnd)
        labeled.update(new)

    got = {
        r.doc_id: (r.label, r.labeled_round)
        for r in q_graph_label_spread(spark, sf_dir).collect()
    }
    assert got == labeled
    # non-vacuous: propagation actually happened beyond the seeds
    assert any(rnd > 0 for _, rnd in got.values())


def test_triangles_match_python_model(spark, sf_dir):
    """Independent pure-Python triangle count over the same pair list:
    per-node triangle counts, degrees, and coefficients must match."""
    from itertools import combinations

    from simple_query_engine_spark.operators.dedup import (
        q_dedup_minhash_lsh,
        q_graph_triangles_neardup,
    )

    pairs = {
        (r.doc_id_a, r.doc_id_b)
        for r in q_dedup_minhash_lsh(spark, sf_dir)
        .select("doc_id_a", "doc_id_b")
        .collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {n: 0 for n in adj}
    for n, nbrs in adj.items():
        for u, v in combinations(sorted(nbrs), 2):
            if v in adj.get(u, ()):  # noqa: SIM118 - set membership
                tri[n] += 1
    got = {r.doc_id: r for r in q_graph_triangles_neardup(spark, sf_dir).collect()}
    assert set(got) == set(adj)
    for n in adj:
        deg = len(adj[n])
        assert got[n].degree == deg, n
        assert got[n].n_triangles == tri[n], n
        expect_cc = round(2 * tri[n] / (deg * (deg - 1)), 4) if deg >= 2 else 0.0
        assert got[n].clustering_coeff == expect_cc, n
    # Global identity: each triangle contributes 3 node-credits.
    assert sum(r.n_triangles for r in got.values()) % 3 == 0


def test_substring_spans_match_python_model(spark, sf_dir):
    """Full-corpus reference model: recompute the 8-word window dup flags
    and the gaps-and-islands run collapse in plain Python and require
    exact per-doc equality on every output column."""
    import re
    from collections import defaultdict

    got = {r.doc_id: r for r in D.q_dedup_substring_spans(spark, sf_dir).collect()}
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    k = D.DUP_SPAN_WORDS
    spans: dict[int, list[str]] = {}
    for d in docs:
        w = re.sub(r"\s+", " ", d.text.lower()).strip().split(" ")
        spans[d.doc_id] = (
            [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]
            if len(w) >= k
            else []
        )
    docs_of: dict[str, set[int]] = defaultdict(set)
    for did, sp in spans.items():
        for s in sp:
            docs_of[s].add(did)
    assert set(got) == set(spans)
    saw_dup_run = False
    for did, sp in spans.items():
        flags = [len(docs_of[s]) >= 2 for s in sp]
        runs: list[int] = []
        cur = 0
        for f in flags:
            if f:
                cur += 1
            elif cur:
                runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        r = got[did]
        assert r.n_spans == len(sp), did
        assert r.dup_spans == sum(flags), did
        assert r.n_runs == len(runs), did
        assert r.max_dup_words == ((max(runs) + k - 1) if runs else 0), did
        expect_ppm = (sum(flags) * 1_000_000) // len(sp) if sp else 0
        assert r.dup_span_ppm == expect_ppm, did
        saw_dup_run = saw_dup_run or bool(runs)
    # The synthetic corpus plants near-dups — the entry must be non-vacuous.
    assert saw_dup_run

def test_kcore_matches_python_model(spark, sf_dir):
    """Pure-Python synchronized peeling over the same near-dup pair list:
    peel rounds, core membership, and in-core degrees must match exactly
    (set arithmetic — equality is literal).  Also asserts the declared
    fixed round count REACHES the fixpoint at the test SFs: one extra
    round removes nobody."""
    pairs = {
        (r.doc_id_a, r.doc_id_b)
        for r in D.q_dedup_minhash_lsh(spark, sf_dir)
        .select("doc_id_a", "doc_id_b")
        .collect()
    }
    assert pairs, "fixture must produce a non-empty near-dup graph"
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    peel_round = {n: 0 for n in adj}
    for r in range(1, D.KCORE_ROUNDS + 1):
        deg = {n: sum(1 for m in adj[n] if m in alive) for n in alive}
        dropped = {n for n in alive if deg[n] < D.KCORE_K}
        for n in dropped:
            peel_round[n] = r
        alive -= dropped
    # Fixpoint check: the declared fixed R suffices on this corpus.
    extra = {n for n in alive
             if sum(1 for m in adj[n] if m in alive) < D.KCORE_K}
    assert not extra, "KCORE_ROUNDS too small for the test corpus"
    core_deg = {n: sum(1 for m in adj[n] if m in alive) for n in alive}
    got = {r.doc_id: r for r in D.q_graph_kcore_neardup(spark, sf_dir).collect()}
    assert set(got) == set(adj)
    for n in adj:
        assert got[n].peel_round == peel_round[n], n
        assert got[n].in_core == (1 if n in alive else 0), n
        assert got[n].core_degree == core_deg.get(n, 0), n

def _py_cdc_chunks(words: list[str]) -> list[tuple[int, str]]:
    """Reference chunker: (chunk_words, digest) list for one document."""
    import hashlib

    n = len(words)
    interior = [
        i
        for i in range(D.CDC_WINDOW, n)  # 1-based i in [W, n-1]
        if int(
            hashlib.md5(
                " ".join(words[i - D.CDC_WINDOW : i]).encode()
            ).hexdigest()[:15],
            16,
        )
        % D.CDC_MASK_MOD
        == 0
    ]
    ends = interior + [n]
    starts = [1] + [e + 1 for e in interior]
    return [
        (
            e - s + 1,
            hashlib.md5(" ".join(words[s - 1 : e]).encode()).hexdigest(),
        )
        for s, e in zip(starts, ends)
    ]


def test_cdc_chunks_match_python_model(spark, sf_dir):
    """Full-corpus reference model: boundary rule, chunk ranges, digests,
    cross-doc dup flags, and every per-doc output column must match
    exactly."""
    import re
    from collections import defaultdict

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    chunks = {
        d.doc_id: _py_cdc_chunks(
            re.sub(r"\s+", " ", d.text.lower()).strip().split(" ")
        )
        for d in docs
    }
    docs_of: dict[str, set[int]] = defaultdict(set)
    for did, cl in chunks.items():
        for _, h in cl:
            docs_of[h].add(did)
    got = {r.doc_id: r for r in D.q_dedup_cdc_chunks(spark, sf_dir).collect()}
    assert set(got) == set(chunks)
    saw_dup = False
    for did, cl in chunks.items():
        n_words = sum(cw for cw, _ in cl)
        dup = [(cw, h) for cw, h in cl if len(docs_of[h]) >= 2]
        r = got[did]
        assert r.n_words == n_words, did
        assert r.n_chunks == len(cl), did
        assert r.dup_chunks == len(dup), did
        assert r.dup_words == sum(cw for cw, _ in dup), did
        assert r.dup_word_ppm == sum(cw for cw, _ in dup) * 1_000_000 // n_words
        saw_dup = saw_dup or bool(dup)
    assert saw_dup  # planted near-dups make the entry non-vacuous


def test_cdc_chunks_shift_resistance(spark, tmp_path):
    """The property CDC exists for: prepending junk words to a document
    shifts every fixed-width window but leaves chunk identities intact
    from the first post-junk boundary on — all but (at most) the first
    chunk of the original must dedup against the shifted copy."""
    from pyspark.sql import Row

    base = [f"tok{i}alpha" for i in range(150)]  # distinct → no self-dups
    shifted = ["junkx", "junky", "junkz"] + base
    rows = [
        Row(
            doc_id=1,
            text=" ".join(base),
            lang="en",
            source="s",
            n_chars=len(" ".join(base)),
        ),
        Row(
            doc_id=2,
            text=" ".join(shifted),
            lang="en",
            source="s",
            n_chars=len(" ".join(shifted)),
        ),
    ]
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "documents.parquet"))
    a_chunks = _py_cdc_chunks(base)
    assert len(a_chunks) >= 3, "need interior boundaries for a meaningful test"
    got = {
        r.doc_id: r
        for r in D.q_dedup_cdc_chunks(spark, str(tmp_path)).collect()
    }
    assert got[1].n_chunks == len(a_chunks)
    assert got[1].dup_chunks >= len(a_chunks) - 1, got[1]
    assert got[2].dup_chunks >= len(a_chunks) - 1, got[2]


def test_incremental_components_equal_full_recompute(spark, sf_dir):
    """The incremental maintenance path (standing labels + reduced-graph
    propagation over the delta) must produce EXACTLY the cluster table a
    full recompute over all planted pairs produces — and the reduced
    graph it propagates over must be batch-sized, not corpus-sized."""
    sig = D.session_cache(
        lambda: D._minhash_sig_of(
            D._shingles_of(
                D._planted_documents(spark, sf_dir),
                sf_dir,
                "dedup_shingles_planted",
            )
        ),
        sf_dir,
        "dedup_minhash_sig_planted",
    )
    full_pairs = D._minhash_lsh_pairs(sig, D.PLANTED_JACCARD_THRESHOLD).select(
        "doc_id_a", "doc_id_b"
    )
    want = {
        (r.cluster_id, r.cluster_size, r.keep_doc_id)
        for r in D._cluster_components(full_pairs).collect()
    }
    got = {
        (r.cluster_id, r.cluster_size, r.keep_doc_id)
        for r in D.q_graph_components_incremental(spark, sf_dir).collect()
    }
    assert got == want
    assert got, "planted corpus must produce clusters"
    # Non-vacuity: batch docs were absorbed — some cluster grew beyond the
    # standing (corpus-only) components.
    from pyspark.sql import functions as F

    corpus_pairs = D._minhash_lsh_pairs(
        sig.filter(F.col("doc_id") < D.PLANT_DOC_OFFSET),
        D.PLANTED_JACCARD_THRESHOLD,
    ).select("doc_id_a", "doc_id_b")
    standing_mass = sum(
        r.cluster_size for r in D._cluster_components(corpus_pairs).collect()
    )
    assert sum(s for _, s, _ in got) > standing_mass
    # Cost bound: the delta (batch↔corpus + batch↔batch pairs) and hence
    # the reduced propagation graph is a small fraction of the full pair
    # graph at every SF (batch = 1/PLANT_DOC_MOD of the corpus).
    n_full = full_pairs.count()
    n_delta = (
        D.q_dedup_incremental_minhash(spark, sf_dir).count()
        + D._minhash_lsh_pairs(
            sig.filter(F.col("doc_id") >= D.PLANT_DOC_OFFSET),
            D.PLANTED_JACCARD_THRESHOLD,
        ).count()
    )
    assert 0 < n_delta < n_full


def test_standing_labels_persist_as_managed_snapshot(spark, sf_dir, monkeypatch):
    """VERDICT r14 item 4: the incremental-components standing state is a
    committed managed-table snapshot — built once per corpus, then READ
    by every later run.  Proven by poisoning the builder: after the
    first call commits version 0, `_propagate_labels` is replaced with a
    raiser and the state must still come back, row-identical, from the
    snapshot (the warm path never recomputes the corpus labels)."""
    first = {
        (r.doc_id, r.label)
        for r in D._standing_labels_managed(spark, sf_dir).collect()
    }
    assert first, "planted corpus must have standing clusters"

    def boom(*a, **k):
        raise AssertionError("warm path recomputed the standing labels")

    monkeypatch.setattr(D, "_propagate_labels", boom)
    warm = {
        (r.doc_id, r.label)
        for r in D._standing_labels_managed(spark, sf_dir).collect()
    }
    assert warm == first


def test_cc_state_format_derived_from_pipeline_params(monkeypatch):
    """ADVICE r15: the persisted standing-state format tag is DERIVED
    from the label-pipeline parameters, so changing MinHash size,
    banding, shingle width, the DF cap, or the normalization expression
    invalidates cross-process state automatically — no hand-bumped
    version string to forget."""
    base = D._cc_state_format()
    assert D._CC_STATE_FORMAT == base
    for name, bumped in [
        ("NUM_MINHASH", D.NUM_MINHASH + 1),
        ("MINHASH_BANDS", D.MINHASH_BANDS * 2),
        ("MAX_SHINGLE_DF", D.MAX_SHINGLE_DF + 1),
        ("_SHINGLE_WIDTH", D._SHINGLE_WIDTH + 1),
        ("_NORM", D._NORM + " "),
        ("_MINHASH_PARAMS", D._MINHASH_PARAMS[:-1]),
    ]:
        monkeypatch.setattr(D, name, bumped)
        assert D._cc_state_format() != base, f"{name} not folded into tag"
        monkeypatch.undo()
    assert D._cc_state_format() == base  # deterministic across calls


def test_standing_state_dirs_swept_but_live_snapshot_spared(
    spark, sf_dir, monkeypatch
):
    """ADVICE r15: sqe_cc_standing_* snapshot dirs (one per corpus
    identity) are reclaimed by the TTL sweep once stale — they no longer
    accumulate forever — while the LIVE corpus's snapshot survives the
    sweep even when older than the TTL (it is touched before sweeping)."""
    import os
    import tempfile
    import time

    from simple_query_engine_spark.operators.storage import _SCRATCH_TTL_SEC

    tmp = tempfile.gettempdir()
    stale = os.path.join(tmp, "sqe_cc_standing_oldcorpus_1_2_800_deadbeef")
    os.makedirs(stale, exist_ok=True)
    old = time.time() - _SCRATCH_TTL_SEC - 60
    os.utime(stale, (old, old))

    live = {
        (r.doc_id, r.label)
        for r in D._standing_labels_managed(spark, sf_dir).collect()
    }
    assert live and not os.path.exists(stale)

    # Age the live snapshot past the TTL: the next call must touch it
    # first, sweep, and still read it warm (builder poisoned to prove
    # no rebuild happened).
    live_dirs = [
        os.path.join(tmp, n)
        for n in os.listdir(tmp)
        if n.startswith("sqe_cc_standing_")
    ]
    assert live_dirs
    for p in live_dirs:
        os.utime(p, (old, old))

    def boom(*a, **k):
        raise AssertionError("sweep reaped the live standing snapshot")

    monkeypatch.setattr(D, "_propagate_labels", boom)
    warm = {
        (r.doc_id, r.label)
        for r in D._standing_labels_managed(spark, sf_dir).collect()
    }
    assert warm == live

def test_graph_fast_paths_match_distributed(spark, sf_dir):
    """r18: the three graph-analysis entries grew the same size-adaptive
    driver fast path as connected components.  Both paths must produce
    IDENTICAL rows AND dtypes over the real near-dup fixture graph —
    pagerank (exact integer micro-units), label spread (majority total
    order), k-core (synchronized peeling)."""
    for q in (
        D.q_graph_pagerank_neardup,
        D.q_graph_label_spread,
        D.q_graph_kcore_neardup,
    ):
        fast = q(spark, sf_dir)
        spark.conf.set(D.CC_LOCAL_EDGE_CAP_CONF, "0")
        try:
            slow = q(spark, sf_dir)
            assert fast.dtypes == slow.dtypes, q.__name__
            assert (
                sorted(map(tuple, fast.collect()))
                == sorted(map(tuple, slow.collect()))
            ), q.__name__
        finally:
            spark.conf.unset(D.CC_LOCAL_EDGE_CAP_CONF)


def test_label_spread_null_source_seed_matches_distributed(spark, tmp_path):
    """A seed whose ``source`` is NULL votes a NULL label.  The local
    solve must break the vote tie the way the distributed window does —
    count desc, then label asc with NULLs first — instead of comparing
    None with str.  Docs 0, 1 and 3 are mutual near-duplicates; seeds 0
    (NULL source) and 3 ('b') each give node 1 one vote."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (0, base + " alpha", "en", None, 0),
        (1, base + " beta", "en", "a", 0),
        (3, base + " gamma", "en", "b", 0),
        (4, " ".join(f"v{i}" for i in range(40)), "en", "c", 0),
    ]
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    sf = str(tmp_path)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    fast = sorted(map(tuple, D.q_graph_label_spread(spark, sf).collect()), key=str)
    spark.conf.set(D.CC_LOCAL_EDGE_CAP_CONF, "0")
    try:
        slow = sorted(
            map(tuple, D.q_graph_label_spread(spark, sf).collect()), key=str
        )
    finally:
        spark.conf.unset(D.CC_LOCAL_EDGE_CAP_CONF)
    assert fast == slow
    assert (1, None, 1) in fast
