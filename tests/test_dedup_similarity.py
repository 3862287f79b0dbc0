"""Semantic tests for dedup + similarity beyond oracle parity: the
operators must actually FIND the planted structure, not merely agree with
the oracle about whatever they compute."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_weather_data_pipeline_for_philippine_cities_spark.operators import dedup as D
from real_time_weather_data_pipeline_for_philippine_cities_spark.operators import (
    similarity as S,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.sources.registry import (
    load_table,
)


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_near_dup_pairs(docs).collect()
    assert len(pairs) > 0, "corpus has jaccard≈0.99 planted pairs; LSH must surface some"
    assert all(p.jaccard >= 0.8 for p in pairs)
    assert all(p.doc_a < p.doc_b for p in pairs)


def test_minhash_recall_vs_exact(spark, sf_dir):
    """LSH candidates must recover ≥90% of true ≥0.9-SHINGLE-jaccard pairs
    (bands 3×4 → p(miss) ≈ (1-j^4)^3 < 1% at j=0.9). Truth = brute-force
    all-pairs jaccard on the same 3-word shingle sets minhash uses."""
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select("doc_id", F.split(F.lower("text"), " +").alias("t"))
        .filter(F.size("t") >= 3)
        .withColumn("hs", D.shingle_hash_expr("t", 3))
        .select("doc_id", "hs")
    )
    a, b = base.alias("a"), base.alias("b")
    truth = {
        (r.doc_a, r.doc_b)
        for r in (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                (
                    F.size(F.array_intersect("a.hs", "b.hs"))
                    / F.size(F.array_union("a.hs", "b.hs"))
                ).alias("j"),
            )
            .filter(F.col("j") >= 0.9)
            .collect()
        )
    }
    found = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_near_dup_pairs(docs, threshold=0.0).collect()
    }
    assert truth, "corpus should contain true shingle-jaccard>=0.9 pairs"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall} over {len(truth)} true pairs"


def test_exact_dedup_one_survivor_per_key(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = D.exact_dedup(docs, F.md5(F.concat_ws("|", "lang", "source")), "doc_id")
    agg = out.groupBy("dedup_key").agg(
        F.sum(F.col("kept").cast("int")).alias("n_kept"), F.count("*").alias("n")
    )
    rows = agg.collect()
    assert all(r.n_kept == 1 for r in rows)
    assert any(r.n > 1 for r in rows), "key must actually group multiple docs"


def test_simhash_near_for_near_dup_docs(spark, sf_dir):
    """Planted near-duplicate pairs should have close simhash signatures
    (small hamming distance) — the property simhash exists for."""
    docs = load_table(spark, sf_dir, "documents")
    near = D.minhash_near_dup_pairs(docs, threshold=0.9).limit(5).collect()
    if not near:
        return
    sims = dict(
        docs.select("doc_id", F.split(F.lower("text"), " +").alias("t"))
        .withColumn("hs32", D.token_hash32_expr("t"))
        .select("doc_id", D.simhash_from_hashes("hs32").alias("s"))
        .rdd.map(lambda r: (r.doc_id, r.s))
        .collect()
    )
    for p in near:
        ham = bin(sims[p.doc_a] ^ sims[p.doc_b]).count("1")
        assert ham <= 6, f"near-dup pair {p.doc_a},{p.doc_b} hamming {ham}"


def test_ann_subset_of_brute_force_scores(spark, sf_dir):
    """ANN must return true cosine scores: every (query, neighbor, cos) it
    emits must equal the brute-force score for that pair."""
    emb = load_table(spark, sf_dir, "embeddings")
    brute = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in S.cosine_topk(emb, F.col("vid") < 10, k=10**6).collect()
    }
    ann = S.ann_lsh_topk(emb, F.col("vid") < 10, n_planes=6, dim=64, k=3).collect()
    assert len(ann) > 0
    for r in ann:
        assert brute[(r.query_id, r.neighbor_id)] == r.cos_sim


def test_ivf_scores_are_true_cosines_and_recall(spark, sf_dir):
    """IVF ANN: every emitted score must equal the brute-force cosine for
    that pair (within float-repr tolerance — IVF scores via normalized
    dot, brute force via dot/(|a||b|)), and recall@3 vs exact top-3 must
    clear a floor with n_probe=2 of 16 cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    brute_rows = S.cosine_topk(emb, F.col("vid") < 10, k=10**6).collect()
    brute = {(r.query_id, r.neighbor_id): r.cos_sim for r in brute_rows}
    top3 = {}
    for r in brute_rows:
        if r.rank <= 3:
            top3.setdefault(r.query_id, set()).add(r.neighbor_id)

    ann = S.ivf_topk(emb, F.col("vid") < 10, n_centroids=16, n_iter=1,
                     n_probe=2, k=3).collect()
    assert len(ann) > 0
    for r in ann:
        assert abs(brute[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-5

    hits = sum(1 for r in ann if r.rank <= 3 and r.neighbor_id in top3.get(r.query_id, set()))
    total = sum(len(v) for v in top3.values())
    recall = hits / total
    assert recall >= 0.6, f"IVF recall@3 {recall}"


def test_stratified_sample_stable_under_repartition(spark, sf_dir):
    """The md5 hash-bucket sample must be a pure function of row ids —
    identical membership no matter how the data is partitioned (the
    property RNG-based sampleBy lacks, and the reason this operator is
    safe for incremental reruns of a training-data mixture)."""
    docs = load_table(spark, sf_dir, "documents")
    fr = {"en": 0.5, "de": 0.25}
    a = sorted(r.doc_id for r in D.stratified_sample(docs, "lang", fr).select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in D.stratified_sample(docs.repartition(17), "lang", fr).select("doc_id").collect()
    )
    c = sorted(
        r.doc_id
        for r in D.stratified_sample(docs.coalesce(1), "lang", fr).select("doc_id").collect()
    )
    assert a == b == c and len(a) > 0
    # dropped strata contribute nothing
    langs = {
        r.lang for r in D.stratified_sample(docs, "lang", fr).select("lang").distinct().collect()
    }
    assert langs <= {"en", "de"}


def test_blocked_near_dup_identical_to_brute_force(spark, sf_dir):
    """The blocked exact all-pairs plan (catalog entry) must emit the
    bit-identical qualifying set and rounded scores as the brute-force
    baseline — losslessness by construction, pinned here so a change to
    the blocking or the accumulation order can't silently drift."""
    emb = load_table(spark, sf_dir, "embeddings")
    blocked = sorted(
        map(tuple, S.near_dup_pairs_cosine_blocked(emb, threshold=0.45, n_blocks=8).collect())
    )
    brute = sorted(map(tuple, S.near_dup_pairs_cosine(emb, threshold=0.45).collect()))
    assert blocked == brute
    assert len(blocked) > 0  # planted structure must actually be found


def test_blocked_near_dup_handles_more_blocks_than_rows(spark):
    """Degenerate blocking (P >> n) must not lose or duplicate pairs."""
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(3)]
    rows.append((3, [1.0, 0.0, 0.0, 0.0]))  # duplicate of vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.near_dup_pairs_cosine_blocked(emb, threshold=0.99, n_blocks=16).collect()
    assert [(r.vec_a, r.vec_b, r.cos_sim) for r in out] == [(0, 3, 1.0)]


def test_zero_norm_vectors_dropped_not_fatal(spark):
    """An all-zero vector is finite and well-formed per finite_vec_pred,
    but its cosine is 0/0 = NaN — before the round-9-advice nrm > 0 gate,
    Spark's quantize floor(NaN) ANSI-aborted the whole job while the
    DuckDB twin sailed on (and, NaN sorting above everything there, could
    even PASS a threshold). Every cosine surface must instead DROP
    zero-norm rows, on both engines, and keep scoring the healthy rest."""
    from pyspark.sql import functions as F

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),       # the zero vector
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),       # dup of 1 -> cos 1.0
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    topk = S.cosine_topk(emb, F.col("vid") == 1, k=3).collect()
    assert {r.neighbor_id for r in topk} == {2, 3}  # 0 dropped, no abort

    ann = S.ann_lsh_topk(emb, F.col("vid") == 1, n_planes=1, dim=4, k=3).collect()
    assert 0 not in {r.neighbor_id for r in ann}

    ann_mt = S.ann_lsh_topk(
        emb, F.col("vid") == 1, n_planes=1, dim=4, k=3, n_tables=2
    ).collect()
    assert 0 not in {r.neighbor_id for r in ann_mt}

    brute = S.near_dup_pairs_cosine(emb, threshold=0.5).collect()
    assert [(r.vec_a, r.vec_b, r.cos_sim) for r in brute] == [(1, 2, 1.0)]

    blocked = S.near_dup_pairs_cosine_blocked(emb, threshold=0.5, n_blocks=4).collect()
    assert [(r.vec_a, r.vec_b, r.cos_sim) for r in blocked] == [(1, 2, 1.0)]

    # query side: a zero-norm QUERY must vanish, not abort
    empty_q = S.cosine_topk(emb, F.col("vid") == 0, k=3).collect()
    assert empty_q == []


def test_star_cc_equals_propagation_on_chain_and_random(spark):
    """large-star/small-star must produce identical components to the
    min-label propagator — including on a 64-node chain (diameter 63,
    the adversarial case propagation needs d rounds for) and on a random
    multi-component graph."""
    from pyspark.sql import functions as F

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    prop = {
        (r.node, r.label) for r in D.connected_components(chain, max_iter=100).collect()
    }
    star = {
        (r.node, r.label)
        for r in D.connected_components_star(chain, max_iter=10).collect()
    }
    assert star == prop
    assert star == {(i, 0) for i in range(64)}

    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    g = spark.createDataFrame(
        [e for e in edges if e[0] != e[1]], "doc_a long, doc_b long"
    )
    prop = {(r.node, r.label) for r in D.connected_components(g).collect()}
    star = {(r.node, r.label) for r in D.connected_components_star(g).collect()}
    assert star == prop


def test_cluster_assign_star_option_matches_default(spark, sf_dir):
    """dedup_cluster_assign(algorithm='star') must assign the identical
    clusters as the propagation default on the real near-dup pair
    pipeline — the deep-graph solver is a drop-in, not a variant
    semantic."""
    import pytest

    from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.base import t

    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_near_dup_pairs(docs)
    default = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in D.dedup_cluster_assign(docs, pairs).collect()
    }
    star = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in D.dedup_cluster_assign(docs, pairs, algorithm="star").collect()
    }
    assert star == default
    prop = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in D.dedup_cluster_assign(docs, pairs, algorithm="propagation").collect()
    }
    assert prop == default
    with pytest.raises(ValueError):
        D.dedup_cluster_assign(docs, pairs, algorithm="bogus")


def test_cluster_assign_auto_falls_back_on_deep_chain(spark):
    """algorithm='auto' must detect an unconverged bounded propagation
    (strict mode raises) and hand the graph to the O(log d) star solver —
    correct labels on a 64-node chain even with a 3-round probe budget."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    with pytest.raises(D.ConvergenceError):
        D.connected_components(chain, max_iter=3, strict=True)
    docs = spark.createDataFrame([(i,) for i in range(64)], "doc_id long")
    auto = {
        (r.doc_id, r.cluster_id)
        for r in D.dedup_cluster_assign(
            docs, chain, algorithm="auto", auto_rounds=3
        ).collect()
    }
    assert auto == {(i, 0) for i in range(64)}


def test_seeded_propagation_converges_in_one_round_on_star_graph(spark):
    """The min-neighbor seed puts star-shaped clusters (the common
    near-dup shape) at the fixpoint immediately: strict propagation with
    max_iter=1 must succeed — the single round only confirms zero
    updates."""
    star_graph = spark.createDataFrame(
        [(0, i) for i in range(1, 20)] + [(100, 101), (100, 102)],
        "doc_a long, doc_b long",
    )
    labels = {
        (r.node, r.label)
        for r in D.connected_components(star_graph, max_iter=1, strict=True).collect()
    }
    expected = {(i, 0) for i in range(20)} | {(n, 100) for n in (100, 101, 102)}
    assert labels == expected


def test_decontamination_flags_planted_overlap(spark):
    """A corpus doc sharing one 8-gram with the benchmark split must be
    flagged with the exact overlap count; a disjoint doc must not."""
    from pyspark.sql import functions as F

    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.decontam import (
        benchmark_overlap,
    )

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    dirty = "prefix words " + "the quick brown fox jumps over the lazy dog"
    clean = "entirely different tokens with no shared eight gram span here"
    short = "too short"
    docs = spark.createDataFrame(
        [(0, bench_text), (1, dirty), (2, clean), (3, short)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_overlap, r.contaminated)
        for r in benchmark_overlap(docs, F.col("doc_id") == 0, n=8).collect()
    }
    assert set(out) == {1, 2, 3}
    # dirty shares the two 8-gram windows of the copied 9-token span
    assert out[1][1] is True and out[1][0] == 2
    assert out[2] == (0, False)
    assert out[3] == (0, False)  # < 8 tokens: no shingles, never flagged


def test_tfidf_planted_unique_term_outranks_common(spark):
    """idf-direction truth table on a planted corpus: a doc-unique term
    must take rank 1 in its doc over a higher-tf corpus-wide term — an
    idf inversion (tf·df instead of tf·N/df) fails this, which the
    real-corpus shape checks below cannot detect."""
    import real_time_weather_data_pipeline_for_philippine_cities_spark.plans.llm_queries as L

    docs = spark.createDataFrame(
        [
            # 'zygote' appears ONCE in doc 0; 'common' floods every doc
            # (tf 3 in doc 0, so raw tf would rank it first).
            (0, "common common common zygote filler"),
            (1, "common common filler filler pad"),
            (2, "common filler pad pad pad"),
            (3, "common pad filler pad filler"),
        ],
        "doc_id long, text string",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = L.q_tfidf_top_terms(spark, d).collect()
    doc0 = sorted((r for r in out if r.doc_id == 0), key=lambda r: r.rank)
    assert doc0[0].term == "zygote", [(r.term, r.tfidf, r.rank) for r in doc0]
    assert doc0[0].df == 1
    # and the corpus-wide term scores tf*N/df = 3*4/4 = 3 < zygote's 1*4/1 = 4
    common = next(r for r in doc0 if r.term == "common")
    assert common.tfidf < doc0[0].tfidf


def test_tfidf_ranks_distinctive_terms_first(spark):
    """Shape checks on the real corpus: contiguous ranks, descending
    scores, sane tf/df."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.catalog import (
        CATALOG,
    )

    out = CATALOG["tfidf_top_terms"].fn(spark, "/root/testdata/sf0.001").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in list(by_doc.items())[:20]:
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        scores = [r.tfidf for r in sorted(rows, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)
        for r in rows:
            assert r.df >= 1 and r.tf >= 1


# -- weighted systematic sampling -------------------------------------------
def test_weighted_sample_deterministic_and_weight_proportional(spark):
    """Invariants of the Madow systematic sampler: at most k picks with
    distinct strictly-increasing pick numbers, repartition-stability (no
    RNG), zero/negative weights never sampled, and a row holding >1/k of
    the total weight is ALWAYS picked (it must cross a threshold)."""
    rows = [(i, (i * 37) % 100 + 1) for i in range(1, 400)]
    rows.append((1000, 200_000))  # dominant row: > 1/k of total weight
    rows.append((1001, 0))        # zero weight: never picked
    df = spark.createDataFrame(rows, "doc_id long, wt long")
    out = D.weighted_systematic_sample(df, "wt", id_col="doc_id", k=50)
    got = {r.doc_id: r.pick_no for r in out.collect()}
    assert len(got) <= 50
    assert 1000 in got
    assert 1001 not in got
    picks = sorted(got.values())
    assert len(picks) == len(set(picks))
    assert all(1 <= p <= 50 for p in picks)

    reparted = D.weighted_systematic_sample(
        df.repartition(7), "wt", id_col="doc_id", k=50
    )
    assert {r.doc_id for r in reparted.collect()} == set(got)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be positive"):
        D.weighted_systematic_sample(df, "wt", id_col="doc_id", k=0)


def test_weighted_sample_expected_counts_track_weight_share(spark):
    """Statistical contract: each stratum's pick share tracks its weight
    share (systematic sampling error < 1 threshold interval per stratum
    boundary; with interleaved strata the deviation stays small)."""
    rows = [(i, 10 if i % 2 == 0 else 90) for i in range(1, 1001)]
    df = spark.createDataFrame(rows, "doc_id long, wt long")
    out = D.weighted_systematic_sample(df, "wt", id_col="doc_id", k=100)
    kept = [r.doc_id for r in out.collect()]
    heavy = sum(1 for d in kept if d % 2 == 1)
    # heavy rows hold 90% of the weight: expect ~90 of 100 picks
    assert heavy >= 75, heavy


def test_pagerank_hand_computed_path_and_star(spark):
    """Integer-lattice recurrence checked against a hand-run of the same
    integer ops on a 3-node path (a-b, b-c) plus an isolated node, and the
    hub of a star must out-rank its leaves."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.graph import (
        PAGERANK_SCALE,
        pagerank_scores,
    )

    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["rank"] for r in pagerank_scores(docs, pairs, iters=3).collect()}

    # hand-run the identical integer recurrence
    base = PAGERANK_SCALE // 4
    deg = {0: 1, 1: 2, 2: 1}
    adj = {0: [1], 1: [0, 2], 2: [1]}
    r = {v: base for v in range(4)}
    for _ in range(3):
        s = {v: sum(r[u] // deg[u] for u in adj.get(v, [])) for v in range(4)}
        r = {v: (15 * base + 85 * s[v]) // 100 for v in range(4)}
    assert got == r
    # isolated node keeps the damped base only
    assert got[3] == (15 * base) // 100

    # star: hub 0 with 4 leaves — hub rank strictly highest
    docs5 = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    star = spark.createDataFrame([(0, i) for i in range(1, 5)], "doc_a long, doc_b long")
    sr = {r["doc_id"]: r["rank"] for r in pagerank_scores(docs5, star).collect()}
    assert sr[0] > max(sr[i] for i in range(1, 5))


def test_pagerank_invariant_under_repartitioning(spark):
    """The integer-lattice claim, tested: ranks are bit-identical whatever
    the physical partitioning of nodes and edges (a double-based PageRank
    fails this — neighbor-sum fold order changes with partitioning)."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.graph import (
        pagerank_scores,
    )

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, j) for i in range(40) for j in range(i + 1, 40) if (i * 7 + j) % 5 == 0],
        "doc_a long, doc_b long",
    )
    base = {r["doc_id"]: r["rank"] for r in pagerank_scores(docs, pairs).collect()}
    skewed = {
        r["doc_id"]: r["rank"]
        for r in pagerank_scores(docs.repartition(7), pairs.repartition(3)).collect()
    }
    assert base == skewed


def test_knn_join_exact_equals_broadcast_topk(spark, sf_dir):
    """The block-pair kernel kNN join must equal the declarative
    cosine_topk with an all-rows query predicate — same quantized scores,
    same rank order, every query covered (operators/knn.py exactness
    argument: each ordered pair lives in exactly one block-pair group)."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.knn import (
        knn_join_exact,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    got = sorted(map(tuple, knn_join_exact(emb, k=3, n_blocks=8).collect()))
    want = sorted(
        map(
            tuple,
            S.cosine_topk(emb, F.lit(True), k=3)
            .select("query_id", "neighbor_id", "cos_sim", "rank")
            .collect(),
        )
    )
    assert got == want
    assert len(got) > 0


def test_knn_join_lsh_equals_ann_all_pred(spark, sf_dir):
    """The per-bucket kernel kNN join must equal ann_lsh_topk with an
    all-rows predicate (same planes, same candidate semantics, same
    quantized cosine) — the local-topk-then-rerank shortcut is lossless."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.knn import (
        knn_join_lsh,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    got = sorted(
        map(tuple, knn_join_lsh(emb, k=3, n_planes=4, n_tables=2).collect())
    )
    want = sorted(
        map(
            tuple,
            S.ann_lsh_topk(
                emb, F.lit(True), n_planes=4, dim=64, k=3, n_tables=2
            )
            .select("query_id", "neighbor_id", "cos_sim", "rank")
            .collect(),
        )
    )
    assert got == want
    assert len(got) > 0


def test_knn_join_degenerate_inputs(spark):
    """More blocks than rows, singleton buckets, and zero vectors must
    degrade cleanly, not crash or emit self/zero pairs."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.knn import (
        knn_join_exact,
        knn_join_lsh,
    )

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),  # zero vector: dropped by the gate
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn_join_exact(emb, k=2, n_blocks=16, dim=4).collect()
    by_q = {}
    for r in out:
        assert r.query_id != r.neighbor_id
        assert 0 not in (r.query_id, r.neighbor_id)
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {1, 2, 3}
    # the duplicate pair ranks first for both members
    assert by_q[1][0].neighbor_id == 2 and by_q[1][0].cos_sim == 1.0
    assert by_q[2][0].neighbor_id == 1 and by_q[2][0].cos_sim == 1.0

    lsh = knn_join_lsh(emb, k=2, n_planes=2, n_tables=2, dim=4).collect()
    assert all(r.query_id != r.neighbor_id for r in lsh)
    assert all(0 not in (r.query_id, r.neighbor_id) for r in lsh)

    # exact path refuses an over-bound corpus loudly
    import pytest

    with pytest.raises(ValueError, match="exceeds the exact-path bound"):
        knn_join_exact(emb, k=1, n_blocks=2, dim=4, max_rows=2)


def test_lsh_buckets_kernel_matches_expression_form(spark):
    """The Arrow kernel behind lsh_buckets_col must give the same bucket
    ids as the per-table expression form, row for row — including the
    malformed rows the docstring promises degrade to bucket 0 per table
    (a null vector and wrong-length vectors, both shorter and longer)."""
    import random

    dim, n_planes = 8, 4
    tables = [S.lsh_planes(n_planes, dim, table=tb) for tb in range(3)]
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(200)]
    rows += [
        (1000, None),
        (1001, [0.5] * (dim - 1)),
        (1002, [0.5] * (dim + 1)),
        (1003, [0.0] * dim),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = df.select(
        "id",
        S.lsh_buckets_col("v", tables, dim).alias("kernel"),
        F.array(*[S.lsh_bucket_col("v", tb) for tb in tables]).alias("expr"),
    ).collect()
    assert len(out) == len(rows)
    for r in out:
        assert list(r.kernel) == list(r.expr), r.id
    by_id = {r.id: list(r.kernel) for r in out}
    for bad in (1000, 1001, 1002, 1003):
        assert by_id[bad] == [0, 0, 0], bad
    # the random rows really spread over buckets, so the parity is not
    # vacuously all-zero
    assert len({tuple(by_id[i]) for i in range(200)}) > 10


def test_connected_components_reliable_mode_never_local_checkpoints(
    spark, monkeypatch
):
    """Under $SPARK_GRAFT_CHECKPOINT=reliable every lineage cut in
    connected_components goes through session.materialize (a reliable
    checkpoint) — no stage may fall back to executor-local blocks — and
    the labels equal the default-mode labels."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11), (20, 21)],
        "doc_a long, doc_b long",
    )
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT", raising=False)
    default = sorted(map(tuple, D.connected_components(edges).collect()))

    def no_local_checkpoint(self, eager=True):  # noqa: ARG001
        raise AssertionError("localCheckpoint called in reliable mode")

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "reliable")
    # patch the concrete class: pyspark.sql.DataFrame is only the base the
    # classic (non-Connect) DataFrame overrides.
    monkeypatch.setattr(type(edges), "localCheckpoint", no_local_checkpoint)
    reliable = sorted(map(tuple, D.connected_components(edges).collect()))
    assert reliable == default
    assert default == [
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    ]
