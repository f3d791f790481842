"""connected_components / dedup_clusters (the pairs→groups step of the
near-dup chain)."""

from __future__ import annotations

from advanced_text_extraction_spark.operators.dedup import (
    connected_components, dedup_clusters)


def _components(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {r["id"]: r["comp"]
            for r in connected_components(df, **kw).collect()}


def test_chain_and_isolated_pair(spark):
    # a 12-node chain exercises pointer jumping (diameter >> typical
    # near-dup cliques); the pair must stay its own component
    edges = [(i, i + 1) for i in range(11)] + [(100, 101)]
    comp = _components(spark, edges)
    assert {comp[i] for i in range(12)} == {0}
    assert comp[100] == comp[101] == 100
    assert len(comp) == 14


def test_clique_and_reversed_edges(spark):
    # labels must flow against edge direction too
    edges = [(5, 1), (5, 2), (5, 3), (9, 5)]
    comp = _components(spark, edges)
    assert set(comp.values()) == {1}


def test_converges_within_log_iterations(spark):
    # pointer jumping: a 32-node path needs ~log2(32)=5 rounds, not 32
    edges = [(i, i + 1) for i in range(31)]
    comp = _components(spark, edges, max_iter=8)
    assert set(comp.values()) == {0}


def test_round_count_reported_via_stats_hook(spark):
    # the scale bench records how many O(log d) rounds a corpus took;
    # a 2-node pair converges immediately (round 1 changes labels,
    # round 2 is the fixpoint probe), a 32-node path needs ~log2 rounds
    stats: dict = {}
    _components(spark, [(0, 1)], stats=stats)
    assert stats["rounds"] == 2
    stats = {}
    _components(spark, [(i, i + 1) for i in range(31)],
                max_iter=10, stats=stats)
    assert 3 <= stats["rounds"] <= 7


def test_dedup_clusters_groups_near_identical_docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    rows = [(1, base), (2, base), (3, base + " extra"),
            (4, "completely different text about spark catalyst "
                "optimizer plans and shuffle exchanges at scale")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup_clusters(df, "doc_id", "text").collect()}
    assert got[1] == got[2] == 1
    assert got.get(3, 1) == 1  # shares most bands with 1/2
    assert 4 not in got  # no near-dup pair → absent from cluster table


def test_string_ids_use_exact_join_probe(spark):
    # non-integral ids: sum(comp) is NULL, so the cheap sum probe would
    # read None == None as converged after ONE round — the type gate must
    # route string ids to the exact join probe. A 12-node chain needs
    # several rounds, so premature termination yields >1 component.
    edges = [(f"doc{i:02d}", f"doc{i + 1:02d}") for i in range(11)]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    comp = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    assert set(comp.values()) == {"doc00"}
    assert len(comp) == 12


def test_ngram_jaccard_doc_freq_cap(spark):
    from advanced_text_extraction_spark.operators.dedup import (
        ngram_jaccard_pairs, word_shingles)

    boiler = "all rights reserved by the site owner today"
    rows = [(1, "alpha beta gamma delta " + boiler),
            (2, "alpha beta gamma delta " + boiler),
            (3, "epsilon zeta eta theta " + boiler),
            (4, "iota kappa lambda mu " + boiler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = word_shingles(df, "doc_id", "text")

    uncapped = ngram_jaccard_pairs(sh, "doc_id", threshold=0.01)
    assert uncapped.count() == 6  # boilerplate links every pair

    # cap at df<=2: the 4-doc boilerplate shingles drop out; only the
    # truly shared prefix (docs 1,2) remains a pair
    capped = ngram_jaccard_pairs(sh, "doc_id", threshold=0.01,
                                 max_doc_freq=2)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 1.0  # true Jaccard over the filtered universe


def test_ngram_jaccard_shingles_once_per_action(spark):
    """The shingles fork into the size aggregate and both join sides
    (and the doc-frequency cap) above ONE shingle exchange: the final
    plan runs the shingling kernel once and reuses that exchange."""
    from advanced_text_extraction_spark.operators.dedup import (
        ngram_jaccard_pairs, word_shingles)

    rows = [(1, "alpha beta gamma delta all rights reserved"),
            (2, "alpha beta gamma delta all rights reserved"),
            (3, "epsilon zeta eta theta all rights reserved")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for cap, want in ((None, {(1, 2), (1, 3), (2, 3)}), (2, {(1, 2)})):
        plan = ngram_jaccard_pairs(word_shingles(df, "doc_id", "text"),
                                   "doc_id", threshold=0.01,
                                   max_doc_freq=cap)
        assert {(r["id_a"], r["id_b"]) for r in plan.collect()} == want
        final = plan._jdf.queryExecution().executedPlan() \
            .executedPlan().toString()
        assert final.count("MapInPandas") == 1, final
        assert "ReusedExchange" in final, final


def test_simhash_neardup_pairs_exact_recall(spark):
    """Banding recall is EXACT for hamming <= n_bands-1: compare the
    banded operator against a brute-force all-pairs hamming join."""
    from pyspark.sql import functions as F

    from advanced_text_extraction_spark.operators.dedup import (
        simhash32, simhash_neardup_pairs)
    texts = [
        "the quick brown fox jumps over the lazy dog near the river",
        "the quick brown fox jumps over the lazy dog near the river",
        "the quick brown fox jumps over the lazy dog near the creek",
        "completely different words about spark shuffles and parquet",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    ]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_neardup_pairs(df, "doc_id", "text").collect()}
    sims = {r["doc_id"]: r["simhash"]
            for r in simhash32(df, "doc_id", "text").collect()}
    want = {}
    ids = sorted(sims)
    for i in ids:
        for j in ids:
            if i < j:
                h = bin(sims[i] ^ sims[j]).count("1")
                if h <= 3:
                    want[(i, j)] = h
    assert got == want
    assert got[(0, 1)] == 0  # the exact twin pair is present


def test_simhash_sketch_width_tiers_consistent(spark):
    """Spec-bit j lands on output bit j at every width, so the 60-bit
    sketch's LOW 32 bits equal the 32-bit sketch (both read the same
    md5 nibbles), and the wide banding finds the exact twins the
    narrow one finds."""
    from advanced_text_extraction_spark.operators.dedup import (
        simhash_neardup_pairs, simhash_sketch)
    texts = ["dup text one two three", "dup text one two three",
             "something else entirely now"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    s32 = {r["doc_id"]: r["simhash"] for r in
           simhash_sketch(df, "doc_id", "text", 32).collect()}
    s60 = {r["doc_id"]: r["simhash"] for r in
           simhash_sketch(df, "doc_id", "text", 60).collect()}
    assert all(s60[i] & 0xFFFFFFFF == s32[i] for i in s32)
    wide = {(r["id_a"], r["id_b"]): r["hamming"] for r in
            simhash_neardup_pairs(df, "doc_id", "text",
                                  n_bits=60, band_bits=15).collect()}
    assert wide[(0, 1)] == 0


def test_near_dup_and_keyword_plans_are_pure(spark, tmp_path):
    """Building a near-dup or keyword plan launches no Spark job and
    caches nothing; the self-joins still run their Python kernel ONCE,
    because both join sides read one reused exchange. The corpus is read
    from parquet, as the driver queries read it: a small file plans a
    broadcast join whose two sides share no exchange unless the
    operator puts one below the fork."""
    from advanced_text_extraction_spark.operators import dedup as D
    from advanced_text_extraction_spark.operators import sampling as SMP
    from advanced_text_extraction_spark.operators import textstats as TS

    texts = [
        "the quick brown fox jumps over the lazy dog near the river",
        "the quick brown fox jumps over the lazy dog near the river",
        "completely different words about spark shuffles and parquet",
    ]
    spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string") \
        .write.parquet(str(tmp_path / "docs"))
    df = spark.read.parquet(str(tmp_path / "docs"))
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    sc.setJobGroup("plans-are-pure", "build near-dup and keyword plans")
    try:
        lsh = D.lsh_candidate_pairs(df, "doc_id", "text")
        sim = D.simhash_neardup_pairs(df, "doc_id", "text")
        TS.tfidf_topk(df, "doc_id", "text")
        TS.bm25_topk(df, "doc_id", "text")
        SMP.bigram_logprob(df, "doc_id", "text")
        assert list(sc.statusTracker().getJobIdsForGroup(
            "plans-are-pure")) == []
    finally:
        sc._jsc.clearJobGroup()
    assert cache.isEmpty()

    for plan in (lsh, sim):
        assert {(r["id_a"], r["id_b"]) for r in plan.collect()} == {(0, 1)}
        # the AQE final plan of the run that just finished
        final = plan._jdf.queryExecution().executedPlan() \
            .executedPlan().toString()
        assert final.count("MapInPandas") == 1, final
        assert "ReusedExchange" in final, final
