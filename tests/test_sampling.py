"""Unit tests for the corpus-shaping tier (operators/sampling.py) on
crafted micro-fixtures — the driver-contract test covers oracle parity on
the real tables; these pin exact semantics (hash determinism, packing
boundaries, LM math)."""

from __future__ import annotations

import hashlib
import math

import pytest

from advanced_text_extraction_spark.operators.sampling import (
    pack_sequences,
    stratified_sample,
    unigram_logprob,
)


def _docs(spark, rows, schema="doc_id long, text string, lang string"):
    return spark.createDataFrame(rows, schema)


def _expected_key(doc_id: int, salt: str) -> int:
    return int(hashlib.md5(f"{doc_id}:{salt}".encode()).hexdigest()[:8], 16)


def test_stratified_sample_rates_and_determinism(spark):
    rows = [(i, f"text {i}", "en" if i % 2 == 0 else "es")
            for i in range(400)]
    df = _docs(spark, rows)
    out = stratified_sample(df, "doc_id", "lang",
                            {"en": 1.0, "es": 0.0}, salt="t")
    got = {r["doc_id"]: r for r in out.collect()}
    # rate 1.0 keeps every 'en' doc, rate 0.0 keeps no 'es' doc
    assert set(got) == {i for i in range(400) if i % 2 == 0}
    # the emitted key is exactly the hashlib md5 prefix (engine parity)
    for i in (0, 2, 42):
        assert got[i]["sample_key"] == _expected_key(i, "t")
    # original columns survive
    assert got[0]["text"] == "text 0" and got[0]["lang"] == "en"
    # deterministic: a second run draws the identical sample
    again = stratified_sample(df, "doc_id", "lang",
                              {"en": 1.0, "es": 0.0}, salt="t")
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(got)


def test_stratified_sample_rate_accuracy_and_salt_independence(spark):
    rows = [(i, "x", "en") for i in range(2000)]
    df = _docs(spark, rows)
    a = {r["doc_id"] for r in
         stratified_sample(df, "doc_id", "lang", {"en": 0.5},
                           salt="a").collect()}
    b = {r["doc_id"] for r in
         stratified_sample(df, "doc_id", "lang", {"en": 0.5},
                           salt="b").collect()}
    # ~50% kept (binomial, 2000 draws: ±5 sigma ≈ ±112)
    assert 888 <= len(a) <= 1112 and 888 <= len(b) <= 1112
    # different salts draw (near-)independent samples
    overlap = len(a & b) / max(len(a), 1)
    assert 0.35 <= overlap <= 0.65
    # default_rate=0 drops strata not in the rates map
    none = stratified_sample(df, "doc_id", "lang", {"fr": 1.0}).count()
    assert none == 0


def test_pack_sequences_boundaries(spark):
    # one shard (n_shards=1): docs of 4,3,5,2 words, budget 8
    # starts: 0,4,7,12 → seq 0,0,0,1 ; offsets 0,4,7,4
    rows = [(0, "a b c d"), (1, "e f g"), (2, "h i j k l"), (3, "m n")]
    out = {r["doc_id"]: r for r in pack_sequences(
        _docs(spark, rows, "doc_id long, text string"),
        "doc_id", "text", budget=8, n_shards=1).collect()}
    assert [out[i]["n_tokens"] for i in range(4)] == [4, 3, 5, 2]
    assert [out[i]["seq_idx"] for i in range(4)] == [0, 0, 0, 1]
    assert [out[i]["seq_offset"] for i in range(4)] == [0, 4, 7, 4]
    assert all(out[i]["shard"] == 0 for i in range(4))


def test_pack_sequences_sharding_and_empty_docs(spark):
    rows = [(i, "w " * 10) for i in range(64)] + [(64, ""), (65, None)]
    out = pack_sequences(_docs(spark, rows, "doc_id long, text string"),
                         "doc_id", "text", budget=25, n_shards=4)
    rows_out = out.collect()
    assert len(rows_out) == 66  # empty docs still get a (0-token) slot
    by_shard: dict[int, list] = {}
    for r in rows_out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    # within a shard, cumulative offsets restart per sequence and
    # every sequence except possibly the last holds <= budget start
    for shard_rows in by_shard.values():
        for r in shard_rows:
            assert 0 <= r["seq_offset"] < 25


def test_unigram_logprob_exact_math(spark):
    # corpus: doc1 = "a a b", doc2 = "b c" → counts a:2 b:2 c:1, total 5
    df = _docs(spark, [(1, "a a b"), (2, "b c")],
               "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           unigram_logprob(df, "doc_id", "text").collect()}
    lp = {t: math.log10(n / 5) for t, n in {"a": 2, "b": 2, "c": 1}.items()}
    exp1 = (2 * round(lp["a"], 12) + round(lp["b"], 12)) / 3
    exp2 = (round(lp["b"], 12) + round(lp["c"], 12)) / 2
    assert out[1]["n_tokens"] == 3
    assert out[1]["mean_logprob"] == pytest.approx(round(exp1, 6), abs=1e-9)
    assert out[2]["n_tokens"] == 2
    assert out[2]["mean_logprob"] == pytest.approx(round(exp2, 6), abs=1e-9)


def test_unigram_logprob_rare_scores_lower(spark):
    common = " ".join(["the quick brown fox"] * 20)
    docs = [(i, common) for i in range(20)] + [(99, "zzq qqz zqq")]
    out = {r["doc_id"]: r["mean_logprob"] for r in unigram_logprob(
        _docs(spark, docs, "doc_id long, text string"),
        "doc_id", "text").collect()}
    assert out[99] < out[0] - 1.0  # gibberish ≫ rarer than fluent text
    # docs with no tokens emit no row
    empty = unigram_logprob(
        _docs(spark, [(1, "  "), (2, None)], "doc_id long, text string"),
        "doc_id", "text").count()
    assert empty == 0


def test_stratified_sample_partitioning_invariant(spark):
    """The keep/drop decision is a pure function of (id, salt) — the
    physical partitioning must not change the sample (a random() based
    sampler would fail this)."""
    rows = [(i, "x", "en") for i in range(500)]
    df = _docs(spark, rows)
    a = {r["doc_id"] for r in stratified_sample(
        df.repartition(1), "doc_id", "lang", {"en": 0.3}).collect()}
    b = {r["doc_id"] for r in stratified_sample(
        df.repartition(17), "doc_id", "lang", {"en": 0.3}).collect()}
    assert a == b


def test_pack_sequences_invariants(spark):
    """Packing invariants, any input: (1) every doc keeps its tokens;
    (2) within a (shard, seq_idx), offsets equal the running sum of the
    id-ordered predecessors; (3) a sequence's last doc STARTS inside the
    budget (docs may straddle the boundary, later packers split them)."""
    budget = 37
    rows = [(i, "w " * (i % 23)) for i in range(300)]
    out = pack_sequences(
        _docs(spark, rows, "doc_id long, text string"),
        "doc_id", "text", budget=budget, n_shards=5).collect()
    assert len(out) == 300
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in shard_rows:
            assert r["seq_idx"] == cum // budget
            assert r["seq_offset"] == cum % budget
            assert 0 <= r["seq_offset"] < budget
            cum += r["n_tokens"]


def test_unigram_logprob_partitioning_invariant(spark):
    """Decimal-summed log terms: the mean is bit-identical under any
    partitioning/aggregation order (a double sum would drift in the
    last bits and occasionally flip the 6dp rounding)."""
    rows = [(i, f"tok{i % 17} tok{i % 5} tok{i % 3} common word")
            for i in range(400)]
    df = _docs(spark, rows, "doc_id long, text string")
    a = {r["doc_id"]: r["mean_logprob"] for r in
         unigram_logprob(df.repartition(1), "doc_id", "text").collect()}
    b = {r["doc_id"]: r["mean_logprob"] for r in
         unigram_logprob(df.repartition(13), "doc_id", "text").collect()}
    assert a == b


def test_bigram_logprob_scores_transitions(spark):
    """Bigram conditional-LM semantics: a doc whose transitions are
    deterministic in the corpus model (every head has ONE successor)
    scores mean log10(1) = 0; a doc sharing heads with competing
    successors scores negative; docs with <2 tokens emit no row."""
    from advanced_text_extraction_spark.operators.sampling import \
        bigram_logprob

    docs = [
        (0, "a b c"),        # a→b, b→c … but a also →x in doc 2
        (1, "p q r"),        # unique heads: p(q|p)=p(r|q)=1 → mean 0
        (2, "a x"),          # competes with doc 0's a→b
        (3, "solo"),         # 1 token → no bigrams → no row
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           bigram_logprob(df, "doc_id", "text").collect()}
    assert 3 not in out
    assert out[1]["mean_logprob"] == 0.0 and out[1]["n_bigrams"] == 2
    # doc 0: p(b|a)=1/2 (a heads: b,x), p(c|b)=1 → mean log10 < 0
    assert out[0]["mean_logprob"] == round(
        (-0.301029995664 + 0.0) / 2, 6) == -0.150515
    assert out[2]["mean_logprob"] == -0.30103

    # whitespace edge cases: tabs/newlines around and between tokens,
    # runs of spaces, NULL, empty and blank docs (no bigram, no row)
    texts = ["\ta b\n", "a  b   a b", None, "", "   ", "x",
             "\n\nx y\t", "a b c a b", " a b", "b a"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    rows = sorted((r["doc_id"], r["n_bigrams"], r["mean_logprob"]) for r in
                  bigram_logprob(df, "doc_id", "text").collect())
    assert rows == [(0, 1, 0.0), (1, 3, -0.058697), (6, 1, 0.0),
                    (7, 4, -0.11928), (8, 1, 0.0), (9, 1, -0.176091)]
