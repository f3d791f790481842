"""Unit tests for the curation tier (operators/curation.py) on crafted
micro-fixtures — the driver-contract test covers oracle parity on the real
tables; these pin the exact semantics of each rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from advanced_text_extraction_spark.operators.curation import (
    decontaminate,
    gopher_quality_flags,
    paragraph_dedup,
    pii_redact,
    repetition_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_dup_lines(spark):
    # 4 non-blank lines, 3 distinct; dup chars beyond first = len("aaa")=3
    # of total 3+8+3+8=22; paragraphs: ["aaa\nbb..", "aaa\nsingular"] distinct
    text = "aaa\nbb cc dd\n\naaa\nsingular"
    row = repetition_stats(_docs(spark, [(1, text)]),
                           "doc_id", "text").first()
    assert row["n_lines"] == 4
    assert row["dup_line_frac"] == pytest.approx(0.25)
    assert row["dup_char_frac"] == pytest.approx(3 / 22, abs=1e-6)
    assert row["n_paras"] == 2
    assert row["dup_para_frac"] == 0.0


def test_repetition_stats_empty_and_null(spark):
    out = {r["doc_id"]: r for r in repetition_stats(
        _docs(spark, [(1, ""), (2, None), (3, "x\nx")]),
        "doc_id", "text").collect()}
    assert out[1]["n_lines"] == 0 and out[1]["dup_line_frac"] == 0.0
    assert out[2]["n_lines"] == 0 and out[2]["dup_char_frac"] == 0.0
    assert out[3]["dup_line_frac"] == 0.5 and out[3]["dup_char_frac"] == 0.5


def test_gopher_flags(spark):
    good = ("the quick brown fox jumps with vigor over the lazy dog and "
            "then rests beside a quiet stream of water that runs through "
            "the valley floor where animals gather every morning to drink "
            "and be seen by the watchful herons that have nested there "
            "for many seasons now ") * 2  # >50 words, clean prose
    symbol_spam = "### " * 60 + "the of and"
    bullets = "\n".join(f"- item {i}" for i in range(40))
    out = {r["doc_id"]: r for r in gopher_quality_flags(
        _docs(spark, [(1, good), (2, symbol_spam), (3, bullets)]),
        "doc_id", "text").collect()}
    assert out[1]["gopher_keep"] is True
    assert out[2]["flag_symbol_ratio"] is False
    assert out[2]["gopher_keep"] is False
    assert out[3]["flag_bullet"] is False
    # numeric-only tokens fail the alpha-word rule
    assert out[3]["alpha_word_frac"] < 1.0


def test_gopher_stop_hits_distinct_words(spark):
    # 'the' repeated 60x = 1 distinct stopword → flag_stopwords False
    row = gopher_quality_flags(
        _docs(spark, [(1, "the " * 60)]), "doc_id", "text").first()
    assert row["stop_hits"] == 1
    assert row["flag_stopwords"] is False


def test_decontaminate_exact_and_clean(spark):
    train = _docs(spark, [
        (1, "alpha beta gamma delta epsilon"),          # = bench doc
        (2, "one two three four five six"),             # disjoint
        (3, "zeta alpha beta gamma delta NEW TAIL"),     # partial overlap
    ])
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon")])
    out = {r["doc_id"]: r for r in decontaminate(
        train, bench, "doc_id", "text").collect()}
    assert out[1]["contamination"] == 1.0 and out[1]["flagged"] is True
    assert out[2]["contamination"] == 0.0 and out[2]["flagged"] is False
    # doc 3 grams: 5 total, 2 contaminated ("alpha beta gamma",
    # "beta gamma delta")
    assert out[3]["n_grams"] == 5 and out[3]["n_contaminated"] == 2
    assert out[3]["flagged"] is True  # 0.4 >= 0.2


def test_decontaminate_short_docs_emit_no_row(spark):
    train = _docs(spark, [(1, "just two")])
    bench = _docs(spark, [(9, "a b c d")])
    assert decontaminate(train, bench, "doc_id", "text").count() == 0


def test_pii_redact(spark):
    text = ("Write to a@b.co or jane.doe+x@corp.example.com, "
            "host 192.168.0.1, call +44 20 7946 0958 now")
    row = pii_redact(_docs(spark, [(1, text)]), "doc_id", "text").first()
    assert row["n_emails"] == 2
    assert row["n_ips"] == 1
    assert row["n_phones"] == 1
    assert row["redacted"] == ("Write to <EMAIL> or <EMAIL>, "
                               "host <IP>, call <PHONE> now")


def test_pii_redact_ip_not_eaten_by_phone(spark):
    # without the fixed order, the phone pattern could consume IP digits
    row = pii_redact(_docs(spark, [(1, "+1 23 45 67 89 at 10.0.0.1")]),
                     "doc_id", "text").first()
    assert row["redacted"] == "<PHONE> at <IP>"


def test_paragraph_dedup_keeper_and_counts(spark):
    shared = "Subscribe to our newsletter."
    docs = _docs(spark, [
        (5, f"unique five\n\n{shared}"),
        (2, f"{shared}\n\nunique two"),
        (9, shared),
    ])
    out = paragraph_dedup(docs, "doc_id", "text")
    hot = out.filter(F.col("n_copies") == 3).collect()
    assert len(hot) == 1
    # keeper = lexicographically smallest (doc_id, para_idx) = (2, 0)
    assert (hot[0]["keeper_id"], hot[0]["keeper_idx"]) == (2, 0)
    assert out.count() == 3  # shared + 2 uniques
    assert out.filter("n_copies = 1").count() == 2


def test_paragraph_dedup_blank_paragraphs_excluded(spark):
    docs = _docs(spark, [(1, "a\n\n\n\nb")])  # middle split part is blank
    out = paragraph_dedup(docs, "doc_id", "text").collect()
    assert len(out) == 2
    assert all(r["n_copies"] == 1 for r in out)


def test_curation_policy_composes_gates(spark):
    """Composite keep/drop: a fluent doc passes all three tiers; an
    empty doc has no LM row and must FAIL (not null-pass) the lm gate;
    reasons list failed gates in the fixed gopher,quality,lm order."""
    from advanced_text_extraction_spark.operators.curation import \
        curation_policy

    fluent = ("the quick brown fox jumps over the lazy dog and then "
              "runs away to the forest where it has a nice den and "
              "sleeps all day long with its family in the warm sun "
              "while the birds are singing in the trees above them "
              "and the river flows gently past the old stone bridge "
              "near the quiet village where people walk their dogs")
    docs = [(0, fluent), (1, ""), (2, "@@ ## $$ %% ^^ && **")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           curation_policy(df, "doc_id", "text").collect()}
    assert out[0]["keep"] is True and out[0]["reasons"] == ""
    assert out[1]["keep"] is False and "lm" in out[1]["reasons"]
    assert out[2]["keep"] is False
    # fixed order: any multi-failure lists gopher before quality before lm
    r2 = out[2]["reasons"].split(",")
    assert r2 == sorted(r2, key=["gopher", "quality", "lm"].index)


def _composed_policy(df, id_col, text_col, min_quality=0.3,
                     min_logprob=-4.0):
    """Reference for ``curation_policy``: the three standalone
    oracle-gated operators, each scanning the corpus, joined on id."""
    from advanced_text_extraction_spark.operators.sampling import \
        unigram_logprob
    from advanced_text_extraction_spark.operators.textstats import \
        quality_score

    g = gopher_quality_flags(df, id_col, text_col) \
        .select(id_col, "gopher_keep") \
        .join(quality_score(df, id_col, text_col)
              .select(id_col, "quality"), id_col)
    u = unigram_logprob(df, id_col, text_col) \
        .select(id_col, "mean_logprob")
    j = g.join(u, id_col, "left")
    pass_q = F.col("quality") >= F.lit(min_quality)
    pass_lm = F.coalesce(
        F.col("mean_logprob") >= F.lit(min_logprob), F.lit(False))
    keep = F.col("gopher_keep") & pass_q & pass_lm
    reasons = F.concat_ws(
        ",",
        F.when(~F.col("gopher_keep"), F.lit("gopher")),
        F.when(~pass_q, F.lit("quality")),
        F.when(~pass_lm, F.lit("lm")))
    return j.select(F.col(id_col), keep.alias("keep"),
                    reasons.alias("reasons"))


def test_curation_policy_fused_matches_composed(spark):
    """The fused single-projection gate plan must be value-identical to
    the composition of the three standalone oracle-gated operators — and
    must plan exactly TWO scans of the input (gates + the intrinsically
    corpus-wide LM branch) where the composed form plans three
    (VERDICT r3 #2)."""
    from advanced_text_extraction_spark.operators.curation import \
        curation_policy

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fused = curation_policy(docs, "doc_id", "text")
    composed = _composed_policy(docs, "doc_id", "text")
    assert sorted(map(tuple, fused.collect())) == \
        sorted(map(tuple, composed.collect()))

    def n_scans(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("Relation") + plan.count("LogicalRDD")

    # the LM branch intrinsically references the corpus 3x (tokens,
    # vocab-from-tokens, map-only total — see unigram_logprob's scale
    # note); the fused form collapses the two row-local gate tiers to
    # ONE additional scan, the composed form pays two
    assert n_scans(fused) == n_scans(composed) - 1
    assert n_scans(fused) == 4
