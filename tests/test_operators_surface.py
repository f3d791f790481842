"""Direct tests for module surface flagged untested in VERDICT r1 #7:
``with_confidence_filter`` (P6), ``history_top_n`` (W2 module twin),
the J1 bucket-level resume filter — plus the r2 scale levers in
``similarity`` (parameterized n_bits, multi-band recall union,
recommended_n_bits sizing)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from advanced_text_extraction_spark.operators import similarity as S
from advanced_text_extraction_spark.operators.extract import (
    EXTRACTOR_VERSION,
    extract,
    with_confidence_filter,
)
from advanced_text_extraction_spark.operators.windows import history_top_n
from advanced_text_extraction_spark.plans.pipeline import run_extract_job
from advanced_text_extraction_spark.sources import catalog


# ---------------------------------------------------------------------------
# P6 — confidence threshold filter
# ---------------------------------------------------------------------------

def test_with_confidence_filter(spark, transcripts_path):
    out = extract(spark.read.parquet(transcripts_path).repartition(4)).cache()
    # fixture mix has plain (1.0) and html/pdf (0.95) turns — a 0.99
    # threshold keeps exactly the plain ones
    kept = with_confidence_filter(out, 0.99)
    assert kept.count() == out.filter(F.col("confidence") >= 0.99).count()
    assert kept.filter(F.col("confidence") < 0.99).count() == 0
    assert set(kept.select("content_type").distinct().toPandas()
               .content_type) == {"text"}
    # threshold 0 keeps everything
    assert with_confidence_filter(out, 0.0).count() == out.count()
    out.unpersist()


# ---------------------------------------------------------------------------
# W2 — history top-N module function
# ---------------------------------------------------------------------------

def test_history_top_n(spark):
    rows = [(i, f"t-{i:03d}", "x" * 200) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, ts string, text string")
    out = history_top_n(df, "ts", 7, preview_col="text",
                        preview_len=100).toPandas()
    assert list(out.id) == list(range(49, 42, -1))  # newest first
    assert (out.preview.str.len() == 100).all()     # text[:100] contract
    # without a preview column, no preview col appears
    assert "preview" not in history_top_n(df, "ts", 3).columns


# ---------------------------------------------------------------------------
# J1 — bucket-level resume filter
# ---------------------------------------------------------------------------

def _resume_filter(pre, spark, root, version):
    """What ``flagship_plan(skip_buckets=)`` does with the probe's ids."""
    done = catalog.completed_buckets(spark, root, version, 4)
    return pre.filter(~F.col("part_bucket").isin(done)) if done else pre


def test_resume_anti_join(spark, transcripts_path, tmp_path):
    from advanced_text_extraction_spark.plans.pipeline import prepare

    root = str(tmp_path / "wh")
    df = spark.read.parquet(transcripts_path)
    # before any lineage exists: passthrough
    pre = prepare(df, n_buckets=4)
    assert _resume_filter(pre, spark, root,
                          EXTRACTOR_VERSION).count() == pre.count()
    # complete buckets {0, 1}; the filter must drop exactly those rows
    run_extract_job(spark, df, root, n_buckets=4, salt=2,
                    only_buckets=[0, 1])
    remaining = _resume_filter(pre, spark, root, EXTRACTOR_VERSION)
    expect = pre.filter(~F.col("part_bucket").isin([0, 1]))
    assert remaining.count() == expect.count()
    assert remaining.filter(F.col("part_bucket").isin([0, 1])).count() == 0
    # a different extractor version sees no completed work
    assert _resume_filter(pre, spark, root,
                          "other/9.9").count() == pre.count()


def test_lineage_without_output_rescan(spark, transcripts_path, tmp_path):
    """Lineage values come from the extraction pass + parquet footers —
    and they must match what is actually on disk."""
    root = str(tmp_path / "wh2")
    df = spark.read.parquet(transcripts_path)
    stats = run_extract_job(spark, df, root, n_buckets=4, salt=2)
    lineage = spark.read.parquet(catalog.lineage_path(root)).toPandas()
    on_disk = catalog.read_extracted(spark, root)
    per_bucket = {r["part_bucket"]: r["n"] for r in
                  on_disk.groupBy("part_bucket").agg(F.count("*").alias("n"))
                  .collect()}
    assert dict(zip(lineage.part_bucket, lineage.output_rows)) == per_bucket
    # input_rows is the TRUE scan size (pre-dedupe); the fixture carries
    # duplicate (conv_id, turn_idx) turns, so it exceeds the on-disk count
    assert stats.input_rows == df.count()
    assert sum(per_bucket.values()) == \
        df.dropDuplicates(["conv_id", "turn_idx"]).count()
    errs_on_disk = {r["part_bucket"]: r["n"] for r in
                    on_disk.filter(F.col("status") == "error")
                    .groupBy("part_bucket").agg(F.count("*").alias("n"))
                    .collect()}
    assert {b: n for b, n in zip(lineage.part_bucket, lineage.error_rows)
            if n} == errs_on_disk
    assert (lineage.input_bytes > 0).all()
    # footer counts agree with the real table
    assert catalog.bucket_row_counts(root) == per_bucket


# ---------------------------------------------------------------------------
# similarity scale levers (VERDICT r1 #5)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def vectors(spark):
    """64 vectors in 24 dims; ids 0..7 share one dominant direction (a
    near-dup cluster — also a skewed bucket), the rest spread out."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(64):
        if i < 8:  # near-dup cluster: same signs on every dim window
            base = [1.0 + 0.01 * rng.random() for _ in range(24)]
        else:
            base = [rng.uniform(-1, 1) for _ in range(24)]
        rows.append((i, [float(x) for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_neardup_wide_blocking_matches_narrow_on_cluster(vectors):
    """n_bits=12 (4096 buckets) must still find the same-sign near-dup
    cluster that n_bits=8 finds — widening the key never splits vectors
    whose sign patterns agree on the wider window."""
    pairs8 = {(r.id_a, r.id_b) for r in S.embedding_neardup_pairs(
        vectors, threshold=0.99, n_bits=8).collect()}
    pairs12 = {(r.id_a, r.id_b) for r in S.embedding_neardup_pairs(
        vectors, threshold=0.99, n_bits=12).collect()}
    cluster = {(a, b) for a in range(8) for b in range(a + 1, 8)}
    assert cluster <= pairs8
    assert cluster <= pairs12
    assert pairs12 <= pairs8  # finer blocking only prunes candidates


def test_neardup_multiband_recovers_recall(vectors):
    """A pair split by band 0's sign flips can be recovered by band 1:
    multi-band candidates are a superset of any single band's."""
    single = {(r.id_a, r.id_b) for r in S.embedding_neardup_pairs(
        vectors, threshold=0.5, n_bits=12, n_bands=1).collect()}
    multi = {(r.id_a, r.id_b) for r in S.embedding_neardup_pairs(
        vectors, threshold=0.5, n_bits=12, n_bands=2).collect()}
    assert single <= multi
    # and the union stays deduplicated
    out = S.embedding_neardup_pairs(vectors, threshold=0.5, n_bits=12,
                                    n_bands=2)
    assert out.count() == out.distinct().count() == len(multi)


def test_recommended_n_bits_scales_with_corpus():
    assert S.recommended_n_bits(10_000) == 1          # tiny corpus
    assert S.recommended_n_bits(2_560_000) == 8       # the r1 default scale
    assert S.recommended_n_bits(10 ** 9) == math.ceil(math.log2(10 ** 9 / 1e4))
    # bucket bound: expected rows per bucket stays ≤ target (uniform signs)
    for n in (10 ** 6, 10 ** 9, 10 ** 12):
        bits = S.recommended_n_bits(n)
        assert n / (2 ** bits) <= 10_000


# ---------------------------------------------------------------------------
# IVF ANN (r2): deterministic seed centroids, argmax assignment, probe
# ---------------------------------------------------------------------------

def test_ivf_assign_centroids_to_themselves(vectors):
    cents = S.seed_centroids(vectors, n_cells=8)
    assert len(cents) == 8 and len(cents[0]) == 24
    out = {r.vec_id: r.cell
           for r in S.ivf_assign(vectors, cents).select("vec_id", "cell")
           .collect()}
    # a centroid's own vector scores cosine 1.0 with itself -> its own cell
    for c in range(8):
        assert out[c] == c
    assert set(out.values()) <= set(range(8))


def test_ivf_full_probe_matches_brute_force(vectors):
    cents = S.seed_centroids(vectors, n_cells=8)
    query = cents[3]
    exact = [(r.vec_id, r.cos_sim)
             for r in S.cosine_topk(vectors, query, k=10).collect()]
    full_probe = [(r.vec_id, r.cos_sim)
                  for r in S.ivf_topk(vectors, query, cents, nprobe=8,
                                      k=10).collect()]
    assert full_probe == exact  # probing every cell = exact search


def test_ivf_narrow_probe_is_subset_and_hits_query_cell(vectors):
    cents = S.seed_centroids(vectors, n_cells=8)
    query = cents[3]
    narrow = S.ivf_topk(vectors, query, cents, nprobe=2, k=10).collect()
    assert all(r.cell in {c for r2 in narrow for c in [r2.cell]}
               for r in narrow)  # only probed cells appear
    assert len({r.cell for r in narrow}) <= 2
    # the query's own centroid cell is always probed first -> vec 3 found
    assert narrow[0].vec_id == 3 and narrow[0].cos_sim == 1.0


# ---------------------------------------------------------------------------
# F8/F13 path functions (r2 — pathlib-parity column expressions)
# ---------------------------------------------------------------------------

def test_path_functions_pathlib_parity(spark):
    from pathlib import PurePosixPath

    from advanced_text_extraction_spark.functions import paths as P

    cases = ["a/b/doc.TXT", "x.tar.gz", ".gitignore", "noext",
             "a/.hidden.txt", "weird..txt", "s3://bkt/k/doc.PDF"]
    df = spark.createDataFrame([(c,) for c in cases], "p string")
    out = df.select("p", P.path_name("p").alias("n"),
                    P.path_stem("p").alias("s"),
                    P.path_ext("p").alias("e"),
                    P.method_for_ext(P.path_ext("p")).alias("m")).collect()
    for r in out:
        pp = PurePosixPath(r.p)
        assert r.n == pp.name
        assert r.s == pp.stem
        assert r.e == pp.suffix.lstrip(".").lower()
    methods = {r.p: r.m for r in out}
    assert methods["s3://bkt/k/doc.PDF"] == "pdf"
    assert methods["a/b/doc.TXT"] == "text"


def test_train_centroids_improves_and_converges(spark):
    """Lloyd's iterations: inertia (sum of 1-cos to the assigned
    centroid) is non-increasing vs the raw seed, the result is
    deterministic, and clearly-separated clusters get distinct cells."""
    import math
    import random

    from pyspark.sql import functions as F

    from advanced_text_extraction_spark.operators import similarity as S

    rng = random.Random(11)
    rows = []
    for i in range(60):  # two well-separated direction clusters
        base = 1.0 if i % 2 == 0 else -1.0
        rows.append((i, [base + 0.05 * rng.random() for _ in range(8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def inertia(cents):
        assigned = S.ivf_assign(df, cents)
        total = 0.0
        for r in assigned.collect():
            c = cents[r["cell"]]
            v = r["embedding"]
            dot = sum(a * b for a, b in zip(v, c))
            nv = math.sqrt(sum(a * a for a in v))
            nc = math.sqrt(sum(a * a for a in c))
            total += 1 - dot / (nv * nc + 1e-12)
        return total

    seed = S.seed_centroids(df, n_cells=4)
    trained = S.train_centroids(df, n_cells=4, n_iter=5)
    assert inertia(trained) <= inertia(seed) + 1e-9
    assert trained == S.train_centroids(df, n_cells=4, n_iter=5)
    # the two sign-clusters resolve to different cells
    cells = {r["vec_id"]: r["cell"]
             for r in S.ivf_assign(df, trained).collect()}
    even = {cells[i] for i in range(0, 60, 2)}
    odd = {cells[i] for i in range(1, 60, 2)}
    assert even.isdisjoint(odd)
    # trained centroids drop into the probe path unchanged
    got = S.ivf_topk(df, [1.0] * 8, trained, nprobe=1, k=3).collect()
    assert len(got) == 3 and all(r["vec_id"] % 2 == 0 for r in got)


def test_lang_id_kernel_matches_sql_tier_on_prose(spark):
    """The pandas-UDF tier (kernels/lang.py via lang_id_kernel) and the
    codegen'd SQL tier must label prose identically — the driver gates
    both against ONE oracle, so tier drift would break the hash gate."""
    from advanced_text_extraction_spark.operators import textstats as TS

    texts = [
        "the cat and the dog is here with you",
        "el perro y los gatos por la casa como siempre",
        "le chat est dans la maison avec vous et nous",
        "der hund ist nicht auf dem tisch und auch nicht",
        "これは日本語のテキストです、漢字も仮名も含む",
        "这是一个中文文本的例子没有任何假名",
        "Это русский текст с кириллицей",
        "",
        None,
        "lorem ipsum dolor sit amet",
    ]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    kern = {r["doc_id"]: r["lang_pred"]
            for r in TS.lang_id_kernel(df, "doc_id", "text").collect()}
    sql = {r["doc_id"]: r["lang_pred"]
           for r in TS.lang_id_sql(df, "doc_id", "text").collect()}
    assert kern == sql
    assert kern[0] == "en" and kern[4] == "ja" and kern[5] == "zh"
    assert kern[7] == kern[8] == kern[9] == "unknown"


def test_lang_id_tier_divergence_on_nonprose_is_the_documented_one(spark):
    """The tiers are documented to diverge on id/log-like text
    (textstats.py: the SQL tier counts \\b-bounded hits, the kernel
    tokenizes letters-only, so 'was3the3' carries kernel hits but no SQL
    hits). Exercise that divergence explicitly so the shared driver gate
    (one oracle for both tiers) is KNOWN to hold only for prose — if a
    tokenizer change ever makes the tiers agree or diverge differently,
    this fires before the corpus-dependent hash gate does (ADVICE r3)."""
    from advanced_text_extraction_spark.operators import textstats as TS

    texts = [
        # digit-butted stopwords: kernel's letters-only tokenizer sees
        # was/the/and/is..., the SQL \b tier sees zero word boundaries
        "was3the3and3is3with3you3for3not3",
        # underscore-glued: \w in Java/RE2 includes '_', so \b never
        # fires inside; kernel splits on non-letters and sees the words
        "the_cat_and_the_dog_is_here_with_you",
    ]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    kern = {r["doc_id"]: r["lang_pred"]
            for r in TS.lang_id_kernel(df, "doc_id", "text").collect()}
    sql = {r["doc_id"]: r["lang_pred"]
           for r in TS.lang_id_sql(df, "doc_id", "text").collect()}
    # the kernel reads English through the glue; the SQL tier cannot
    assert kern[0] == "en" and kern[1] == "en"
    assert sql[0] == "unknown" and sql[1] == "unknown"


def test_tfidf_topk_ranks_distinctive_terms(spark):
    """TF-IDF semantics on a corpus with a known structure: a term that
    appears in every document (boilerplate) must rank below a term
    unique to the document, and rank/tie-break must be deterministic."""
    from advanced_text_extraction_spark.operators import textstats as TS

    docs = [
        (0, "common common zebra zebra zebra"),
        (1, "common yak"),
        (2, "common wolf wolf"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = TS.tfidf_topk(df, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r["rank"])
    # doc 0: zebra (tf=3, df=1 → 3*4/2=6.0) beats common (tf=2, df=3 → 2)
    assert [r["term"] for r in by_doc[0]] == ["zebra", "common"]
    assert by_doc[0][0]["score"] == 6.0 and by_doc[0][0]["df"] == 1
    assert by_doc[1][0]["term"] == "yak"      # 1*4/2=2.0 > common 1.0
    assert by_doc[2][0]["term"] == "wolf"     # 2*4/2=4.0
    # every doc returns at most k rows, ranks are 1..n
    assert all([r["rank"] for r in rows] == list(range(1, len(rows) + 1))
               for rows in by_doc.values())


def test_bm25_topk_length_normalization(spark):
    """BM25 semantics vs plain TF-IDF: equal tf in a SHORTER document
    scores higher (Okapi length normalization), and tf saturates
    sub-linearly rather than scaling linearly."""
    from advanced_text_extraction_spark.operators import textstats as TS

    docs = [
        (0, "zebra common common common common common common common"),
        (1, "zebra pad"),   # same zebra tf=1, much shorter doc
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {(r["doc_id"], r["term"]): r for r in
           TS.bm25_topk(df, "doc_id", "text", k=8).collect()}
    assert out[(1, "zebra")]["score"] > out[(0, "zebra")]["score"]
    # saturation: common has tf=7 but scores < 7x zebra's in-doc score
    assert out[(0, "common")]["score"] < 7 * out[(0, "zebra")]["score"]
    assert out[(0, "common")]["doclen"] == 8


def test_ivf_assign_kernel_matches_expression_tier(spark):
    """The Arrow/numpy assignment tier (corpus-scale path) and the
    JVM expression tier (driver-gated reference) must agree cell-for-
    cell on real embeddings, and the kernel-trained centroids must
    match the expression-trained ones to float tolerance."""
    from advanced_text_extraction_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.seed_centroids(emb, n_cells=16)
    expr = {r["vec_id"]: r["cell"]
            for r in S.ivf_assign(emb, cents).collect()}
    kern = {r["vec_id"]: r["cell"]
            for r in S.ivf_assign_kernel(emb, cents).collect()}
    assert expr == kern

    t_expr = S.train_centroids(emb, n_cells=8, n_iter=2)
    t_kern = S.train_centroids(emb, n_cells=8, n_iter=2, kernel=True)
    assert len(t_expr) == len(t_kern)
    for a, b in zip(t_expr, t_kern):
        assert max(abs(x - y) for x, y in zip(a, b)) < 1e-9
