"""Text-analysis operators for training-data curation: language id,
quality scoring, token counting, document fingerprinting.

All native column expressions (regexp_count / split / md5 / windows) —
these run on every document of a 100 TB corpus, so staying inside
WholeStageCodegen is the difference between a scan-bound and an
interpreter-bound job. The pandas-UDF language id (kernels/lang.py) is the
engine-internal variant; this module is the SQL-expressible tier exposed
to the driver's DuckDB oracle gate.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import char_count, line_count, word_count
from ..kernels.lang import BOOSTS, SCRIPTS, STOPWORDS


def script_char_class(ranges: tuple[tuple[int, int], ...]) -> str:
    """Regex character class for a tuple of (lo, hi) codepoint ranges —
    literal characters, which Java regex and RE2 (DuckDB) read
    identically, so the SQL twin can share the exact pattern."""
    return "[" + "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in ranges) + "]"

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """F4/A8 + token counting (whitespace words and BPE-ish tokens)."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        char_count(c).alias("n_chars"),
        word_count(c).alias("n_words"),
        line_count(c).alias("n_lines"),
        F.regexp_count(c, F.lit(BPE_TOKEN_RE)).cast("long").alias("n_tokens"),
    )


def quality_exprs(c) -> dict:
    """The quality-score column expressions over a text COLUMN (not a
    DataFrame) — the expression-level surface that lets composite gates
    (``curation.curation_policy``) compute quality inside the
    SAME projection as other row-local signals, one corpus scan total."""
    n = char_count(c)
    # raw (unrounded) ratios feed the blend — summing pre-rounded values
    # lands exactly on 6dp rounding boundaries where engines disagree
    alpha_raw = F.regexp_count(c, F.lit("[A-Za-z]")) / (n + 1e-9)
    punct_raw = F.regexp_count(c, F.lit("[.,;:!?]")) / (word_count(c) + 1e-9)
    stop_raw = F.regexp_count(
        F.lower(c),
        F.lit(r"\b(" + "|".join(sorted(STOPWORDS["en"])) + r")\b"),
    ) / (word_count(c) + 1e-9)
    len_score = F.least(F.lit(1.0), n / F.lit(500.0))
    score = F.round(
        0.25 * len_score + 0.25 * alpha_raw
        + 0.25 * F.least(F.lit(1.0), stop_raw * 4)
        + 0.25 * (1 - F.least(F.lit(1.0), punct_raw)), 6)
    return {
        "alpha_ratio": F.round(alpha_raw, 6),
        "punct_ratio": F.round(punct_raw, 6),
        "stop_ratio": F.round(stop_raw, 6),
        "quality": score,
    }


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Length / punctuation / stopword / alpha ratios → [0,1] score.
    Deterministic linear blend (each ratio rounded before the blend so the
    SQL oracle reproduces it bit-for-bit)."""
    cols = quality_exprs(F.col(text_col))
    return df.select(F.col(id_col),
                     *[v.alias(k) for k, v in cols.items()])


def lang_id_sql(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SQL-expressible language id (SPEC.md §5: stopword marker hits for
    Latin-script profiles, script-range character counts for non-Latin
    ones, Japanese = kana + Han-iff-kana≥2, ≥2 threshold, alphabetical
    tie-break) — the codegen'd COUNTERPART of kernels/lang.py for corpora
    where per-row Python is not worth it. NOT a bit-exact twin of the
    kernel: this tier counts ``\\b``-bounded stopword hits, and ``\\b``
    is ASCII-word-based in both Java regex and RE2, so it can diverge in
    BOTH directions: a stopword butted against digits/underscores
    ('was3the3') contributes no hit here but does in the kernel's
    letters-only tokenizer (undercount), and a marker that is a PREFIX
    of a word continued by an accented letter ('vēl' inside 'vēlāk')
    would count here but not in the kernel (overcount) — which is why
    the marker-choice policy (kernels/lang.py lv note) forbids markers
    that prefix common same-language words with non-ASCII
    continuations. On prose made of whole marker words the tiers label
    identically. (Aligning them fully would need lookbehind — which
    RE2/DuckDB lacks — or an alternation that undercounts adjacent
    stopwords; the honest trade is documented instead.)"""
    c = F.coalesce(F.col(text_col), F.lit(""))
    lowered = F.lower(c)
    hit_cols = {
        lang: F.regexp_count(
            lowered, F.lit(r"\b(" + "|".join(sorted(words)) + r")\b"))
        for lang, words in STOPWORDS.items()
    }
    for lang, ranges in SCRIPTS.items():
        hit_cols[lang] = F.regexp_count(
            c, F.lit(script_char_class(ranges)))
    # script-sharing tier (kernels/lang.py BOOSTS): distinctive-pattern
    # count on the lowered text, plus the base script's count iff ≥ 2
    # (ja's pattern is None: kana count from SCRIPTS plays that role)
    for lang, (base, pat) in BOOSTS.items():
        if pat is not None:
            hit_cols[lang] = F.regexp_count(lowered, F.lit(pat))
        hit_cols[lang] = hit_cols[lang] + F.when(
            hit_cols[lang] >= 2, hit_cols[base]).otherwise(F.lit(0))
    out = df.select(F.col(id_col),
                    *[v.alias(f"hits_{k}")
                      for k, v in sorted(hit_cols.items())])
    best_hits = F.greatest(*[F.col(f"hits_{k}") for k in sorted(hit_cols)])
    pred = F.lit("unknown")
    # alphabetical priority: later (reverse-sorted) langs overwritten by earlier
    for lang in sorted(hit_cols, reverse=True):
        pred = F.when(
            (F.col(f"hits_{lang}") == best_hits) & (best_hits >= 2), lang
        ).otherwise(pred)
    return out.withColumn("lang_pred", pred).select(id_col, "lang_pred")


def lang_id_kernel(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The engine-internal language-id tier (kernels/lang.py
    ``detect_language`` — the same function the extraction pipeline
    stamps ``language`` with) surfaced as a standalone operator so the
    driver's DuckDB oracle can hash-gate it directly against the SQL
    tier's query. Arrow-batched scalar pandas UDF: map-only, zero
    shuffles; per-row Python is the point here (this tier exists for
    callers embedding language id inside a kernel that is already in
    Python), corpora doing ONLY language id should prefer the codegen'd
    ``lang_id_sql``. Same output contract: (id, lang_pred)."""
    from pyspark.sql.functions import pandas_udf

    from ..kernels.lang import detect_language

    @pandas_udf("string")
    def _detect(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(detect_language)

    return df.select(F.col(id_col),
                     _detect(F.col(text_col)).alias("lang_pred"))


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing document fingerprint (rolling-hash sketch): md5 of every
    k-gram, min per sliding window of w positions (truncated at the tail),
    distinct. Summarized to one row per doc.

    A document's fingerprint never needs other documents, so this is one
    Arrow-batched mapInPandas pass — pure map work, zero shuffles (the
    explode+window formulation shuffles every k-gram twice at corpus
    scale; higher-order-function column algebra is interpreted per
    element — both lose badly). hashlib.md5 matches Spark/DuckDB md5, so
    the oracle gate holds; docs shorter than k emit no row."""
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        df.schema[id_col],
        T.StructField("n_fp", T.LongType(), False),
        T.StructField("min_fp", T.StringType(), False),
        T.StructField("max_fp", T.StringType(), False),
    ])

    def kernel(batches):
        for pdf in batches:
            ids, ns, mins, maxs = [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                t = t or ""
                if len(t) < k:
                    continue
                grams = [hashlib.md5(t[j:j + k].encode()).hexdigest()
                         for j in range(len(t) - k + 1)]
                fps = {min(grams[j:j + w]) for j in range(len(grams))}
                ids.append(i)
                ns.append(len(fps))
                mins.append(min(fps))
                maxs.append(max(fps))
            yield pd.DataFrame({id_col: ids, "n_fp": ns,
                                "min_fp": mins, "max_fp": maxs})

    return df.select(id_col, text_col).mapInPandas(kernel, schema=schema)


def _terms(text_col: str):
    """The keyword tokenizer: codegen'd lower + regexp_extract_all."""
    return F.regexp_extract_all(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))), F.lit("[a-z]+"), 0)


def doc_term_freq(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf) table: ONE codegen'd tokenize + explode +
    (id, term)-keyed partial aggregation."""
    tokens = df.select(F.col(id_col), F.explode(_terms(text_col)).alias("term"))
    return tokens.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))


def tfidf_topk(df: DataFrame, id_col: str, text_col: str,
               k: int = 5, min_df: int = 1) -> DataFrame:
    """Per-document top-k keyword extraction by TF-IDF — the classic
    corpus-curation signal (topic tagging, boilerplate spotting, domain
    mixing) the reference has no analog for. Corpus-scale shape:

    - tokenize with ONE codegen'd ``regexp_extract_all`` + explode;
    - term frequency: ONE (doc, term)-keyed exchange with partial
      aggregation (map-side combine collapses within-doc repeats);
    - document frequency: ONE term-keyed exchange over the already
      deduplicated (doc, term) rows — stopword skew collapses map-side;
    - tf ⋈ df equi-join on term: the build side is UNIQUE per key, so
      probe-side skew splits under AQE;
    - corpus size joins in as a BROADCAST 1-row aggregate (no collect);
    - per-doc top-k via row_number over a doc-keyed window, ties broken
      by term for determinism.

    idf is the RATIONAL smooth variant ``(n_docs + 1) / (df + 1)`` — no
    logarithm, deliberately: IEEE division is correctly rounded in both
    Spark (JVM) and DuckDB while ``ln`` is libm-dependent (≤1 ulp), so
    the rational form keeps the DuckDB oracle hash-exact. Score is
    ``tf * (n+1)/(df+1)`` rounded to 6dp.

    The tf table feeds both the df aggregation and the scoring join, so
    the scan + tokenize runs once per branch: codegen'd JVM work, no
    Python. The df aggregation stays a term-keyed groupBy + join rather
    than a term-partitioned window, which AQE could not skew-split on
    stopwords."""
    from pyspark.sql import Window

    tf = doc_term_freq(df, id_col, text_col)
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")).filter(F.col("df") >= min_df)
    n_docs = df.select(
        F.count(F.lit(1)).alias("n_docs"))  # 1 row → broadcast join
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("score", F.round(
                  F.col("tf") * (F.col("n_docs") + F.lit(1.0))
                  / (F.col("df") + F.lit(1.0)), 6)))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "term",
                    F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"),
                    "score", F.col("rank").cast("int").alias("rank")))


def bm25_topk(df: DataFrame, id_col: str, text_col: str,
              k: int = 5, k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Per-document top-k terms by BM25 — tfidf_topk's ranking sibling
    with the Okapi length-normalized tf saturation (long boilerplate
    docs stop dominating, repeated terms stop scaling linearly):

        score = idf_r * tf*(k1+1) / (tf + k1*(1 - b + b*len/avgdl))

    with the same RATIONAL smooth idf ``(n_docs+1)/(df+1)`` as
    tfidf_topk (no logarithm). Every factor is a double multiply/divide
    — correctly rounded IEEE ops that Spark and DuckDB evaluate
    bit-identically when the oracle mirrors the expression tree, so the
    driver hash gate holds without precision games.

    Scale shape: the (id, term, tf) table (``doc_term_freq``) feeds the
    term-keyed df aggregation (unique-per-key build side) and the
    scoring join; the doc length is a window sum over the doc-keyed
    exchange the top-k window reads anyway. n_docs and avgdl come from
    ONE map-side aggregate over the raw input — per-doc token counts,
    docs with ≥1 token only (ids are unique, as tfidf_topk's n_docs
    also assumes) — broadcast as a 1-row table."""
    from pyspark.sql import Window

    tf = doc_term_freq(df, id_col, text_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = df.select(F.size(_terms(text_col)).alias("n")) \
        .where(F.col("n") > 0).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n") / F.count(F.lit(1))).alias("avgdl"))  # 1 row
    idf_r = (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
    tf_d = F.col("tf").cast("double")
    sat = (tf_d * (F.lit(k1) + F.lit(1.0))
           / (tf_d + F.lit(k1) * (F.lit(1.0) - F.lit(b)
                                  + F.lit(b) * (F.col("doclen")
                                                / F.col("avgdl")))))
    scored = (tf.join(dfreq, "term")
              .withColumn("doclen",
                          F.sum("tf").over(Window.partitionBy(id_col)))
              .crossJoin(F.broadcast(corpus))
              .withColumn("score", F.round(idf_r * sat, 6)))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "term",
                    F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"),
                    F.col("doclen").cast("long").alias("doclen"),
                    "score", F.col("rank").cast("int").alias("rank")))
