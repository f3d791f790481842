"""Corpus-shaping operators for training-data pipelines: deterministic
stratified sampling, token-budget sequence packing, and a unigram
language-model quality proxy (the CCNet-style perplexity gate, reduced
to the unigram tier that stays SQL-expressible and oracle-checkable).

The reference (a desktop extractor, `/root/reference/text_extractor.py`)
stops at extraction; these are the stages that turn its output into a
training mix at 100 TB:

- `stratified_sample` is MAP-ONLY: the keep/drop decision is a pure
  function of (id, salt, stratum) — a deterministic md5-derived uniform
  compared against the stratum's rate. No shuffle, no count pass, no
  driver-side state; re-running yields the identical sample (resumable
  pipelines need that), and changing only `salt` draws an independent
  sample for held-out splits.
- `pack_sequences` shuffles ONCE on a shard key, then packs each shard
  independently with a window cumulative sum. Packing quality does not
  need a corpus-wide document order, so the total-sort bottleneck a naive
  formulation hits (one task sorting the corpus) is designed out:
  shards pack in parallel and each emits sequences that are full except
  possibly its last.
- `unigram_logprob` fits the unigram model on the corpus itself in one
  partial-agg-friendly token count, then scores docs with one join and
  one per-doc agg. Hot tokens ("the") are harmless: the vocab side is
  unique per key, so AQE's skew split handles the probe side. Log-prob
  terms are rounded and summed as DECIMAL — decimal addition is exact
  and order-independent, so Spark's partial-agg order and the oracle's
  single-threaded order produce bit-identical means.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_count

# 2^32: the md5-prefix uniform below has exactly 32 bits
_U32 = 4294967296.0


def hash_key(col, salt: str = ""):
    """Deterministic 32-bit integer: the first 8 hex chars of
    md5(value || ':' || salt). md5 is bit-identical across Spark /
    DuckDB / hashlib, so draws are reproducible across engines — the
    property the oracle gate checks. Kept integral (not a rounded
    double) because round-half conventions differ between engines;
    key / 2^32 is an exact uniform in [0, 1) when needed."""
    h = F.md5(F.concat(col.cast("string"), F.lit(":" + salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def hash_uniform(col, salt: str = ""):
    """Deterministic uniform in [0, 1) — see hash_key. The division is
    exact (32-bit int / 2^32 in binary floating point), so rate
    comparisons need no rounding epsilon."""
    return hash_key(col, salt) / F.lit(_U32)


def stratified_sample(df: DataFrame, id_col: str, strata_col: str,
                      rates: dict[str, float], default_rate: float = 0.0,
                      salt: str = "") -> DataFrame:
    """Keep each row iff its deterministic uniform < its stratum's rate —
    per-stratum Bernoulli sampling for rebalancing a training mix
    (e.g. downsample boilerplate-heavy sources, upsample rare
    languages by keeping all of them). Adds the integer draw as
    `sample_key` for audit (sample_key / 2^32 is the uniform).

    Scale shape: map-only filter over the scan — zero shuffles, zero
    passes over the data beyond the one that reads it. Rates arrive as
    a literal CASE expression (strata sets are small — languages,
    sources); a million-stratum variant would broadcast-join a rates
    table instead, still shuffle-free on the corpus side."""
    rate = None
    for k, v in sorted(rates.items()):
        cond = F.col(strata_col) == k
        rate = F.when(cond, F.lit(float(v))) if rate is None \
            else rate.when(cond, F.lit(float(v)))
    rate = F.lit(float(default_rate)) if rate is None \
        else rate.otherwise(F.lit(float(default_rate)))
    return (df.withColumn("sample_key", hash_key(F.col(id_col), salt))
              .where(hash_uniform(F.col(id_col), salt) < rate))


def pack_sequences(df: DataFrame, id_col: str, text_col: str,
                   budget: int = 2048, n_shards: int = 64) -> DataFrame:
    """Greedy token-budget packing: assign each document to a training
    sequence so sequences hold ~`budget` tokens (whitespace word count
    as the token proxy; swap in a tokenizer count column when one
    exists). Output: (id, shard, n_tokens, seq_idx, seq_offset) where
    seq_idx numbers sequences within a shard and seq_offset is the
    document's token offset inside its sequence. A document straddling
    a boundary belongs to the sequence where it starts — packers that
    split documents do so downstream at the tokenizer.

    Scale shape: ONE exchange on the shard key, then a per-shard
    ordered cumulative sum (window, rows unbounded preceding). Packing
    needs no corpus-wide document order — shards pack independently and in
    parallel, so parallelism is n_shards (size it ~4× cluster cores);
    the per-shard sort is the only super-linear cost and it is local.
    A single corpus-wide window would funnel the corpus through ONE task —
    the anti-pattern this shape exists to avoid."""
    n_tok = word_count(F.coalesce(F.col(text_col), F.lit("")))
    # md5-derived shard, not pmod(id): works for ANY id type (a string
    # id would cast to null under pmod and funnel the whole corpus into
    # one null-shard window partition) and is uniform even when numeric
    # ids are clustered or strided
    shard = F.pmod(hash_key(F.col(id_col)), F.lit(n_shards)).cast("int")
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum("n_tokens").over(w)
    start = cum - F.col("n_tokens")  # exclusive prefix: where this doc begins
    return (
        df.select(F.col(id_col), shard.alias("shard"),
                  n_tok.alias("n_tokens"))
        .select(
            id_col, "shard", "n_tokens",
            F.floor(start / budget).cast("int").alias("seq_idx"),
            F.pmod(start, F.lit(budget)).cast("int").alias("seq_offset"),
        )
    )


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unigram LM quality proxy (the SQL-expressible tier of CCNet's
    LM-perplexity gate): fit token frequencies on the corpus itself,
    score each doc by its mean log10 token probability. Gibberish and
    OCR mojibake score far below fluent text because their tokens are
    corpus-rare. Docs with no tokens emit no row.

    Determinism across engines: each token's log10(count/total) is
    rounded to 12dp and cast to DECIMAL(28,12) BEFORE the per-doc sum —
    decimal addition is exact and order-independent, so Spark's
    partial/final agg split and DuckDB's serial fold agree to the bit;
    the mean is then rounded to 6dp like every other ratio the oracle
    hashes.

    Scale shape: (1) token-count aggregation — explode + groupBy(token),
    partial-agg collapses hot tokens map-side so the exchange carries
    ~|vocab| rows per partition; (2) tokens ⋈ vocab — equi-join where
    the build side is unique per key (skewed probe keys split cleanly
    under AQE); (3) per-doc agg — partial-agg again. Three shuffles
    total, each on a uniform or unique-keyed column, none all-pairs.
    The corpus token total comes from a MAP-ONLY word_count sum over
    the un-exploded table (word_count ≡ the exploded token count for
    this tokenizer), not from re-aggregating the vocab — re-using the
    vocab plan would execute the expensive token aggregation twice."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))),
                          r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = df.agg(
        F.sum(word_count(F.coalesce(F.col(text_col), F.lit(""))))
        .alias("total"))
    term = F.round(F.log10(F.col("n") / F.col("total")), 12) \
        .cast("decimal(28,12)")
    scored = (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
             F.sum(term).alias("sum_lp"))
    )
    # cast the EXACT decimal sum to double BEFORE dividing: decimal
    # division result-scale rules differ between engines, double
    # division is IEEE-identical everywhere
    return scored.select(
        F.col(id_col), "n_tokens",
        F.round(F.col("sum_lp").cast("double") / F.col("n_tokens"), 6)
        .alias("mean_logprob"),
    )


def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Bigram conditional-LM quality proxy — the next tier above
    ``unigram_logprob`` toward CCNet's n-gram-LM perplexity gate: fit
    bigram transition counts on the corpus itself, score each doc by its
    mean log10 conditional probability log10(c(w1,w2)/c(w1·)) where
    c(w1·) counts w1 as a bigram HEAD (so the conditional distribution
    sums to 1 per head). Repetitive/templated text scores HIGH (its
    transitions dominate the corpus model), shuffled or mojibake text
    scores LOW — complementary to the unigram tier, which only sees
    token identity. Docs with <2 tokens emit no row.

    Determinism: the same engine-exact recipe as unigram_logprob — each
    term log10 is rounded to 12dp, cast DECIMAL(28,12), weighted by the
    per-doc bigram count (decimal × bigint is exact in both engines),
    decimal-summed, and only the final mean divides as double.

    Scale shape: bigrams come from zipping the token array with itself
    shifted by one — a row-local, codegen'd explode with no exchange
    and no per-doc window. ``array_remove`` drops the empty tokens that
    ``trim`` (spaces only) leaves around tabs and newlines, and
    ``greatest(n, 0)`` keeps ``slice`` off a negative length on empty
    docs. The corpus model counts the bigram rows directly (one
    vocab-sized partial agg; head counts are a window sum over it, no
    extra join), while ONE (doc,w1,w2) partial aggregation collapses
    within-doc repeats for the scoring join. Each branch re-runs the
    codegen'd tokenize: cheaper than a doc-keyed exchange between
    them."""
    arr = F.array_remove(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"), "")
    n = F.greatest(F.size("toks") - 1, F.lit(0))
    bigrams = (
        df.select(F.col(id_col), arr.alias("toks"))
        .select(F.col(id_col), F.explode(F.arrays_zip(
            F.slice("toks", 1, n), F.slice("toks", 2, n))).alias("bg"))
        .select(F.col(id_col), F.col("bg.0").alias("w1"),
                F.col("bg.1").alias("w2")))
    doc_bigrams = bigrams.groupBy(id_col, "w1", "w2").agg(
        F.count(F.lit(1)).alias("dn"))
    bg_counts = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")) \
        .withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
    term = F.round(F.log10(F.col("c12") / F.col("c1")), 12) \
        .cast("decimal(28,12)")
    scored = (doc_bigrams
              .join(bg_counts, ["w1", "w2"])
              .groupBy(id_col)
              .agg(F.sum("dn").cast("long").alias("n_bigrams"),
                   # dn as DECIMAL(8,0): 8+28+1 = 37 ≤ 38, so the
                   # product stays EXACT decimal(37,12) — a long weight
                   # would push precision past Spark's 38 cap and
                   # silently reduce scale (engine divergence)
                   F.sum(F.col("dn").cast("decimal(8,0)") * term)
                   .alias("sum_lp")))
    # exact decimal sum → double BEFORE the division (engine-identical)
    return scored.select(
        F.col(id_col), "n_bigrams",
        F.round(F.col("sum_lp").cast("double") / F.col("n_bigrams"), 6)
        .alias("mean_logprob"))
