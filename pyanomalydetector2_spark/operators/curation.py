"""Training-data curation operators: benchmark decontamination, train/val
split-leakage detection, and concat-and-chunk sequence packing.

These are the decisions a pretraining-data pipeline executes AFTER dedup
and quality scoring: (1) drop corpus documents that overlap evaluation
benchmarks (else the eval is contaminated), (2) verify that no near-dup
pair straddles the train/validation boundary (else validation loss is
leaked training signal), and (3) pack variable-length documents into
fixed-token-budget shards for the training loader.

Reference analog: none — the reference (pyAnomalyDetector2) has no data
curation surface; the funnel shape (candidate generation → exact confirm →
threshold verdict) mirrors its detector staging (detector.py:150-215).

Scale notes (the 100-TB contract of every op here):
- decontaminate: benchmark sets are small by nature (10^3–10^5 eval rows
  vs 10^12 corpus rows) → the benchmark shingle frame is broadcast; the
  corpus is shingled in ONE scan and never shuffled on anything wider
  than the (id, bench_id) group keys. Long n-grams (default n=8) keep the
  shared-shingle join sparse — short n-grams would make common phrases
  hot keys (the same skew argument as dedup.py's banding cap).
- split_leakage: two hash-joins of the pair frame against a projected
  (id, split) frame — pairs are the small side after near-dup pruning.
- pack_shards: a global concat-and-chunk order would need a single-
  partition window (scale killer). Packing is per-shard: a deterministic
  hash shard key partitions the window, so cumsums parallelize across
  n_shards and each shard's pack stream is independently resumable.
  This is also what production loaders do — shards ARE the unit of
  shuffling and checkpointing.

All hashing is the portable md5-based h60 so every operator is
oracle-replayable in DuckDB (same contract as dedup.py / sampling.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyanomalydetector2_spark.operators.dedup import h60, shingle_frame
from pyanomalydetector2_spark.operators.sampling import _DENOM, sample_bucket
from pyanomalydetector2_spark.functions import local_rows_df


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: (id, bench_id, n_shared) for every corpus
    doc sharing ≥ ``min_shared`` distinct n-gram shingles with a benchmark
    doc. The standard n-gram-overlap test (GPT-3 appendix C / The Pile)
    with long n-grams (default 8) so common short phrases don't alias.

    The benchmark side is broadcast — eval sets are orders of magnitude
    smaller than the corpus, and broadcasting keeps the corpus shingle
    frame shuffle-free until the final (id, bench_id) count."""
    corp_sh = shingle_frame(docs, id_col, text_col, n)
    bid = bench_id_col or id_col
    btx = bench_text_col or text_col
    bench_sh = shingle_frame(benchmark, bid, btx, n).withColumnRenamed(
        "id", "bench_id"
    )
    return (
        corp_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def split_leakage(pairs: DataFrame, splits: DataFrame, id_col: str) -> DataFrame:
    """Near-dup pairs that straddle a train/validation boundary:
    (id_a, id_b, split_a, split_b) where the two sides land in different
    splits. ``pairs`` is any (id_a, id_b) frame (typically the jaccard-
    confirmed near-dup output); ``splits`` carries (id_col, split) —
    e.g. sampling.train_split. Leaked pairs mean the validation loss is
    partially memorization — the check every split pipeline must run."""
    sa = splits.select(
        F.col(id_col).alias("id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col(id_col).alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b")
    )


def pack_shards(
    df: DataFrame,
    id_col: str,
    tokens: Column,
    budget: int,
    n_shards: int,
) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style): documents are laid
    out in a deterministic hash order within each shard, token counts are
    cumsum'd, and every document belongs to the ``budget``-token chunk its
    FIRST token lands in (chunks may straddle a document boundary — the
    standard concat-then-chunk pretraining semantics, not bin packing).

    Output: (id, shard, start_off, pack_id). Deterministic: same ids ⇒
    same layout on every engine and every plan (hash order, not partition
    order). The window partitions by shard — no global sort, parallel
    across ``n_shards``, which at production scale is 10^4-10^5 shards."""
    key = F.col(id_col).cast("string")
    out = df.select(
        F.col(id_col).alias("id"),
        tokens.cast("long").alias("n_tok"),
        F.pmod(h60(F.concat(F.lit("shard:"), key)), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        h60(F.concat(F.lit("pack:"), key)).alias("ok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("ok", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return out.select(
        "id",
        "shard",
        start.alias("start_off"),
        F.floor(start / budget).cast("long").alias("pack_id"),
    )


def contamination_rate(
    flagged: DataFrame, docs: DataFrame, id_col: str
) -> DataFrame:
    """Corpus-level contamination summary: (n_docs, n_contaminated, rate).
    ``flagged`` is decontaminate()'s output; the distinct-id count is one
    shuffle on an already-pruned frame."""
    n_bad = flagged.select("id").distinct().count()
    n_all = docs.select(id_col).count()
    spark = docs.sparkSession
    return local_rows_df(
        spark,
        [(n_all, n_bad, (n_bad / n_all) if n_all else 0.0)],
        "n_docs long, n_contaminated long, rate double",
    )


def bench_bucket(key: Column, fraction: float, salt: str = "bench") -> Column:
    """Deterministic benchmark-membership predicate (hash bucket < frac) —
    how to derive a 'benchmark' subset from the corpus when no external
    eval set exists. Same h60 contract as sampling."""
    return sample_bucket(key, salt) < int(fraction * _DENOM)


# PII patterns deliberately restricted to syntax Java regex (Spark) and
# RE2 (DuckDB) evaluate IDENTICALLY: character classes, bounded/greedy
# repetition and \b only — no alternation (RE2 is leftmost-longest, Java
# leftmost-first: alternation is where they diverge), no lookaround, no
# backreferences (RE2 lacks both).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IPV4>"),
    "phone": (r"\+\d[\d ()\-]{6,}\d", "<PHONE>"),
}


def pii_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row PII hit counts: n_email / n_ipv4 / n_phone columns appended.
    Pure regexp_extract_all column expressions — JVM regex, no Python,
    map-side only at any scale. NULL text counts as zero hits (missing
    evidence, the same vacuous contract the consistency checks use)."""
    out = df
    for name, (pat, _) in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}",
            F.coalesce(
                F.size(
                    F.regexp_extract_all(
                        F.col(text_col), F.lit(pat), F.lit(0)
                    )
                ),
                F.lit(0),
            ).cast("long"),
        )
    return out


def pii_redact(col: Column) -> Column:
    """Redacted copy of a text column: EMAIL then IPV4 then PHONE, in that
    fixed order (emails contain dots+digits an IP scan could clip; the
    replacement tokens contain no digits, so later passes never touch
    earlier redactions)."""
    out = col
    for pat, token in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, token)
    return out
