"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, vocabulary statistics and drift.

Everything is built-in Column expressions (JVM, codegen) — tokenization is
split/regex, no Python in the data path. All formulas are deliberately
oracle-expressible in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def ws_tokens(col: Column) -> Column:
    """Whitespace tokens of a text column as an array, dropping
    empty-string tokens: split('') yields [''] (size 1), which would
    credit empty/whitespace-only docs with a phantom token. The shared
    tokenization for token_metrics and the suite's transcript token
    count (``dsl.TOKEN_COUNT_SQL``) — one definition, one oracle replay
    (list_filter(regexp_split_to_array(lower(trim(x)), '\\s+'), …))."""
    return F.filter(F.split(F.lower(F.trim(col)), r"\s+"), lambda x: x != "")


def token_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row token/char metrics + a quality score:
    n_tokens (whitespace), n_bpe_ish (regex sub-word pieces), avg token len,
    punct ratio, stopword ratio, alpha ratio, quality_score ∈ [0,1]."""
    from pyanomalydetector2_spark.functions import rebalance_for_expansion

    # the per-row regex/array scans are ~50× the scan cost: spread a tiny/
    # single-split input across the slots (no-op when splits ≥ slots)
    df = rebalance_for_expansion(df)
    t = F.col(text_col)
    toks = ws_tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    # BPE-ish sub-word pieces: letter runs, digit runs, single punct marks.
    # Pure alternation (no lookarounds) so RE2-based engines (DuckDB oracle)
    # count the identical pieces — oracle-checked in the text_quality query.
    bpe = F.regexp_count(F.lower(t), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))
    punct = F.length(F.regexp_replace(t, r"[^\.,;:!\?]", ""))
    alpha = F.length(F.regexp_replace(F.lower(t), r"[^a-z]", ""))
    sw_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    punct_ratio = F.try_divide(punct, n_chars)
    stop_ratio = F.try_divide(sw_hits, n_tok)
    alpha_ratio = F.try_divide(alpha, n_chars)
    # quality: length window + some stopwords + mostly alphabetic
    quality = (
        F.when((n_tok >= 5) & (n_tok <= 1000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(stop_ratio > 0.01, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(alpha_ratio > 0.6, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "n_bpe_ish": bpe,
            "avg_token_len": F.try_divide(
                F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)), n_tok
            ),
            "punct_ratio": punct_ratio,
            "stopword_ratio": stop_ratio,
            "alpha_ratio": alpha_ratio,
            "quality_score": quality,
        }
    )


def _neighbor_dup_chars(sorted_arr: Column) -> Column:
    """Characters belonging to duplicated elements of a SORTED array:
    an element occurs >1 time iff it equals a sorted neighbor, so every
    occurrence of a duplicated element is counted (run of k equal
    elements -> all k lengths summed). Pure per-row expression — the
    whole computation stays inside codegen, no explode, no shuffle."""
    n = F.size(sorted_arr)
    def dup_len(i: Column) -> Column:
        elem = F.element_at(sorted_arr, i)
        prev_eq = (i > 1) & (F.element_at(sorted_arr, i - 1) == elem)
        next_eq = (i < n) & (F.element_at(sorted_arr, i + 1) == elem)
        return F.when(prev_eq | next_eq, F.length(elem)).otherwise(F.lit(0))
    return F.when(
        n >= 1,  # sequence(1, 0) would DESCEND — guard the empty array
        F.aggregate(
            F.sequence(F.lit(1), n),
            F.lit(0).cast("long"),
            lambda acc, i: acc + dup_len(i),
        ),
    ).otherwise(F.lit(0).cast("long"))


def _top_run(sorted_arr: Column) -> Column:
    """(best, best_run) of the most frequent element of a SORTED array —
    one linear scan with a struct accumulator. Ties keep the FIRST (i.e.
    lexicographically smallest) element: only a strictly longer run
    replaces the champion, the deterministic tie-break an ORDER BY
    cnt DESC, elem ASC LIMIT 1 oracle replays exactly."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit("").alias("best"),
        F.lit(0).cast("long").alias("best_run"),
    )
    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        better = run > acc["best_run"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, x).otherwise(acc["best"]).alias("best"),
            F.when(better, run).otherwise(acc["best_run"]).alias("best_run"),
        )
    return F.aggregate(sorted_arr, init, step)


def ngram_array(toks: Column, n: int) -> Column:
    """Space-joined n-grams of a token array as an array (keeps every
    occurrence — NOT distinct, unlike dedup.shingle_frame). Short inputs
    get an empty array (sequence(0, -1) would descend)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_metrics(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    lines: Column | None = None,
    ngram_n: int = 2,
) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021 §A1.1),
    per document:

    - n_lines, dup_line_frac (1 - distinct/total lines),
      dup_line_char_frac (chars in lines occurring >1, ALL occurrences,
      over total line chars);
    - top_ngram (most frequent ``ngram_n``-gram, ties -> lexicographically
      smallest), top_ngram_frac (chars covered by its occurrences over
      the document's char length);
    - dup_ngram_char_frac (gram-chars in grams occurring >1 over total
      gram-chars).

    ``lines`` defaults to newline-split (empty lines dropped); callers
    whose corpus is single-line pass their own derivation (the contract
    query chunks whitespace tokens in groups of five).

    Scale: every metric is a per-row array expression over sorted copies
    of the line/gram arrays — zero shuffle, zero Python, whole-stage
    codegen end-to-end; at 10^12 rows this runs entirely map-side.
    Reference analog: none (the reference has no text surface); the
    per-item screen-then-threshold shape mirrors detector.py:150-215.
    Fractions are round(·, 6) for oracle replay; divides are try_divide
    (ANSI mode) coalesced to 0.
    """
    from pyanomalydetector2_spark.functions import rebalance_for_expansion

    # the per-row array scans are ~50× the scan cost: spread a tiny/single-
    # split input across the slots (no-op when file count ≥ slot count)
    df = rebalance_for_expansion(df)
    # NULL text ≡ empty document (size(null) is null under ANSI — every
    # downstream metric would go null instead of 0)
    text = F.coalesce(F.col(text_col), F.lit(""))
    lns = (
        lines
        if lines is not None
        else F.filter(F.split(text, "\n"), lambda x: x != "")
    )
    toks = ws_tokens(text)
    out = df.select(
        F.col(id_col),
        text.alias("_t"),
        F.array_sort(lns).alias("_lns"),
        F.array_sort(ngram_array(toks, ngram_n)).alias("_gs"),
    )
    n_lines = F.size("_lns")
    line_chars = F.when(
        n_lines >= 1,
        F.aggregate(
            F.col("_lns"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x),
        ),
    ).otherwise(F.lit(0).cast("long"))
    gram_chars = F.when(
        F.size("_gs") >= 1,
        F.aggregate(
            F.col("_gs"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x),
        ),
    ).otherwise(F.lit(0).cast("long"))
    top = _top_run(F.col("_gs"))
    frac = lambda num, den: F.round(  # noqa: E731
        F.coalesce(F.try_divide(num, den), F.lit(0.0)), 6
    )
    return out.select(
        F.col(id_col),
        n_lines.cast("long").alias("n_lines"),
        frac(n_lines - F.size(F.array_distinct("_lns")), n_lines).alias(
            "dup_line_frac"
        ),
        frac(_neighbor_dup_chars(F.col("_lns")), line_chars).alias(
            "dup_line_char_frac"
        ),
        top["best"].alias("top_ngram"),
        frac(
            top["best_run"] * F.length(top["best"]),
            F.greatest(F.length(F.coalesce(F.col("_t"), F.lit(""))), F.lit(1)),
        ).alias("top_ngram_frac"),
        frac(_neighbor_dup_chars(F.col("_gs")), gram_chars).alias(
            "dup_ngram_char_frac"
        ),
    )


def vocab_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Global token-frequency table: (token, cnt, docs) — corpus count and
    document frequency per whitespace token (the shared ``ws_tokens``
    normalization). ONE explode + ONE groupBy; map-side combine absorbs
    the Zipf head (the hot tokens' partial counts collapse per partition
    before the shuffle), so the shuffle carries ~|vocab| rows, not
    ~|corpus tokens|. Document frequency rides the same aggregation via a
    per-(doc, token) pre-distinct — a second map-side-combinable stage,
    no extra scan.

    The vocabulary table feeds tokenizer/vocab design and the OOV-rate
    check below; at 10^12 rows it is the only global text statistic a
    training pipeline needs that ``token_metrics`` (per-row) cannot give.
    """
    from pyanomalydetector2_spark.functions import rebalance_for_expansion

    # the ~50× token explode runs BEFORE any exchange: rebalance a tiny/
    # single-split input so the explode+hash work uses every slot
    tok = rebalance_for_expansion(
        df.select(id_col, text_col), min_bytes=1_000_000
    ).select(
        F.col(id_col).alias("__doc"),
        F.explode(ws_tokens(F.col(text_col))).alias("token"),
    )
    per_doc = tok.groupBy("__doc", "token").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_doc.groupBy("token").agg(
        F.sum("n").alias("cnt"), F.count(F.lit(1)).alias("docs")
    )


def vocab_topk(
    df: DataFrame, k: int, text_col: str = "text", with_docs: bool = True
) -> DataFrame:
    """Top-k corpus tokens by count (ties → token ascending, so the set is
    deterministic and SQL-replayable). orderBy + limit compiles to
    TakeOrderedAndProject — per-partition heaps + a k-row driver merge,
    NOT a global sort shuffle (the plan-contract tests' global-sort ban
    does not apply; |vocab| full sort never happens).

    ``with_docs=False`` drops the document-frequency column and with it
    the per-(doc, token) pre-aggregation stage (one shuffle of the
    doc×distinct-token grid) AND the id-column dependency: callers that
    only need the token set / counts — the oov_rate vocabulary, the
    vocab_drift category cap — get ONE explode + ONE token groupBy.
    ``cnt`` is the same integer either way (sum of per-doc counts ==
    direct count of exploded tokens), so the selected k-set and its order
    are identical."""
    if with_docs:
        counts = vocab_counts(df, text_col)
    else:
        from pyanomalydetector2_spark.functions import (
            rebalance_for_expansion,
        )

        counts = (
            rebalance_for_expansion(
                df.select(text_col), min_bytes=1_000_000
            )
            .select(F.explode(ws_tokens(F.col(text_col))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    return counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a reference vocabulary
    (token column ``token``): (id, n_tokens, n_oov, oov_ppm) where
    oov_ppm = floor(1e6·n_oov/n_tokens) — exact integer ratio, no float
    rounding convention. The canonical tokenizer-coverage check: a corpus
    slice whose OOV rate drifts up is changing language/domain faster
    than the tokenizer.

    Scale shape: explode → LEFT join on token → count rollup. Reference
    vocabularies are 10^4–10^6 rows vs a 10^12 corpus — the join side is
    broadcast (and Zipf makes the probe side's hot keys harmless: a
    broadcast join has no key co-location to skew). NULL/empty docs emit
    n_tokens = 0 with NULL oov_ppm (no evidence, not a verdict)."""
    from pyanomalydetector2_spark.functions import rebalance_for_expansion

    tok = rebalance_for_expansion(
        df.select(id_col, text_col), min_bytes=1_000_000
    ).select(
        F.col(id_col).alias("id"),
        F.explode_outer(ws_tokens(F.col(text_col))).alias("token"),
    )
    # distinct BEFORE the join: a duplicate vocabulary row would otherwise
    # multiply every matching token row and inflate n_tokens
    v = F.broadcast(
        vocab.select("token").distinct().withColumn("__in_v", F.lit(1))
    )
    j = tok.join(v, "token", "left")
    return j.groupBy("id").agg(
        F.count("token").alias("n_tokens"),
        F.sum(
            F.when(F.col("token").isNotNull() & F.col("__in_v").isNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_oov"),
        F.floor(
            F.try_divide(
                F.sum(
                    F.when(
                        F.col("token").isNotNull() & F.col("__in_v").isNull(),
                        1,
                    ).otherwise(0)
                ).cast("long")
                * F.lit(1_000_000),
                F.count("token"),
            )
        )
        .cast("long")
        .alias("oov_ppm"),
    )


OTHER_TOKEN = "<other>"


def vocab_drift(
    current: DataFrame,
    baseline: DataFrame,
    text_col: str = "text",
    group_col: str | None = "source",
    vocab_k: int = 20,
) -> DataFrame:
    """Vocabulary-shift monitor: categorical drift (frequency-PSI + linf)
    of the TOKEN distribution per current-side group vs the baseline
    corpus — the text analog of codec drift, and the cheap early-warning
    for a source whose language/domain is moving (before OOV-rate or
    lang-id trips).

    Scale honesty is the design point: raw token space is unbounded, so
    the category set is CAPPED by construction — the baseline's top
    ``vocab_k`` tokens (deterministic (cnt desc, token asc) tiebreak) keep
    their identity and every tail token maps to ``OTHER_TOKEN``. The
    drift grid is then ≤ vocab_k+1 categories regardless of corpus size.

    Execution shape (optimization r06): the corpus is exploded ONCE per
    side into a (group, token, n) count frame (map-side combine absorbs
    the Zipf head, so the shuffle carries ~|groups|×|vocab| narrow rows);
    the top-k vocabulary, the per-group category counts AND the baseline
    category counts are all exact integer re-aggregations of that frame —
    the previous shape re-exploded the full corpus three times (top-k,
    current cats, baseline cats). When ``current is baseline`` (the
    self-drift monitoring call), the baseline side is derived by summing
    the current side's counts over groups — zero extra scans. Count-sums
    and row-counts grouped the same way are identical integers, so psi /
    linf / cur_n / base_n are bit-identical to the previous shape (the
    downstream window-pinned PSI machinery is unchanged)."""
    from pyanomalydetector2_spark.functions import rebalance_for_expansion
    from pyanomalydetector2_spark.operators.drift import (
        drift_scores_categorical_from_counts,
    )

    g = group_col or "_g"

    def tok_counts(df: DataFrame, with_group: bool) -> DataFrame:
        gexpr = (
            F.col(group_col) if (with_group and group_col) else F.lit(0)
        ).alias(g)
        proj = [group_col] if (with_group and group_col) else []
        # the token explode runs BEFORE any exchange: spread a tiny/
        # single-split input (same guard as vocab_counts)
        tok = rebalance_for_expansion(
            df.select(*proj, text_col), min_bytes=1_000_000
        ).select(gexpr, F.explode(ws_tokens(F.col(text_col))).alias("token"))
        return tok.groupBy(g, "token").agg(F.count(F.lit(1)).alias("n"))

    # checkpoint: the count frame feeds the vocabulary head, the current
    # cats and (for self-drift) the baseline cats — tiny post-aggregation
    cur_tok = tok_counts(current, True).localCheckpoint()
    if current is baseline:
        base_tok = cur_tok.groupBy("token").agg(F.sum("n").alias("n"))
    else:
        base_tok = (
            tok_counts(baseline, False)
            .groupBy("token")
            .agg(F.sum("n").alias("n"))
            .localCheckpoint()
        )

    vocab = F.broadcast(
        base_tok.orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_k)
        .select("token")
        .withColumn("__v", F.lit(1))
    )
    cat = (
        F.when(F.col("__v").isNotNull(), F.col("token"))
        .otherwise(F.lit(OTHER_TOKEN))
        .alias("cat")
    )
    cur_cnt = (
        cur_tok.join(vocab, "token", "left")
        .select(F.col(g), cat, "n")
        .groupBy(g, "cat")
        .agg(F.sum("n").alias("cur_cat_n"))
    )
    base_cnt = (
        base_tok.join(vocab, "token", "left")
        .select(cat, "n")
        .groupBy("cat")
        .agg(F.sum("n").alias("base_cat_n"))
    )
    return drift_scores_categorical_from_counts(
        cur_cnt, base_cnt, "cat", group_col=group_col,
        baseline_is_counts=True,
    )
