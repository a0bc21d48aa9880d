"""Distribution-drift validation: PSI + binned KS vs a baseline snapshot.

The Spark re-expression of the reference's "compare recent window to
long-window trend" semantics (detect2/detect3, detector.py:262-345/395-474):
instead of per-item mean/std deltas, whole-distribution comparison per
partition bucket against the baseline snapshot's global distribution
(north_rule: "distribution drift on dur_ms/sr_hz histograms via PSI/KS
against a baseline Iceberg snapshot").

Execution shape: the ONLY full-table work is the binned counts — one scan +
one map-side-combined shuffle per side covering ALL drift columns at once
(explode of per-column width_bucket bins). The resulting histograms are
O(groups × columns × bins) rows regardless of table size — at 10^12 rows
they are a few thousand numbers — so the PSI/KS arithmetic runs on the
driver in numpy (the same tiny-survivor-set funnel the reference uses,
detect_anomalies.py:79-96), not as a cascade of micro-joins.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPS = 1e-6
# below this many deduped equi-depth edges the histogram can no longer
# distinguish distributions — warn the caller (ADVICE r01)
MIN_EQUI_DEPTH_EDGES = 3


@dataclass(frozen=True)
class HistSpec:
    column: str
    lo: float
    hi: float
    nbins: int


def width_bin(s: HistSpec):
    """The uniform bin of ``s.column``: ``width_bucket`` over [lo, hi) in
    ``nbins`` bins, 0 below and nbins+1 above; NULL for a NULL or NaN
    value, which no histogram counts."""
    return F.when(
        F.col(s.column).isNotNull(),
        F.width_bucket(
            F.col(s.column).cast("double"), F.lit(s.lo), F.lit(s.hi),
            F.lit(s.nbins),
        ),
    )


def histogram_counts_df(
    df: DataFrame, specs: dict[str, HistSpec], group_col: str | None = None
) -> DataFrame:
    """The distributed half of ``histogram_counts``: one pass for every
    spec, returning the (g, c, b, n) count frame WITHOUT collecting, ``c``
    the spec's key (the suite keys its drift checks by id, so checks that
    share a column keep their own bins). Counts are integers and therefore
    exactly additive — the streaming suite persists this frame per
    micro-batch and sums across batches, which reproduces the one-shot
    histogram bit-for-bit."""
    entries = [
        F.struct(F.lit(key).alias("c"), width_bin(s).alias("b"))
        for key, s in specs.items()
    ]
    gsel = [F.col(group_col).alias("g")] if group_col else [F.lit(None).cast("int").alias("g")]
    return (
        df.select(*gsel, F.explode(F.array(*entries)).alias("e"))
        .filter(F.col("e.b").isNotNull())
        .groupBy("g", F.col("e.c").alias("c"), F.col("e.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_counts(
    df: DataFrame, specs: list[HistSpec], group_col: str | None = None
) -> dict[tuple, np.ndarray]:
    """ONE pass for all drift columns: explode per-column bins, one groupBy.
    Returns {(group, column): counts[nbins+2]} (group is None when global).
    """
    rows = histogram_counts_df(df, {s.column: s for s in specs}, group_col).collect()
    return hist_rows_to_arrays(rows, specs)


def hist_rows_to_arrays(rows, specs: list[HistSpec]) -> dict[tuple, np.ndarray]:
    """Shape collected (g, c, b, n) rows into the {(group, column): counts}
    dict ``psi_ks`` consumes. Shared by the one-shot and streaming paths."""
    nb = {s.column: s.nbins for s in specs}
    out: dict[tuple, np.ndarray] = {}
    for r in rows:
        key = (r["g"], r["c"])
        if key not in out:
            out[key] = np.zeros(nb[r["c"]] + 2, dtype=np.int64)
        out[key][int(r["b"])] = r["n"]
    return out


def psi_ks(cur: np.ndarray, base: np.ndarray) -> tuple[float, float]:
    """PSI = Σ (p−q)·ln(p/q) over ε-smoothed shares; KS = max |CDF_p − CDF_q|
    (the ε terms cancel in the CDF difference, so KS is unbiased)."""
    p = cur / max(cur.sum(), 1) + EPS
    q = base / max(base.sum(), 1) + EPS
    psi = float(np.sum((p - q) * np.log(p / q)))
    ks = float(np.max(np.abs(np.cumsum(p) - np.cumsum(q))))
    return psi, ks


def drift_scores_multi(
    current: DataFrame,
    baseline: DataFrame,
    specs: list[HistSpec],
    group_col: str | None = None,
) -> list[dict]:
    """Per (group, column) PSI/KS of current vs the GLOBAL baseline
    distribution. Two table passes total (one per side), all columns."""
    cur_h = histogram_counts(current, specs, group_col)
    base_h = histogram_counts(baseline, specs, None)
    # same explicit empty-baseline contract as the quantile paths: a drift
    # column with no usable baseline data must error, not vacuously pass
    for s in specs:
        if (None, s.column) not in base_h:
            raise ValueError(
                f"drift baseline for column {s.column!r} is empty or "
                "all-null — no histogram to compare against (fix the "
                "baseline snapshot)"
            )
    out = []
    for (g, c), counts in sorted(cur_h.items(), key=lambda kv: (str(kv[0][0]), kv[0][1])):
        b = base_h.get((None, c))
        if b is None:
            continue
        psi, ks = psi_ks(counts, b)
        out.append(
            {
                "group": g,
                "column": c,
                "psi": psi,
                "ks": ks,
                "cur_n": int(counts.sum()),
                "base_n": int(b.sum()),
            }
        )
    return out


def quantile_edges(
    baseline: DataFrame, column: str, nbins: int = 20, accuracy: int = 10000
) -> list[float]:
    """Equi-depth bin edges from the baseline snapshot via Spark's
    approximate-quantile sketch (percentile_approx — the built-in
    KLL-style sketch the north_star names). One pass over baseline."""
    qs = [i / nbins for i in range(1, nbins)]
    row = baseline.agg(
        F.percentile_approx(F.col(column).cast("double"), qs, accuracy).alias("q")
    ).first()
    # dedupe (discrete columns produce repeated edges)
    edges: list[float] = []
    if row["q"] is None:  # empty / all-null baseline column
        return edges
    for v in row["q"]:
        if v is not None and (not edges or v > edges[-1]):
            edges.append(float(v))
    return edges


def quantile_edges_from_sketch(sketches: DataFrame, nbins: int = 20) -> list[float]:
    """Equi-depth bin edges from a PERSISTED mergeable KLL sketch row
    (operators/kll.py) instead of a baseline rescan. At 10^12 rows the
    difference is a full-table percentile_approx pass per drift run vs
    reading KBs of sketch state that ``kll_merge`` folds forward as new
    snapshots land — the quantile analog of the moments-table incremental
    maintenance. Expects the global (ungrouped) sketch: exactly one row."""
    from pyanomalydetector2_spark.operators.kll import SKETCH_FIELDS, _Sketch

    rows = sketches.select(*SKETCH_FIELDS).collect()
    if not rows:
        return []
    if len(rows) > 1:
        raise ValueError(
            f"quantile_edges_from_sketch expects ONE global sketch row, got "
            f"{len(rows)} — merge grouped sketches first (kll_merge) or build "
            "with group_cols=()"
        )
    sk = _Sketch.from_row(*rows[0])
    if sk.n == 0:
        return []
    qs = [i / nbins for i in range(1, nbins)]
    edges: list[float] = []
    for v in sk.quantiles(qs):
        if v is not None and (not edges or v > edges[-1]):
            edges.append(float(v))
    return edges


def _validated_edges(
    baseline: DataFrame,
    column: str,
    nbins: int,
    accuracy: int,
    edges: list[float] | None,
) -> list[float]:
    """Shared edge derivation + guards for every equi-depth drift path
    (the suite's binned checks and ``drift_scores_quantile_df``):
    precomputed ``edges`` (e.g. from a persisted KLL sketch) skip the
    baseline pass entirely; otherwise one percentile_approx pass."""
    if edges is None:
        edges = quantile_edges(baseline, column, nbins, accuracy)
    if not edges:
        raise ValueError(
            f"drift baseline for column {column!r} is empty or all-null — "
            "cannot derive equi-depth bin edges (fix the baseline snapshot "
            "or use uniform bins with explicit lo/hi)"
        )
    if len(edges) < MIN_EQUI_DEPTH_EDGES:
        import warnings

        warnings.warn(
            f"equi-depth drift on {column!r}: baseline quantiles deduped to "
            f"{len(edges)} edge(s) (< {MIN_EQUI_DEPTH_EDGES}) — the column is "
            "near-constant and PSI/KS resolution is degraded to a near-"
            "trivial pass; prefer a StatCheck on this column",
            stacklevel=3,
        )
    return edges


def _finite(column: str):
    """Rows whose value participates in a histogram: non-null AND non-NaN —
    the width_bucket path drops NaN implicitly (width_bucket(NaN)=NULL),
    so every other binning expression must drop it explicitly or the
    uniform/edge paths would count NaN in the overflow bin and disagree."""
    v = F.col(column).cast("double")
    return v.isNotNull() & ~F.isnan(v)


def edges_bin_expr(column: str, edges: list[float]):
    """Shared edge-based bin expression (equi-depth bins): bin i = count of
    values in (edges[i-1], edges[i]]; bin 0 = ≤ edges[0], bin len(edges) =
    > last edge. ONE implementation for the funnel and distributed paths,
    so binning semantics cannot silently diverge. The CASE chain is small
    (≤ ~20 branches) and whole-stage-codegen'd."""
    v = F.col(column).cast("double")
    binc = F.lit(len(edges))
    for i in range(len(edges) - 1, -1, -1):
        binc = F.when(v <= F.lit(edges[i]), F.lit(i)).otherwise(binc)
    return binc


def uniform_bin(column: str, lo: float, hi: float, nbins: int):
    """Explicit uniform-bin expression (0 = underflow, nbins+1 = overflow).
    Written as plain floor arithmetic — not width_bucket — so an external
    oracle can evaluate the bit-identical expression."""
    v = F.col(column).cast("double")
    w = (hi - lo) / nbins
    return (
        F.when(v < F.lit(lo), F.lit(0))
        .when(v >= F.lit(hi), F.lit(nbins + 1))
        .otherwise((F.floor((v - F.lit(lo)) / F.lit(w)) + 1).cast("int"))
        .cast("int")
    )


def drift_scores_df(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    lo: float,
    hi: float,
    nbins: int = 20,
    group_col: str | None = None,
) -> DataFrame:
    """Fully distributed PSI/KS — same algebra as drift_scores_multi but with
    NO driver collect, for group cardinalities where the histogram no longer
    fits the driver funnel (per-host drift over 10^6 hosts → 10^7+ histogram
    rows). Execution shape at scale:

    - two column-pruned scans (one per side), each one map-side-combined
      groupBy → histograms of O(groups × bins) rows;
    - the baseline histogram and per-group totals are tiny → broadcast;
    - the bin grid is a static ``spark.range(nbins + 2)`` cross join, so
      empty bins exist on both sides without an observed-bin union;
    - PSI/KS via a running window ordered by bin: addition order is fixed
      (bin 0..nbins+1), so results are reproducible across partitionings —
      PSI terms are non-negative, making the running max equal the total.

    Returns (group?, psi, ks, cur_n, base_n); ε-smoothing matches psi_ks.
    """
    binc = uniform_bin(column, lo, hi, nbins)
    return _drift_df_from_bins(current, baseline, column, binc, nbins + 2, group_col)


def drift_scores_quantile_df(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    nbins: int = 20,
    group_col: str | None = None,
    accuracy: int = 10000,
    edges: list[float] | None = None,
) -> DataFrame:
    """Distributed equi-depth drift: bin edges come from the baseline's
    percentile_approx sketch (one tiny driver round-trip — the edges
    parametrize the plan, as they do the suite's equi-depth bins), then
    PSI/KS run with NO histogram collect — the scale path when the group
    column is high-cardinality. Same empty-baseline / degenerate-edge
    guards as the suite's binned checks; precomputed ``edges`` skip the
    baseline pass."""
    edges = _validated_edges(baseline, column, nbins, accuracy, edges)
    return _drift_df_from_bins(
        current,
        baseline,
        column,
        edges_bin_expr(column, edges).cast("int"),
        len(edges) + 1,
        group_col,
    )


def _drift_df_from_bins(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    binc,
    n_total: int,
    group_col: str | None,
) -> DataFrame:
    """Shared no-collect PSI/KS engine over a prebuilt bin expression whose
    values cover exactly 0..n_total-1.

    The baseline total is validated EAGERLY (one scalar aggregate — the
    same tiny driver funnel class as the quantile variant's edge fetch):
    an empty/all-null baseline raises the contract ValueError at the API
    instead of NULL-propagating into vacuously-passing psi/ks rows
    (ADVICE r02 #2); the validated scalar is then embedded as a literal,
    which also drops one baseline scan from the main job."""
    from pyspark.sql import Window

    g = group_col or "_g"
    cur = current.filter(_finite(column)).select(
        (F.col(group_col) if group_col else F.lit(0)).alias(g), binc.alias("bin")
    )
    base = baseline.filter(_finite(column)).select(binc.alias("bin"))

    # both count frames are multiply referenced (totals / validation +
    # final join) and tiny post-aggregation (bins × groups rows):
    # checkpoint once so a heavy upstream (e.g. audio_quality_drift's
    # decode pass behind each side) executes once per side
    cur_cnt = (
        cur.groupBy(g, "bin")
        .agg(F.count(F.lit(1)).alias("cur_bin_n"))
        .localCheckpoint()
    )
    base_cnt = (
        base.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("base_bin_n"))
        .localCheckpoint()
    )
    cur_tot = cur_cnt.groupBy(g).agg(F.sum("cur_bin_n").alias("cur_n"))
    base_row = base_cnt.agg(F.sum("base_bin_n").alias("base_n")).first()
    base_n = base_row["base_n"] if base_row else None
    if base_n is None:
        raise ValueError(
            f"drift baseline for column {column!r} is empty or all-null — "
            "PSI/KS against it is undefined (fix the baseline snapshot)"
        )

    spark = current.sparkSession
    bins = spark.range(0, n_total).select(F.col("id").cast("int").alias("bin"))
    grid = cur_tot.crossJoin(F.broadcast(bins))
    j = (
        grid.join(cur_cnt, [g, "bin"], "left")
        .join(F.broadcast(base_cnt), ["bin"], "left")
        .withColumn("base_n", F.lit(base_n).cast("long"))
    )
    p = F.coalesce(F.col("cur_bin_n"), F.lit(0)).cast("double") / F.col("cur_n") + F.lit(EPS)
    q = F.coalesce(F.col("base_bin_n"), F.lit(0)).cast("double") / F.col("base_n") + F.lit(EPS)
    t = j.select(g, "bin", "cur_n", "base_n", p.alias("p"), q.alias("q"))
    w = Window.partitionBy(g).orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = t.select(
        g,
        "cur_n",
        "base_n",
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).over(w).alias("cum_psi"),
        (F.sum("p").over(w) - F.sum("q").over(w)).alias("cdf_diff"),
    )
    out = cum.groupBy(g).agg(
        F.max("cum_psi").alias("psi"),
        F.max(F.abs(F.col("cdf_diff"))).alias("ks"),
        F.max("cur_n").alias("cur_n"),
        F.max("base_n").alias("base_n"),
    )
    return out if group_col else out.drop(g)


def drift_scores_categorical_df(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    group_col: str | None = None,
) -> DataFrame:
    """Categorical-distribution drift (VERDICT r03 next-round #5): PSI over
    category frequency shares, plus ``linf`` = max |p − q| over categories —
    the order-free analog of KS for unordered support (the ε smoothing
    cancels in the difference, so linf is unbiased exactly like the binned
    KS). Returns (group?, psi, linf, cur_n, base_n); fully distributed, no
    histogram collect.

    Execution shape: one map-side-combined groupBy per side over the
    category column (low-cardinality by definition — ``codec``-like
    columns), baseline counts broadcast, the category grid = union of
    categories observed on EITHER side (a current-only category drifts
    against q = ε, a vanished category against p = ε). PSI terms are
    accumulated through a window ordered by category, so float addition
    order is fixed and reproducible across partitionings (all terms are
    non-negative ⇒ the running max equals the total). NULL categories are
    excluded — null-rate is a StatCheck concern, same contract as the
    numeric binning paths."""
    cur_cnt = categorical_counts(current, column, group_col)
    return drift_scores_categorical_from_counts(
        cur_cnt, baseline, column, group_col
    )


def categorical_counts(
    df: DataFrame, column: str, group_col: str | None = None
) -> DataFrame:
    """Per-(group, category) counts — the distributed, exactly-additive
    half of categorical drift. The streaming suite persists this frame per
    micro-batch; summing across batches reproduces the one-shot counts
    bit-for-bit (integer addition)."""
    g = group_col or "_g"
    return (
        df.filter(F.col(column).isNotNull())
        .select(
            (F.col(group_col) if group_col else F.lit(0)).alias(g),
            F.col(column).cast("string").alias("cat"),
        )
        .groupBy(g, "cat")
        .agg(F.count(F.lit(1)).alias("cur_cat_n"))
    )


def drift_scores_categorical_from_counts(
    cur_cnt: DataFrame,
    baseline: DataFrame,
    column: str,
    group_col: str | None = None,
    baseline_is_counts: bool = False,
) -> DataFrame:
    """Frequency-PSI + linf from a pre-aggregated current-counts frame
    (``categorical_counts`` shape) vs the baseline rows. The arithmetic
    from counts onward is shared with ``drift_scores_categorical_df``, so
    merged streaming counts score identically to the one-shot pass.

    ``baseline_is_counts``: the baseline frame is ALREADY aggregated to
    (cat, base_cat_n) — e.g. derived from a shared token-count frame by
    an exact integer re-aggregation (vocab_drift) — and is consumed as-is
    instead of being counted from rows. Count-sums and row-counts grouped
    the same way are the identical integers, so scores are unchanged."""
    from pyspark.sql import Window

    g = group_col or "_g"
    if baseline_is_counts:
        base_cnt = baseline.select("cat", "base_cat_n").localCheckpoint()
    else:
        base = baseline.filter(F.col(column).isNotNull()).select(
            F.col(column).cast("string").alias("cat")
        )
        # both count frames are referenced 3× below (totals, category-grid
        # union, final join) and are tiny post-aggregation (≤ categories ×
        # groups rows): checkpoint once so a heavy upstream — e.g.
        # vocab_drift's full-corpus token explode behind each side —
        # executes once per side instead of three times
        base_cnt = (
            base.groupBy("cat")
            .agg(F.count(F.lit(1)).alias("base_cat_n"))
            .localCheckpoint()
        )
    cur_cnt = cur_cnt.localCheckpoint()
    # eager baseline validation — same contract as _drift_df_from_bins
    base_row = base_cnt.agg(F.sum("base_cat_n").alias("base_n")).first()
    base_n = base_row["base_n"] if base_row else None
    if base_n is None:
        raise ValueError(
            f"categorical drift baseline for column {column!r} is empty or "
            "all-null — PSI against it is undefined (fix the baseline "
            "snapshot)"
        )
    # an all-null current column has no group to score: error like the
    # numeric paths instead of an empty frame that vacuously passes
    if cur_cnt.isEmpty():
        raise ValueError(
            f"categorical drift on column {column!r} produced no score — "
            "the column is empty/all-null in every current group (fix the "
            "snapshot or drop the check)"
        )

    cur_tot = cur_cnt.groupBy(g).agg(F.sum("cur_cat_n").alias("cur_n"))
    cats = base_cnt.select("cat").union(cur_cnt.select("cat")).distinct()
    grid = cur_tot.crossJoin(F.broadcast(cats))  # every (group, cat) cell
    j = (
        grid.join(cur_cnt, [g, "cat"], "left")
        .join(F.broadcast(base_cnt), ["cat"], "left")
        .withColumn("base_n", F.lit(base_n).cast("long"))
    )
    p = (
        F.coalesce(F.col("cur_cat_n"), F.lit(0)).cast("double") / F.col("cur_n")
        + F.lit(EPS)
    )
    q = (
        F.coalesce(F.col("base_cat_n"), F.lit(0)).cast("double") / F.col("base_n")
        + F.lit(EPS)
    )
    t = j.select(g, "cat", "cur_n", "base_n", p.alias("p"), q.alias("q"))
    w = Window.partitionBy(g).orderBy("cat").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = t.select(
        g,
        "cur_n",
        "base_n",
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")))
        .over(w)
        .alias("cum_psi"),
        F.abs(F.col("p") - F.col("q")).alias("dev"),
    )
    out = cum.groupBy(g).agg(
        F.max("cum_psi").alias("psi"),
        F.max("dev").alias("linf"),
        F.max("cur_n").alias("cur_n"),
        F.max("base_n").alias("base_n"),
    )
    return out if group_col else out.drop(g)


def categorical_scores(cur: dict, base: dict[str, int], column: str) -> dict:
    """Categorical drift scored on the driver from collected counts — what
    both suite engines run; ``drift_scores_categorical_from_counts`` is
    the same arithmetic in Spark. ``cur`` maps group → {category: count},
    ``base`` maps category → count; returns group → (psi, linf). The
    category grid is every category seen in the baseline or in ANY current
    group, PSI terms are summed in category order (the Spark window's
    order) and linf = max |p − q|; only groups with current counts get a
    score."""
    base_n = sum(base.values())
    if not base_n:
        raise ValueError(
            f"categorical drift baseline for column {column!r} is empty or "
            "all-null — PSI against it is undefined (fix the baseline "
            "snapshot)"
        )
    cats = sorted(set(base).union(*cur.values()))
    out = {}
    for g, counts in cur.items():
        cur_n = sum(counts.values())
        psi = linf = 0.0
        for cat in cats:
            p = counts.get(cat, 0) / cur_n + EPS
            q = base.get(cat, 0) / base_n + EPS
            psi += (p - q) * math.log(p / q)
            linf = max(linf, abs(p - q))
        out[g] = (psi, linf)
    return out
