"""Plan-shape gate over the package's most expensive operators: a global
sort sneaking into a pipeline, a join degrading to cartesian, a broadcast
turning into a shuffled join, or a shuffle count growing fails CI.

Each gate builds its input from the small deterministic corpus in
``conftest.py`` (documents, events), or for the suite's check
families from the clips generator, and calls the operator directly. Plan
shape does not depend on scale for these checks; ``audit_plan`` executes
each frame so AQE finalizes it, which takes milliseconds at this size.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pyanomalydetector2_spark.operators import (
    dedup,
    drift,
    kll,
    text,
)
from pyanomalydetector2_spark.plans import audit_plan

# recent/baseline split of the January events, and the PSI bin grid
CUT = "2024-01-28 00:00:00"
DRIFT_LO, DRIFT_HI, DRIFT_NBINS = 0.0, 500.0, 10


@pytest.fixture(scope="module")
def corpus(spark, corpus_dir, tmp_path_factory):
    def read(name):
        return spark.read.parquet(f"{corpus_dir}/{name}.parquet")

    tmp = str(tmp_path_factory.mktemp("plans_contract"))
    return {
        "docs": read("documents"),
        "events": read("events"),
        "tmp": tmp,
    }


def _near_dup(docs):
    return dedup.near_dup_jaccard(
        docs, "doc_id", "text", k=8, n=3, bands=4, rows_per_band=2,
        threshold=0.1, max_bucket_size=None,
    )


def _clusters(docs):
    return dedup.dup_clusters(_near_dup(docs).select("id_a", "id_b"))


def _dedup_keep_best(c):
    scores = text.token_metrics(c["docs"], "text").select(
        "doc_id", "quality_score"
    )
    return dedup.keep_best_per_cluster(_clusters(c["docs"]), scores)


def _dup_clusters(c):
    return _clusters(c["docs"]).select(F.col("id").alias("doc_id"), "cluster_id")


def _near_dup_incremental(c):
    """Probe a 100-doc batch against a stored corpus signature index."""
    docs = c["docs"]
    path = f"{c['tmp']}/sigs"
    dedup.minhash_signatures(
        docs.filter(F.col("doc_id") >= 100), "doc_id", "text", 8, 3
    ).write.mode("overwrite").parquet(path)
    return dedup.near_dup_jaccard_incremental(
        docs, docs.filter(F.col("doc_id") < 100), "doc_id", "text",
        index_sigs=docs.sparkSession.read.parquet(path), max_bucket_size=None,
    )


def _drift_psi(c):
    ev = c["events"]
    cut = F.to_timestamp_ntz(F.lit(CUT))
    return drift.drift_scores_df(
        ev.filter(F.col("ts") >= cut), ev.filter(F.col("ts") < cut), "value",
        DRIFT_LO, DRIFT_HI, DRIFT_NBINS, "event_type",
    )


def _minhash_lsh_pairs(c):
    sigs = dedup.minhash_signatures(c["docs"], "doc_id", "text", k=8, n=3)
    return dedup.lsh_candidate_pairs(
        sigs, bands=4, rows_per_band=2, max_bucket_size=None
    )


def _vocab_drift(c):
    return text.vocab_drift(c["docs"], c["docs"], vocab_k=10)


HEAVY = {
    "dedup_keep_best": _dedup_keep_best,
    "dup_clusters": _dup_clusters,
    "near_dup_incremental": _near_dup_incremental,
    "drift_psi": _drift_psi,
    "minhash_lsh_pairs": _minhash_lsh_pairs,
    "ngram_jaccard_pairs": lambda c: _near_dup(c["docs"]),
    "vocab_drift": _vocab_drift,
}


@pytest.mark.parametrize("name", list(HEAVY))
def test_heavy_queries_no_global_sort_no_cartesian(corpus, name):
    a = audit_plan(HEAVY[name](corpus))
    assert a["sorts_global"] == 0, f"{name}: global sort crept in"
    assert a["cartesian"] == 0, f"{name}: shuffle cartesian crept in"
    # broadcast nested-loop joins are allowed ONLY for the tiny-literal
    # grids that want them (drift_psi's static bin grid; vocab_drift's
    # ≤ k+1-row broadcast category grid of the shared categorical-drift
    # machinery)
    allowed_bnlj = {"drift_psi": 1, "vocab_drift": 1}.get(name, 0)
    assert a["bnlj"] <= allowed_bnlj, f"{name}: unexpected nested-loop join"


def test_drift_psi_shape(corpus):
    """drift_psi: fully distributed (two column-pruned scans, broadcast
    grid/baseline, fixed-order running window) — bounded shuffles, no
    driver funnel, no global sort."""
    a = audit_plan(_drift_psi(corpus))
    assert a["broadcasts"] >= 1
    assert a["shuffles"] <= 5, f"shuffle blowup: {a['shuffles']}"


def test_incremental_probe_core_shape(spark):
    """The fused incremental probe: ONE flagged aggregation builds both
    bucket member arrays, so the probe plan must contain at most one
    aggregation exchange chain — bounded shuffles overall — and the
    broadcast-prune variant must actually broadcast. Guards against a
    regression to the aggregate-twice-and-join shape (which showed up as
    two extra batch-sized shuffles per micro-batch)."""
    banded = spark.range(400).select(
        F.col("id"),
        (F.col("id") % 13).cast("int").alias("band"),
        (F.col("id") % 7).cast("int").alias("key"),
    )
    index_b = banded.filter(F.col("id") >= 100).localCheckpoint()
    new_b = banded.filter(F.col("id") < 100).localCheckpoint()

    # no-prune: union -> hot-count -> anti -> collect -> explode/distinct
    a = audit_plan(
        dedup.incremental_pairs_from_banded(index_b, new_b, 10_000, prune=False)
    )
    assert a["sorts_global"] == 0 and a["cartesian"] == 0
    assert a["shuffles"] <= 4, f"no-prune probe shuffle blowup: {a['shuffles']}"

    # broadcast prune: same plus the key semi, which must be a broadcast
    # (the index side stays at one scan, never index-wide shuffled)
    b = audit_plan(
        dedup.incremental_pairs_from_banded(
            index_b, new_b, 10_000, broadcast_keys=True, prune=True
        )
    )
    assert b["sorts_global"] == 0 and b["cartesian"] == 0
    assert b["broadcasts"] >= 1, "key prune lost its broadcast"
    assert b["shuffles"] <= 6, f"pruned probe shuffle blowup: {b['shuffles']}"


def test_kll_quantiles_shuffle_budget(corpus):
    """The sketch build's scale claim in plan form: partials are built
    map-side (mapInPandas, no exchange), so the whole kll_build pipeline
    carries at most the one sketch-rows merge exchange plus the input
    cap's window shuffle — and never a global sort of the data.
    Quantiles are read off the sketch rows on the driver."""
    ev = corpus["events"].filter(F.col("value").isNotNull() & ~F.isnan("value"))
    w = Window.partitionBy("event_type").orderBy("event_id")
    capped = (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 4000)
        .select("event_type", "value")
    )
    sk = kll.kll_build(capped, "value", ["event_type"], k=8192)
    a = audit_plan(sk)
    assert a["shuffles"] <= 3, f"kll shuffle blowup: {a['shuffles']}"
    assert a["cartesian"] == 0


def test_exact_substring_dup_shape(corpus):
    """exact_substring_dup: bounded shuffles, no global sort."""
    b = audit_plan(dedup.exact_substring_dup(corpus["docs"], "doc_id", "text", k=5))
    assert b["sorts_global"] == 0 and b["cartesian"] == 0
    assert b["shuffles"] <= 5, f"exact_substring_dup shuffles: {b['shuffles']}"


def test_vocab_topk_no_global_sort(corpus):
    """Top-k compiles to TakeOrderedAndProject (per-partition heaps + a
    k-row driver merge) — never a rangepartitioning sort shuffle of the
    vocabulary."""
    a = audit_plan(text.vocab_topk(corpus["docs"], 20))
    assert a["sorts_global"] == 0, "vocab top-k planned a global sort"


def test_oov_rate_broadcasts_vocab(corpus):
    """The reference vocabulary joins broadcast (10^4-row vocab vs a
    10^12-token probe side — a shuffled join would move the corpus)."""
    docs = corpus["docs"]
    vocab = text.vocab_topk(docs, 12, with_docs=False).select("token")
    a = audit_plan(text.oov_rate(docs, vocab))
    assert a["broadcasts"] >= 1, "vocab join lost its broadcast"
    assert a["sorts_global"] == 0


# ---- the suite's check families over the clips table ----------------------


@pytest.fixture(scope="module")
def clips(spark):
    from pyanomalydetector2_spark.datagen.clips import clips_table

    cur = clips_table(spark, 2000, planted=True, n_buckets=8).cache()
    base = clips_table(spark, 2000, planted=False, n_buckets=8).cache()
    yield cur, base
    cur.unpersist()
    base.unpersist()


def _suite_family_audit(df):
    a = audit_plan(df)
    assert a["cartesian"] == 0, "cartesian crept in"
    assert a["sorts_global"] == 0, "global sort crept in"
    return a


def test_referential_violations_shape(spark, clips):
    """Broadcast anti-join against the dimension: the fact side never
    shuffles."""
    from pyanomalydetector2_spark.datagen.clips import dim_codec
    from pyanomalydetector2_spark.operators.integrity import (
        referential_violations,
    )

    cur, _ = clips
    a = _suite_family_audit(
        referential_violations(cur, "codec", dim_codec(spark), ["clip_id", "bucket"])
    )
    assert a["shuffles"] == 1, f"referential shuffles: {a['shuffles']}"


def test_duplicate_rows_shape(clips):
    """One groupBy-key exchange, then a broadcast join of the duplicate
    keys back onto the rows."""
    from pyanomalydetector2_spark.operators.uniqueness import duplicate_rows

    cur, _ = clips
    a = _suite_family_audit(duplicate_rows(cur, "clip_id", ["bucket"]))
    assert a["shuffles"] == 1, f"duplicate_rows shuffles: {a['shuffles']}"


def test_snapshot_diff_shape(clips):
    """One full-outer join of the two snapshots on the key."""
    from pyanomalydetector2_spark.operators.reconcile import snapshot_diff

    cur, base = clips
    a = _suite_family_audit(
        snapshot_diff(
            base, cur, ["clip_id"], ["codec", "dur_ms", "transcript"],
            carry_cols=["bucket"],
        )
    )
    assert a["shuffles"] == 2, f"snapshot_diff shuffles: {a['shuffles']}"
