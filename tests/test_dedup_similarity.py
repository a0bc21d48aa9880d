"""Dedup operator tests: the MinHash-LSH hot-bucket cap (bounded pair
generation with a planted degenerate bucket), duplicate clusters, the
incremental near-dup probe and exact substring duplicates.
"""

from __future__ import annotations

import numpy as np

from pyanomalydetector2_spark.operators.dedup import (
    lsh_bucket_stats,
    lsh_candidate_pairs,
    minhash_signatures,
)


def _docs_with_hot_bucket(spark, n_normal=30, n_degenerate=40):
    """Normal distinct docs + a block of identical boilerplate docs that all
    land in the same LSH bucket in every band."""
    rows = [
        (i, f"unique document number {i} with content token{i} extra{i * 7}")
        for i in range(n_normal)
    ]
    rows += [
        (1000 + i, "lorem ipsum boilerplate footer text")
        for i in range(n_degenerate)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_hot_bucket_cap_bounds_pairs(spark):
    docs = _docs_with_hot_bucket(spark)
    sigs = minhash_signatures(docs, "doc_id", "text", k=8, n=3).cache()

    uncapped = lsh_candidate_pairs(sigs, max_bucket_size=None).collect()
    capped = lsh_candidate_pairs(sigs, max_bucket_size=10).collect()

    # uncapped: the 40 identical docs alone give 40·39/2 = 780 pairs
    assert len(uncapped) >= 780
    # capped: every bucket the degenerate docs share exceeds the cap → dropped
    degen = {r for r in capped if r["id_a"] >= 1000 and r["id_b"] >= 1000}
    assert not degen
    # pairs among normal docs are unaffected by the cap
    normal_unc = {tuple(r) for r in uncapped if r[0] < 1000 and r[1] < 1000}
    normal_cap = {tuple(r) for r in capped if r[0] < 1000 and r[1] < 1000}
    assert normal_cap == normal_unc

    stats = lsh_bucket_stats(sigs, max_bucket_size=10)
    dropped = stats.filter("dropped").collect()
    assert dropped and all(r["size"] == 40 for r in dropped)


def test_dup_clusters_components(spark):
    """Min-label propagation resolves components exactly: a 4-chain, a
    triangle, and an isolated pair each collapse to their min id — including
    a chain whose propagation needs multiple rounds."""
    from pyanomalydetector2_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        # chain 10-11-12-13 (worst case for propagation), triangle 1-2-3,
        # pair 7-8; pair ids deliberately not sorted by discovery order
        [(11, 12), (1, 2), (12, 13), (2, 3), (10, 11), (1, 3), (7, 8)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10,
        1: 1, 2: 1, 3: 1,
        7: 7, 8: 7,
    }


def test_incremental_near_dup_matches_full_pipeline(spark, corpus_dir):
    """The incremental ingest path (stored signature index + batch probe)
    must produce EXACTLY the full pipeline's pairs that touch a new doc —
    same pairs, same jaccard values — covering new×old and new×new."""
    from pyanomalydetector2_spark.operators.dedup import (
        minhash_signatures,
        near_dup_jaccard,
        near_dup_jaccard_incremental,
    )

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    new = docs.filter("doc_id >= 400")  # 100-doc batch, rest is the corpus
    old = docs.filter("doc_id < 400")

    full = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in near_dup_jaccard(docs, "doc_id", "text").collect()
    }
    expected = {
        p: j for p, j in full.items() if p[0] >= 400 or p[1] >= 400
    }
    assert expected, "fixture must contain pairs touching the new batch"
    assert any(a < 400 <= b for a, b in expected), "fixture needs new×old pairs"
    assert len(expected) < len(full), "fixture must contain old-only pairs"

    # production shape: the index is a precomputed signature table
    index_sigs = minhash_signatures(old, "doc_id", "text")
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in near_dup_jaccard_incremental(
            docs, new, "doc_id", "text", index_sigs=index_sigs
        ).collect()
    }
    assert got == expected

    # convenience path (index computed from docs minus batch) agrees
    got2 = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in near_dup_jaccard_incremental(
            docs, new, "doc_id", "text"
        ).collect()
    }
    assert got2 == expected


def test_incremental_with_persisted_index(spark, tmp_path, corpus_dir):
    """The production incremental path end-to-end: the corpus signature
    index lives in a snapshot table across runs — write it, read it back,
    dedup a batch against it, and land the SAME pairs as the in-memory
    index."""
    from pyanomalydetector2_spark.operators.dedup import (
        minhash_signatures,
        near_dup_jaccard_incremental,
    )
    from pyanomalydetector2_spark.sources.catalog import SnapshotTable

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    new = docs.filter("doc_id < 100")
    old = docs.filter("doc_id >= 100")

    tbl = SnapshotTable(str(tmp_path / "mh_index"))
    tbl.write_snapshot(minhash_signatures(old, "doc_id", "text"))
    stored = tbl.read(spark)

    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in near_dup_jaccard_incremental(
            docs, new, "doc_id", "text", index_sigs=stored
        ).collect()
    }
    exp = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in near_dup_jaccard_incremental(
            docs, new, "doc_id", "text"
        ).collect()
    }
    assert got == exp and got

    # 10^12-scale layout: the BANDED index stored once, partitioned by band
    from pyanomalydetector2_spark.operators.dedup import (
        _banded,
        incremental_candidate_pairs,
        jaccard_pairs,
        minhash_signatures as mh,
    )

    btbl = SnapshotTable(str(tmp_path / "mh_banded"))
    btbl.write_snapshot(_banded(stored, 4, 2), partition_by=["band"])
    pairs = incremental_candidate_pairs(
        None, mh(new, "doc_id", "text"), index_banded=btbl.read(spark)
    ).localCheckpoint()
    j = jaccard_pairs(docs, "doc_id", "text", pairs).filter("jaccard >= 0.1")
    got_b = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in j.collect()
    }
    assert got_b == exp


def test_incremental_near_dup_leaves_no_cached_frame(spark, corpus_dir):
    """The incremental confirm reads its shingle frame once; it must not
    leave a persisted frame behind in the session's cache."""
    from pyanomalydetector2_spark.operators.dedup import (
        near_dup_jaccard_incremental,
    )

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    pairs = near_dup_jaccard_incremental(
        docs, docs.filter("doc_id < 100"), "doc_id", "text"
    ).collect()
    assert pairs
    assert cache.isEmpty()


def test_default_cap_leaves_normal_corpus_unchanged(spark):
    docs = _docs_with_hot_bucket(spark, n_normal=25, n_degenerate=5)
    sigs = minhash_signatures(docs, "doc_id", "text", k=8, n=3).cache()
    with_default = {tuple(r) for r in lsh_candidate_pairs(sigs).collect()}
    without = {tuple(r) for r in lsh_candidate_pairs(sigs, max_bucket_size=None).collect()}
    assert with_default == without


def test_dup_clusters_driver_funnel_equals_distributed(spark):
    """The r06 size-gated driver union-find (small_cut) returns the SAME
    min-label fixpoint as the distributed propagation loop
    (small_cut=None), vertex for vertex, on planted shapes + a seeded
    random graph including self-pairs."""
    import numpy as np

    from pyanomalydetector2_spark.operators.dedup import dup_clusters

    rng = np.random.default_rng(11)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 300, size=(200, 2))]
    edges += [(500, 500), (1007, 1008), (1008, 1009), (1009, 1007)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    driver = {
        r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()
    }
    dist = {
        r["id"]: r["cluster_id"]
        for r in dup_clusters(pairs, small_cut=None).collect()
    }
    assert driver == dist and driver
    assert driver[500] == 500 and driver[1008] == 1007


def test_star_components_fixpoint_equals_propagation(spark):
    """VERDICT r04 #4: the large-star/small-star engine reaches the SAME
    deterministic fixpoint as min-label propagation on planted shapes and
    a seeded random graph — component-min labels, vertex for vertex."""
    import numpy as np

    from pyanomalydetector2_spark.operators.dedup import dup_clusters

    shapes = [(11, 12), (1, 2), (12, 13), (2, 3), (10, 11), (1, 3), (7, 8)]
    rng = np.random.default_rng(7)
    rand = [
        (int(a), int(b))
        for a, b in rng.integers(100, 260, size=(120, 2))
        if a != b
    ]
    for edges in (shapes, rand, shapes + rand):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        prop = {
            r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()
        }
        star = {
            r["id"]: r["cluster_id"]
            for r in dup_clusters(pairs, algorithm="star").collect()
        }
        assert star == prop and star


def test_star_components_log_rounds_on_long_chain(spark):
    """The adversarial-diameter case the seam documented: a diameter-1000
    path converges in O(log d) star alternations (propagation would need
    ~1000 rounds). Assert both the labels and the round count."""
    from pyanomalydetector2_spark.operators.dedup import dup_clusters

    n = 1001  # path 0-1-2-...-1000, diameter 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    rounds: list = []
    got = dup_clusters(
        pairs, max_iter=30, algorithm="star", rounds_out=rounds
    )
    labels = {r["id"]: r["cluster_id"] for r in got.collect()}
    assert labels == {i: 0 for i in range(n)}
    # Kiveris alternation: tree height ~halves per round — log2(1000) ≈ 10;
    # allow slack for the constant, but far below the O(d) regime
    assert rounds and rounds[0] <= 15, rounds


def test_exact_substring_dup_interval_union(spark):
    """Planted corpus with known k-gram duplication: overlapping hits merge
    into one covered interval (union, not sum), disjoint hits add, docs
    with no duplicated gram report zeros, NULL text is zero evidence."""
    from pyanomalydetector2_spark.operators.dedup import exact_substring_dup

    shared = "alpha beta gamma delta"  # one shared 4-gram (k=4)
    rows = [
        # doc 0/1: the shared 4-gram at positions 0 and 2 → each doc has
        # exactly one duplicated-gram occurrence covering 4 tokens
        (0, shared + " x y z"),
        (1, "p q " + shared),
        # doc 2: internal repeat "a b c d ... a b c d" → two occurrences
        # of the same gram inside ONE doc (within-doc duplication counts),
        # positions 0 and 5, gap 5 ≥ k → union = 8 tokens of 9
        (2, "a b c d e a b c d"),
        # doc 3: overlapping coverage — "m n o p q" holds grams at pos 0
        # and 1; plant both in doc 4 too so both grams are corpus-dups;
        # union of [0,4) and [1,5) = 5 tokens, NOT 8
        (3, "m n o p q"),
        (4, "m n o p q tail1 tail2"),
        # doc 5: unique text, zero duplication
        (5, "unique words only here never repeated anywhere at all"),
        # doc 6: NULL text
        (6, None),
        # doc 7: shorter than k → no grams at all
        (7, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: r.asDict()
        for r in exact_substring_dup(df, "doc_id", "text", k=4).collect()
    }
    assert len(got) == 8
    assert got[0]["n_dup_grams"] == 1 and got[0]["dup_tokens"] == 4
    assert got[0]["dup_frac"] == round(4 / 7, 6)
    assert got[1]["n_dup_grams"] == 1 and got[1]["dup_tokens"] == 4
    assert got[2]["n_dup_grams"] == 2 and got[2]["dup_tokens"] == 8
    assert got[2]["dup_frac"] == round(8 / 9, 6)
    # overlap: 2 duplicated grams but only 5 covered tokens
    assert got[3]["n_dup_grams"] == 2 and got[3]["dup_tokens"] == 5
    assert got[3]["dup_frac"] == 1.0
    assert got[4]["n_dup_grams"] == 2 and got[4]["dup_tokens"] == 5
    assert got[4]["dup_frac"] == round(5 / 7, 6)
    for d in (5, 6, 7):
        assert got[d]["n_dup_grams"] == 0 and got[d]["dup_tokens"] == 0
        assert got[d]["dup_frac"] == 0.0
    assert got[6]["n_tokens"] == 0 and got[7]["n_tokens"] == 2

