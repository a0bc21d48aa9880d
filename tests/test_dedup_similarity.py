"""Dedup / similarity operator tests: the distributed blocked near-dup
(exact vs the pandas oracle and the bf variant), the LSH hot-bucket cap
(bounded pair generation with a planted degenerate bucket), and the
high-threshold LSH near-dup path (subset-of-exact + recall on planted dups).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyanomalydetector2_spark.operators.dedup import (
    lsh_bucket_stats,
    lsh_candidate_pairs,
    minhash_signatures,
)
from pyanomalydetector2_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_near_dup_pairs_bf,
    cosine_near_dup_pairs_blocked,
)


def _emb_frame(spark, n=200, dim=16, n_dups=12, seed=11):
    """Deterministic embeddings with planted near-identical pairs:
    vec n+i = vec i + tiny noise (cosine ≈ 0.999)."""
    rng = np.random.default_rng(seed)
    base = rng.normal(0, 1, (n, dim))
    dups = base[:n_dups] + rng.normal(0, 0.01, (n_dups, dim))
    mat = np.vstack([base, dups])
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(mat), dtype=np.int64),
         "embedding": [row.tolist() for row in mat]}
    )
    return spark.createDataFrame(pdf), mat


def _oracle_pairs(mat: np.ndarray, threshold: float) -> set[tuple]:
    m = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = np.round(m @ m.T, 6)
    iu, ju = np.triu_indices(len(m), k=1)
    keep = sims[iu, ju] >= threshold
    return {(int(a), int(b), s) for a, b, s in
            zip(iu[keep], ju[keep], sims[iu, ju][keep])}


@pytest.mark.parametrize("num_blocks", [1, 3, 8])
def test_blocked_near_dup_exact_vs_oracle(spark, num_blocks):
    df, mat = _emb_frame(spark)
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in cosine_near_dup_pairs_blocked(
            df, threshold=0.5, num_blocks=num_blocks
        ).collect()
    }
    assert got == _oracle_pairs(mat, 0.5)
    assert len(got) >= 12  # the planted dups are all found


def test_blocked_matches_bf_variant(spark):
    df, _ = _emb_frame(spark)
    blocked = {
        tuple(r) for r in cosine_near_dup_pairs_blocked(
            df, threshold=0.5, num_blocks=4
        ).collect()
    }
    bf = {tuple(r) for r in cosine_near_dup_pairs_bf(df, threshold=0.5).collect()}
    assert blocked == bf


def test_lsh_near_dup_high_threshold_subset_and_recall(spark):
    df, mat = _emb_frame(spark)
    exact = _oracle_pairs(mat, 0.99)
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in cosine_near_dup_pairs(
            df, threshold=0.99, dims=mat.shape[1], planes=6
        ).collect()
    }
    assert got <= exact  # LSH candidates ∩ threshold ⊆ exact by construction
    # at cosine ≈ 0.999 the single-signature collision prob is ~0.94^6 ≈ 0.7;
    # on this fixture the planted pairs all collide (deterministic hyperplanes)
    assert len(got) >= len(exact) * 0.5 and len(exact) >= 12


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


def test_embedding_lsh_hot_bucket_cap_bounds_pairs(spark):
    """Planted degenerate-embedding hot bucket (40 near-identical vectors →
    same hyperplane bucket in every band): the cap drops the bucket before
    pair generation, normal near-dup pairs are unaffected, and the audit
    reports the drop — the embedding-side analog of the MinHash cap test."""
    from pyanomalydetector2_spark.operators.similarity import (
        embedding_lsh_bucket_stats,
    )

    rng = np.random.default_rng(7)
    dim = 16
    base = rng.normal(0, 1, (30, dim))
    planted = base[:6] + rng.normal(0, 0.005, (6, dim))  # real near-dups
    degen_dir = rng.normal(0, 1, dim)
    degen = degen_dir + rng.normal(0, 1e-4, (40, dim))  # the hot bucket
    mat = np.vstack([base, planted])
    pdf = pd.DataFrame(
        {"vec_id": list(range(len(mat))) + [1000 + i for i in range(40)],
         "embedding": [r.tolist() for r in np.vstack([mat, degen])]}
    )
    df = spark.createDataFrame(pdf)

    uncapped = cosine_near_dup_pairs(
        df, threshold=0.99, dims=dim, planes=6, bands=3, max_bucket_size=None
    ).collect()
    capped = cosine_near_dup_pairs(
        df, threshold=0.99, dims=dim, planes=6, bands=3, max_bucket_size=10
    ).collect()

    # uncapped: the 40 degenerate vectors alone give 40·39/2 = 780 pairs
    degen_unc = [r for r in uncapped if r["id_a"] >= 1000]
    assert len(degen_unc) == 780
    # capped: every bucket the degenerate vectors share exceeds the cap
    assert not [r for r in capped if r["id_a"] >= 1000]
    # pairs among normal vectors are unaffected by the cap, and the planted
    # near-identical pairs are found
    normal_unc = {tuple(r) for r in uncapped if r["id_b"] < 1000}
    normal_cap = {tuple(r) for r in capped if r["id_b"] < 1000}
    assert normal_cap == normal_unc
    assert len(normal_cap) >= 6

    stats = embedding_lsh_bucket_stats(
        df, dims=dim, planes=6, bands=3, max_bucket_size=10
    )
    dropped = stats.filter("dropped").collect()
    assert dropped and all(r["size"] >= 40 for r in dropped)


def test_band_zero_matches_single_signature(spark):
    """bands=1 banded signatures reproduce hyperplane_signature_udf
    bit-for-bit (backwards compatibility of every stored bucket key)."""
    from pyanomalydetector2_spark.operators.similarity import (
        hyperplane_band_signatures_udf,
        hyperplane_signature_udf,
    )
    from pyspark.sql import functions as F

    df, _ = _emb_frame(spark, n=50, dim=16, n_dups=0)
    single = hyperplane_signature_udf(16, 6)(F.col("embedding"))
    banded = hyperplane_band_signatures_udf(16, 6, 3)(F.col("embedding"))
    rows = df.select(
        single.alias("s"), F.element_at(banded, 1).alias("b0")
    ).collect()
    assert rows and all(r["s"] == r["b0"] for r in rows)


def test_ivf_persisted_index_matches_fresh(spark, tmp_path):
    """The ANN analog of the pre-banded LSH index: build the IVF index
    (centroids + per-row cell assignments), snapshot both, read them back,
    and probe a query batch — results must be IDENTICAL to a fresh
    ivf_topk over the same corpus."""
    from pyanomalydetector2_spark.operators.similarity import (
        ivf_assignments,
        ivf_centroids,
        ivf_probe_topk,
        ivf_topk,
    )
    from pyanomalydetector2_spark.sources.catalog import SnapshotTable

    df, _ = _emb_frame(spark, n=120, dim=16, n_dups=8)
    queries = df.filter("vec_id < 10")

    cents = ivf_centroids(df, n_cells=8)
    assign = ivf_assignments(df, cents)
    t_c = SnapshotTable(str(tmp_path / "ivf_centroids"))
    t_a = SnapshotTable(str(tmp_path / "ivf_assign"))
    t_c.write_snapshot(cents)
    t_a.write_snapshot(assign, partition_by=["cell"])  # probe prunes cells

    got = {
        tuple(r) for r in ivf_probe_topk(
            df, queries, t_c.read(spark), t_a.read(spark), k=5, nprobe=2
        ).collect()
    }
    fresh = {
        tuple(r) for r in ivf_topk(df, queries, k=5, nprobe=2, n_cells=8).collect()
    }
    assert got == fresh and len(fresh) == 50  # 10 queries × k=5


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


def test_pair_cosine_null_and_ragged_rows_degrade_to_null(spark):
    """A NULL, empty, or length-mismatched embedding must yield NULL
    cosine — not crash the Arrow batch (code-review r03 finding #1: the
    numpy kernel replaced a null-safe Catalyst expression)."""
    from pyspark.sql import functions as F

    from pyanomalydetector2_spark.operators.similarity import pair_cosine_udf

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),    # fine → 1.0
            (2, None, [1.0, 0.0]),          # NULL vector
            (3, [1.0, 0.0], [1.0]),         # ragged pair
            (4, [0.0, 0.0], [1.0, 0.0]),    # zero norm
            (5, [], []),                    # empty vectors
            (6, [0.0, 1.0], [1.0, 0.0]),    # fine → 0.0
        ],
        "id long, a array<double>, b array<double>",
    )
    rows = {
        r["id"]: r["c"]
        for r in df.select("id", pair_cosine_udf()(F.col("a"), F.col("b")).alias("c")).collect()
    }
    assert rows[1] == 1.0 and rows[6] == 0.0
    assert rows[2] is None and rows[3] is None and rows[4] is None and rows[5] is None


def test_recall_audit_math(spark):
    """Per-query recall@k: hits / exact_n with a left join so 0-hit
    queries appear with recall 0.0, and exact_n is what exact search
    actually found (never padded to k)."""
    import pandas as pd

    from pyanomalydetector2_spark.operators.similarity import recall_audit

    exact = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [1, 1, 1, 2, 2, 3],
                "match_id": [10, 11, 12, 20, 21, 30],
            }
        )
    )
    ann = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [1, 1, 1, 2, 9],
                # q1: 2 of 3 right (13 is a false positive), q2: 1 of 2,
                # q3: nothing, q9: ANN-only query ignored
                "match_id": [10, 11, 13, 21, 99],
            }
        )
    )
    rows = {r["query_id"]: r for r in recall_audit(ann, exact).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["exact_n"] == 3 and rows[1]["hits"] == 2
    assert rows[1]["recall"] == pytest.approx(round(2 / 3, 6))
    assert rows[2]["recall"] == 0.5
    assert rows[3]["hits"] == 0 and rows[3]["recall"] == 0.0


def test_sample_queries_deterministic(spark):
    """The md5-ordered sample is a pure function of the ids — stable
    across invocations and partitionings."""
    from pyanomalydetector2_spark.operators.similarity import sample_queries

    df = spark.range(500).withColumnRenamed("id", "vec_id")
    s1 = sorted(r.vec_id for r in sample_queries(df, 20).collect())
    s2 = sorted(
        r.vec_id
        for r in sample_queries(df.repartition(7), 20).collect()
    )
    assert s1 == s2 and len(s1) == 20


def test_recall_audit_on_real_ann_paths(spark, corpus_dir):
    """LSH and IVF recall measured against brute force on the corpus
    embeddings — sanity: recall in (0, 1], exact self-audit is 1.0."""
    from pyspark.sql import functions as F

    from pyanomalydetector2_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_bucketed_topk,
        recall_audit,
        sample_queries,
    )

    emb = (
        spark.read.parquet(f"{corpus_dir}/embeddings.parquet")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    )
    q = sample_queries(emb, 10)
    exact = brute_force_topk(emb, q, k=5)
    perfect = recall_audit(exact, exact).agg(F.min("recall")).first()[0]
    assert perfect == 1.0

    for ann in (
        lsh_bucketed_topk(emb, q, dims=64, k=5, planes=4),
        ivf_topk(emb, q, k=5, n_cells=8, nprobe=2),
    ):
        r = recall_audit(ann, exact).agg(F.avg("recall")).first()[0]
        assert 0.0 < r <= 1.0


def test_ivf_pq_probe_identical_compact_and_sane(spark, tmp_path):
    """IVF-PQ: (a) the snapshotted compressed index probed via
    ivf_pq_probe_topk is result-identical to the fresh ivf_pq_topk;
    (b) the stored index carries only (id, cell, codes) — no vectors;
    (c) ADC scores equal rounded cosine against the numpy reconstruction
    (independent replay); (d) exact-duplicate vectors share identical
    (cell, codes) — quantization is a pure function of the vector."""
    import numpy as np

    from pyanomalydetector2_spark.operators.similarity import (
        ivf_centroids,
        ivf_pq_probe_topk,
        ivf_pq_topk,
        pq_codebook,
        pq_index,
    )
    from pyanomalydetector2_spark.sources.catalog import SnapshotTable

    df, _mat = _emb_frame(spark, n=120, dim=16, n_dups=8)
    queries = df.filter("vec_id < 10")

    cents = ivf_centroids(df, n_cells=8)
    cb = pq_codebook(df, n_codes=16)
    idx = pq_index(df, cents, cb, m_sub=4)
    assert set(idx.columns) == {"vec_id", "cell", "codes"}
    t = SnapshotTable(str(tmp_path / "pq_index"))
    t.write_snapshot(idx, partition_by=["cell"])

    got = {
        tuple(r)
        for r in ivf_pq_probe_topk(
            t.read(spark), queries, cents, cb, k=5, nprobe=2, m_sub=4
        ).collect()
    }
    fresh_rows = ivf_pq_topk(
        df, queries, k=5, nprobe=2, m_sub=4, n_codes=16, n_cells=8
    ).collect()
    fresh = {tuple(r) for r in fresh_rows}
    assert got == fresh and len(fresh) == 50  # 10 queries × k=5

    # independent numpy replay of codes + reconstruction for one query's
    # top match
    cb_rows = sorted(cb.collect(), key=lambda r: r["j"])
    cbm = np.array([r["bv"] for r in cb_rows], dtype=np.float64)
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    d = 16 // 4
    for r in fresh_rows[:10]:
        x = vecs[r["match_id"]]
        xhat = np.empty(16)
        for m in range(4):
            sl = slice(m * d, (m + 1) * d)
            dist = np.round(
                np.sqrt(((x[sl][None, :] - cbm[:, sl]) ** 2).sum(1)), 6
            )
            xhat[sl] = cbm[int(np.argmin(dist)), sl]
        q = vecs[r["query_id"]]
        exp = round(
            float(q @ xhat / (np.linalg.norm(q) * np.linalg.norm(xhat))), 6
        )
        assert r["cosine"] == exp

    # exact-duplicate vectors quantize identically: append a bit-exact
    # copy of vec 0 under a new id and require identical (cell, codes)
    import pandas as _pd

    v0 = vecs[0].tolist()
    df2 = df.union(
        spark.createDataFrame(
            _pd.DataFrame({"vec_id": [999], "embedding": [v0]})
        )
    )
    idx2 = {
        r["vec_id"]: (r["cell"], tuple(r["codes"]))
        for r in pq_index(df2, cents, cb, m_sub=4)
        .filter("vec_id IN (0, 999)")
        .collect()
    }
    assert idx2[0] == idx2[999]


def test_pq_rejects_indivisible_subspaces(spark):
    """ADVICE r04: dims % m_sub != 0 would leave tail dimensions
    unencoded (encode) and uninitialized np.empty memory (reconstruct) —
    nondeterministic scores. Both the index build and the probe raise."""
    import pytest

    from pyanomalydetector2_spark.operators.similarity import (
        ivf_centroids,
        ivf_pq_probe_topk,
        pq_codebook,
        pq_index,
    )

    df, _mat = _emb_frame(spark, n=40, dim=18, n_dups=0)  # 18 % 4 != 0
    cents = ivf_centroids(df, n_cells=4)
    cb = pq_codebook(df, n_codes=8)
    with pytest.raises(ValueError, match="divisible"):
        pq_index(df, cents, cb, m_sub=4).collect()
    good_idx = pq_index(df, cents, cb, m_sub=3)  # 18 % 3 == 0: fine
    assert good_idx.count() == 40
    with pytest.raises(ValueError, match="divisible"):
        ivf_pq_probe_topk(
            good_idx, df.filter("vec_id < 3"), cents, cb, m_sub=4
        ).collect()


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


def test_text_embed_feature_hash_properties(spark):
    """Derived-embedding sanity (VERDICT r04 stretch #8): identical texts
    → identical unit vectors (cosine 1.0); near-identical texts → high
    cosine; disjoint-vocabulary texts → low; empty/NULL → zero vector.
    The near-dup kernel then finds exactly the planted high-cosine pair."""
    import numpy as np

    from pyanomalydetector2_spark.operators.similarity import (
        cosine_near_dup_pairs_blocked,
    )
    from pyanomalydetector2_spark.operators.text import text_embed

    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        (0, base),
        (1, base),                        # exact dup
        (2, base + " extra tail words"),  # near dup
        (3, "völlig andere wörter überall hier gänzlich verschieden"),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    emb = {
        r.id: np.array(r.embedding)
        for r in text_embed(df, "doc_id", "text", dims=64).collect()
    }
    assert np.array_equal(emb[0], emb[1])
    assert abs(np.linalg.norm(emb[0]) - 1.0) < 1e-4
    assert float(emb[0] @ emb[2]) > 0.9
    assert float(emb[0] @ emb[3]) < 0.5
    assert not emb[4].any() and not emb[5].any()

    vecs = text_embed(df, "doc_id", "text", dims=64, round6=False).select(
        F.col("id").alias("vec_id"), "embedding"
    )
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_near_dup_pairs_blocked(
            vecs, threshold=0.9, num_blocks=2
        ).collect()
    }
    assert set(pairs) == {(0, 1), (0, 2), (1, 2)}
    assert pairs[(0, 1)] == 1.0


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

