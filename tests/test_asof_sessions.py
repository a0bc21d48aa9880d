"""Edit-distance near-dup against a pure-Python Levenshtein DP oracle."""

from __future__ import annotations

from pyanomalydetector2_spark.operators.dedup import edit_near_dup


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_near_dup_distances_match_dp_oracle(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (0, base),
        (1, base.replace("quick", "quack")),  # dist 2
        (2, base.replace("again and again", "againandagain")),  # dist 2
        (3, "completely unrelated text about spark shuffles and joins"),
        (4, base + " tail"),  # dist 5
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = edit_near_dup(
        df, "doc_id", "text", max_dist=10, max_bucket_size=None
    ).collect()
    texts = dict(docs)
    assert out, "expected near-dup pairs"
    found = set()
    for r in out:
        assert r.dist == _lev(texts[r.id_a], texts[r.id_b])
        assert r.dist <= 10
        assert (r.len_a, r.len_b) == (len(texts[r.id_a]), len(texts[r.id_b]))
        found.add((r.id_a, r.id_b))
    assert (0, 1) in found and (0, 4) in found
    assert all(3 not in p for p in found)


def test_edit_near_dup_length_prune_is_lossless(spark):
    """|len_a - len_b| > max_dist implies dist > max_dist (insertions alone
    cost the length difference) — the prune can never drop a true pair."""
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = a + " " + "y" * 21  # appends one token: dist == 22 (space + 21 chars)
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    # sanity: banding does generate this candidate when the bound admits it
    out = edit_near_dup(df, "doc_id", "text", max_dist=22,
                        max_bucket_size=None).collect()
    assert [(r.id_a, r.id_b, r.dist) for r in out] == [(0, 1, 22)]
    # max_dist 21 < length gap 22: prune fires, and that is CORRECT
    out = edit_near_dup(df, "doc_id", "text", max_dist=21,
                        max_bucket_size=None).collect()
    assert out == []
