"""Vocabulary statistics and tokenization (operators/text.py: vocab_counts
/ vocab_topk / oov_rate / ws_tokens) on hand-planted corpora."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyanomalydetector2_spark.constraints.dsl import TOKEN_COUNT_SQL
from pyanomalydetector2_spark.operators.text import (
    oov_rate,
    vocab_counts,
    vocab_topk,
    ws_tokens,
)

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat"),
    (2, "  THE  Cat  "),          # case/whitespace normalize
    (3, ""),                      # empty: zero tokens
    (4, None),                    # null: zero tokens
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_vocab_counts_corpus_and_doc_frequency(spark):
    got = {
        r["token"]: (r["cnt"], r["docs"])
        for r in vocab_counts(_df(spark)).collect()
    }
    assert got["the"] == (4, 3)   # twice in doc 0, once in 1 and 2
    assert got["cat"] == (2, 2)
    assert got["sat"] == (2, 2)
    assert got["mat"] == (1, 1)
    assert "" not in got          # empty tokens filtered


def test_vocab_topk_boundary_tiebreak(spark):
    # cnt: the=4, cat=2, sat=2, dog=1, mat=1, on=1 — at k=3 the 2-count
    # tie resolves ascending (cat before sat); at k=4 the 1-count tie
    # admits exactly 'dog'
    top3 = [r["token"] for r in vocab_topk(_df(spark), 3).collect()]
    assert sorted(top3) == ["cat", "sat", "the"]
    top4 = {r["token"] for r in vocab_topk(_df(spark), 4).collect()}
    assert top4 == {"the", "cat", "sat", "dog"}


def test_oov_rate_exact_ppm_and_empty_docs(spark):
    df = _df(spark)
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("sat",)], "token string"
    )
    got = {r["id"]: r for r in oov_rate(df, vocab).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    # doc 0: 6 tokens, oov = {on, mat} → floor(2e6/6)
    assert (got[0].n_tokens, got[0].n_oov) == (6, 2)
    assert got[0].oov_ppm == 2 * 1_000_000 // 6
    assert (got[1].n_tokens, got[1].n_oov) == (3, 1)
    assert (got[2].n_tokens, got[2].n_oov) == (2, 0)
    assert got[2].oov_ppm == 0
    for empty in (3, 4):          # no tokens: no evidence, NULL rate
        assert (got[empty].n_tokens, got[empty].n_oov) == (0, 0)
        assert got[empty].oov_ppm is None


def test_vocab_drift_flags_shifted_source(spark):
    """A source speaking a disjoint vocabulary drifts hard; a source
    sampling the corpus distribution stays near zero; the grid is capped
    at vocab_k + '<other>' by construction."""
    from pyanomalydetector2_spark.operators.text import vocab_drift

    base_rows = [(i, "steady", "alpha beta gamma delta") for i in range(50)]
    shifted = [(100 + i, "shifted", "zeta eta theta iota") for i in range(50)]
    df = spark.createDataFrame(
        base_rows + shifted, "doc_id long, source string, text string"
    )
    out = {
        r["source"]: r
        for r in vocab_drift(df, df, vocab_k=4, group_col="source").collect()
    }
    # baseline = both sources mixed; each source sees half the corpus
    # mass on its own tokens, so BOTH drift — but symmetric plants give
    # near-equal psi, and each is far from zero
    assert out["steady"].psi > 0.5 and out["shifted"].psi > 0.5
    assert abs(out["steady"].cur_n - out["shifted"].cur_n) == 0

    # a source identical to the corpus: psi ≈ 0
    uni = spark.createDataFrame(
        [(i, "only", "alpha beta") for i in range(30)],
        "doc_id long, source string, text string",
    )
    out2 = vocab_drift(uni, uni, vocab_k=4, group_col="source").collect()
    assert len(out2) == 1 and abs(out2[0]["psi"]) < 1e-9


def test_oov_rate_duplicate_vocab_rows_do_not_inflate(spark):
    vocab_dup = spark.createDataFrame(
        [("the",), ("the",), ("cat",)], "token string"
    )
    got = {r["id"]: r for r in oov_rate(_df(spark), vocab_dup).collect()}
    assert got[0].n_tokens == 6  # not multiplied by the dup row
    assert got[0].n_oov == 3     # sat, on, mat


def test_token_count_sql_matches_ws_tokens(spark):
    """The suite DSL's TOKEN_COUNT_SQL and text.ws_tokens must be the
    SAME tokenizer — including tab/newline separators, which the former's
    old space-only split miscounted."""
    rows = [
        ("a", "hello world"),
        ("b", "hello\tworld"),
        ("c", "a\nb c"),
        ("d", "  padded  "),
        ("e", ""),
        ("f", None),
        ("g", "\t"),
        ("h", "one"),
        ("i", "x\r\ny  z"),
    ]
    df = spark.createDataFrame(rows, "id string, transcript string")
    t = F.col("transcript")
    got = {
        r["id"]: (r["sql_n"], r["op_n"])
        for r in df.select(
            "id",
            F.expr(TOKEN_COUNT_SQL).alias("sql_n"),
            F.when(t.isNull(), F.lit(0))
            .otherwise(F.size(ws_tokens(t)))
            .alias("op_n"),
        ).collect()
    }
    for rid, (sql_n, op_n) in got.items():
        assert sql_n == op_n, (rid, sql_n, op_n)
    assert got["b"] == (2, 2)   # tab separates
    assert got["g"] == (0, 0)   # whitespace-only counts zero
    assert got["i"] == (3, 3)   # CRLF + double space
