"""Curation operators: decontamination, split leakage, sequence packing.

Oracles are hand-computed on tiny planted corpora."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyanomalydetector2_spark.operators.curation import (
    bench_bucket,
    contamination_rate,
    decontaminate,
    pack_shards,
    split_leakage,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_decontaminate_flags_only_ngram_overlap(spark):
    # bench doc shares a full 4-gram with d1; d2 shares only 3 tokens
    corpus = _docs(
        spark,
        [
            ("d1", "the quick brown fox jumps over"),
            ("d2", "quick brown fox sleeps all day long"),
            ("d3", "completely unrelated text about spark engines"),
        ],
    )
    bench = _docs(spark, [("b1", "lazy dogs and the quick brown fox jumps")])
    out = decontaminate(corpus, bench, "doc_id", "text", n=4).collect()
    assert {(r.id, r.bench_id) for r in out} == {("d1", "b1")}
    # d1 shares exactly two distinct 4-grams:
    # "the quick brown fox" and "quick brown fox jumps"
    assert out[0].n_shared == 2


def test_decontaminate_min_shared_threshold(spark):
    corpus = _docs(spark, [("d1", "a b c d e f")])
    bench = _docs(spark, [("b1", "a b c d z e f")])
    # shares one 4-gram ("a b c d") -> dropped at min_shared=2
    assert (
        decontaminate(corpus, bench, "doc_id", "text", n=4, min_shared=2).count()
        == 0
    )
    assert (
        decontaminate(corpus, bench, "doc_id", "text", n=4, min_shared=1).count()
        == 1
    )


def test_split_leakage_flags_cross_split_pairs_only(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "id_a string, id_b string"
    )
    splits = spark.createDataFrame(
        [("a", "train"), ("b", "train"), ("c", "val")],
        "doc_id string, split string",
    )
    out = split_leakage(pairs, splits, "doc_id").collect()
    got = {(r.id_a, r.id_b) for r in out}
    assert got == {("a", "c"), ("b", "c")}
    assert all(
        (r.split_a, r.split_b) in {("train", "val"), ("val", "train")}
        for r in out
    )


def test_pack_shards_offsets_are_exclusive_prefix_sums(spark):
    df = spark.createDataFrame(
        [(f"d{i}", 10 * (i + 1)) for i in range(20)], "doc_id string, n long"
    )
    out = pack_shards(df, "doc_id", F.col("n"), budget=50, n_shards=4)
    rows = out.collect()
    assert len(rows) == 20
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    # within each shard, offsets are an exclusive running sum starting at 0,
    # and pack_id is the 50-token chunk the first token lands in
    tok = {r.id: next(x.n for x in df.collect() if x.doc_id == r.id) for r in rows}
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.start_off)
        assert shard_rows[0].start_off == 0
        acc = 0
        for r in shard_rows:
            assert r.start_off == acc
            assert r.pack_id == acc // 50
            acc += tok[r.id]


def test_pack_shards_deterministic_under_repartition(spark):
    df = spark.createDataFrame(
        [(f"d{i}", i + 1) for i in range(50)], "doc_id string, n long"
    )
    a = pack_shards(df, "doc_id", F.col("n"), budget=16, n_shards=4)
    b = pack_shards(
        df.repartition(7), "doc_id", F.col("n"), budget=16, n_shards=4
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_bench_bucket_partitions_and_contamination_rate(spark):
    docs = _docs(spark, [(f"d{i}", f"text {i}") for i in range(200)])
    is_bench = bench_bucket(F.col("doc_id"), 0.2)
    n_bench = docs.filter(is_bench).count()
    assert 0 < n_bench < 200
    assert docs.filter(~is_bench).count() == 200 - n_bench
    flagged = spark.createDataFrame(
        [("d1", "b1", 3), ("d1", "b2", 1), ("d2", "b1", 2)],
        "id string, bench_id string, n_shared long",
    )
    r = contamination_rate(flagged, docs, "doc_id").collect()[0]
    assert (r.n_docs, r.n_contaminated) == (200, 2)
    assert abs(r.rate - 2 / 200) < 1e-12


def test_pii_metrics_and_redact(spark):
    from pyspark.sql import functions as F

    from pyanomalydetector2_spark.operators.curation import (
        pii_metrics,
        pii_redact,
    )

    df = spark.createDataFrame(
        [
            ("a", "write to bob.smith+x@mail.example.org or call +44 20 7946 0958"),
            ("b", "server at 192.168.0.1 and 10.0.0.255, no phone"),
            ("c", "nothing sensitive here 3.14 is just pi"),
            ("d", None),
        ],
        "id string, text string",
    )
    out = {
        r.id: r
        for r in pii_metrics(df, "text")
        .withColumn("red", pii_redact(F.col("text")))
        .collect()
    }
    assert (out["a"].n_email, out["a"].n_phone, out["a"].n_ipv4) == (1, 1, 0)
    assert out["a"].red == "write to <EMAIL> or call <PHONE>"
    assert (out["b"].n_email, out["b"].n_ipv4, out["b"].n_phone) == (0, 2, 0)
    assert out["b"].red == "server at <IPV4> and <IPV4>, no phone"
    # "3.14" must not be clipped by the ipv4 rule (needs four octets)
    assert (out["c"].n_email, out["c"].n_ipv4, out["c"].n_phone) == (0, 0, 0)
    assert out["c"].red == out["c"].text
    # NULL text: zero hits (missing evidence), redaction stays NULL
    assert (out["d"].n_email, out["d"].n_ipv4, out["d"].n_phone) == (0, 0, 0)
    assert out["d"].red is None


def test_repetition_metrics_planted_duplicates(spark):
    from pyanomalydetector2_spark.operators.text import repetition_metrics

    df = spark.createDataFrame(
        [
            # 4 lines, "x y" twice: dup_line_frac=1-3/4, chars 2*3/12
            ("a", "x y\nz w\nx y\nq r"),
            ("b", "all distinct\nlines here"),
            ("c", ""),
            ("e", None),
        ],
        "id string, text string",
    )
    out = {r.id: r for r in repetition_metrics(df, "id", "text").collect()}
    a = out["a"]
    assert a.n_lines == 4
    assert abs(a.dup_line_frac - 0.25) < 1e-9
    assert abs(a.dup_line_char_frac - 6 / 12) < 1e-9
    # tokens: x y z w x y q r -> 7 2-grams, "x y" twice is the top;
    # coverage denominator is the raw text length (15 chars)
    assert a.top_ngram == "x y"
    assert abs(a.top_ngram_frac - 2 * 3 / 15) < 1e-9
    b = out["b"]
    assert (b.n_lines, b.dup_line_frac, b.dup_line_char_frac) == (2, 0.0, 0.0)
    c = out["c"]
    assert (c.n_lines, c.dup_line_frac, c.top_ngram, c.top_ngram_frac) == (
        0, 0.0, "", 0.0,
    )
    # NULL text ≡ empty document, not a row of NULL metrics
    e = out["e"]
    assert (e.n_lines, e.dup_line_frac, e.top_ngram, e.dup_ngram_char_frac) == (
        0, 0.0, "", 0.0,
    )


def test_repetition_metrics_dup_ngram_char_frac(spark):
    from pyanomalydetector2_spark.operators.text import repetition_metrics

    # tokens a b a b a -> grams: "a b","b a","a b","b a" all duplicated
    df = spark.createDataFrame([("d", "a b a b a")], "id string, text string")
    r = repetition_metrics(df, "id", "text").collect()[0]
    assert r.dup_ngram_char_frac == 1.0
    assert r.top_ngram == "a b"
