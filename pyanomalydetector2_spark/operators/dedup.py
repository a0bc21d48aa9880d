"""Deduplication operators for large-scale training-data pipelines.

All hashing uses md5 (available and bit-identical in Spark, DuckDB, and
Python) so every operator is oracle-checkable: h(s) = first 60 bits of
md5(s) as a signed long.

Scale notes:
- exact dedup: one shuffle on the fingerprint (map-side combine).
- MinHash: one explode+groupBy pass computes ALL k signature slots
  (k min-aggregates, no per-hash passes); LSH banding turns the O(N²)
  pair search into a per-(band, key) bucket self-join where buckets are
  tiny by construction. Hot buckets (degenerate texts) are the skew risk —
  cap bucket size upstream or salt.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def h60(c: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5 → long.
    DuckDB equivalent: ('0x' || substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) exploded distinct-shingle frame — the shared input of
    MinHash and exact-Jaccard. Rebalanced before the ~50× explode so a
    single-split input doesn't pin the whole pass on one core."""
    from pyanomalydetector2_spark.functions import rebalance_for_expansion

    df = rebalance_for_expansion(df.select(id_col, text_col))
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # guard: sequence(0, -1) would DESCEND in Spark — short docs get no shingles
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(grams)).alias("shingle"),
    )


MH_PRIME = (1 << 31) - 1  # Mersenne prime for the affine mixes
MH_MOD30 = 1 << 30


def minhash_mix_consts(k: int) -> list[tuple[int, int]]:
    """Deterministic affine-mix constants (a_i odd < 2^30, b_i < prime),
    derived from md5 so every engine reproduces them."""
    import hashlib

    out = []
    for i in range(k):
        h = int(hashlib.md5(f"mh:{i}".encode()).hexdigest()[:15], 16)
        out.append(((h % (1 << 29)) * 2 + 1, (h >> 30) % MH_PRIME))
    return out


def minhash_from_shingles(sh: DataFrame, k: int = 8) -> DataFrame:
    """MinHash signatures from a prebuilt (id, shingle) frame: ONE md5 per
    shingle, then k affine mixes slot_i = (a_i·h30 + b_i) mod p over the
    hash folded to 30 bits — 8× less hashing than k md5s per shingle (the
    r01 bench's dominant cost), overflow-safe under ANSI mode
    (a·h30 + b < 2^61), and bit-identical in DuckDB (% on non-negative
    BIGINTs). ONE groupBy computes all k slots."""
    h30 = F.pmod(h60(F.col("shingle")), F.lit(MH_MOD30))
    aggs = [
        F.min(F.pmod(F.lit(a) * h30 + F.lit(b), F.lit(MH_PRIME))).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_mix_consts(k))
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature: ONE explode + ONE groupBy for all k slots.
    Pipelines composing MinHash with exact Jaccard should build the shingle
    frame once and use ``near_dup_jaccard`` (single scan of documents)."""
    return minhash_from_shingles(shingle_frame(df, id_col, text_col, n), k)


def _banded(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, key) exploded band frame shared by the pair join and the
    bucket-size audit."""
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_",
                *[
                    F.col(f"mh{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ],
            ).alias("key"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        "id", F.explode(F.array(*entries)).alias("e")
    ).select("id", F.col("e.band").alias("band"), F.col("e.key").alias("key"))


def _capped_buckets(
    banded: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """(band, key, ids) bucket arrays with hot buckets removed BEFORE the
    array materializes: a map-side-combined size count prunes oversized
    keys first, so a degenerate bucket (10^9 boilerplate docs sharing a
    band key) never builds a 10^9-element aggregation buffer. The anti
    join shares the (band, key) partitioning with the collect groupBy,
    and AQE broadcasts the hot-key list when it is tiny (the usual case)."""
    if max_bucket_size is not None:
        hot = (
            banded.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("sz"))
            .filter(F.col("sz") > max_bucket_size)
        )
        banded = banded.join(hot, ["band", "key"], "anti")
    return banded.groupBy("band", "key").agg(F.collect_list("id").alias("ids"))


def pairs_from_banded(
    banded: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from a (id, band, key) banded frame:
    ``_capped_buckets`` hot-bucket prune, then the two-stage streamed
    member/partner explode (pairs generated row-by-row inside codegen — no
    value ever holds a bucket's full O(b²) pair set), then a distinct over
    the (tiny) cross-band pair set. The pair core of the MinHash-LSH text
    path."""
    buckets = _capped_buckets(banded, max_bucket_size).filter(F.size("ids") >= 2)
    member = buckets.select(
        F.array_sort(F.col("ids")).alias("ids")
    ).select("ids", F.posexplode("ids").alias("i", "id_a"))
    return (
        member.select(
            "id_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))
            ).alias("id_b"),
        )
        .distinct()
    )


def bucket_stats_from_banded(
    banded: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Per-(band, key) bucket sizes with a ``dropped`` flag — the
    observability metric for the hot-bucket cap, shared by both LSH
    families."""
    sizes = banded.groupBy("band", "key").agg(F.count(F.lit(1)).alias("size"))
    dropped = (
        F.lit(False)
        if max_bucket_size is None
        else F.col("size") > max_bucket_size
    )
    return sizes.withColumn("dropped", dropped)


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Band the signature (bands × rows_per_band slots) and emit candidate
    pairs (id_a < id_b) sharing any band key. Bucket self-join — the scale
    path vs O(N²) all-pairs.

    Execution shape: ONE map-side-combined-ish groupBy collects each
    bucket's ids into an array, then pairs are generated INSIDE the array
    (sorted ids × higher-order transform, so id_a < id_b by construction)
    and exploded — one shuffle of the banded frame total, vs the previous
    window-count + self-join + distinct (4 shuffles, banded computed twice).
    The final cross-band dedup is a distinct over the (tiny) pair set.

    Hot-bucket guard: a degenerate band key (empty/boilerplate docs all
    hashing alike) makes pair generation O(b²) in that bucket. Buckets
    larger than ``max_bucket_size`` are DROPPED (their members are
    boilerplate, not meaningful near-dups) — pruned by a size pre-count
    BEFORE the bucket array materializes (``_capped_buckets``), so the cap
    also bounds aggregation-buffer memory (≤ cap ids ≈ 80 KB per bucket).
    Audit what was dropped with ``lsh_bucket_stats``. Pass None to
    disable."""
    return pairs_from_banded(_banded(sigs, bands, rows_per_band), max_bucket_size)


def lsh_bucket_stats(
    sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Per-(band, key) bucket sizes with a ``dropped`` flag — the
    observability metric for the hot-bucket cap (report Σ dropped members
    alongside dedup results so silent truncation is visible)."""
    return bucket_stats_from_banded(
        _banded(sigs, bands, rows_per_band), max_bucket_size
    )


def jaccard_from_shingles(
    sh: DataFrame, pairs: DataFrame, prune: bool = True
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs from a prebuilt (id,
    shingle) frame: |A ∩ B| / |A ∪ B| over distinct shingle sets.

    With ``prune`` (default) the shingle frame is first pruned to docs that
    appear in a candidate pair (semi join — AQE turns it into a broadcast
    probe when the id set is small, a shuffle semi join when it isn't), so
    the size aggregate and both pair joins run over candidate shingles
    only, not the whole corpus: at low dup rates that is orders of
    magnitude less shuffled data. Callers that hand in an
    already-candidate-only frame pass ``prune=False``."""
    if prune:
        # the candidate plan is referenced 3× below (both union branches
        # of the id prune + the pair join): checkpoint once so the
        # upstream minhash/banding pipeline doesn't execute per reference
        pairs = pairs.localCheckpoint()
        ids = (
            pairs.select(F.col("id_a").alias("id"))
            .union(pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
        sh = sh.join(ids, "id", "semi")
    # per-doc shingle SET + size in ONE aggregation, then two id-equi
    # joins onto the pair frame and a codegen array_intersect per pair —
    # replaces the old (id, shingle)-keyed string equi-join + count-rollup
    # + two size joins (5 exchanges, with the wide string shuffle keyed on
    # (id_b, shingle)). The set frame is |candidate docs| rows, which at
    # low dup rates is small enough for AQE to broadcast both probes.
    # |A ∩ B| over distinct-element arrays is the identical integer, so
    # jaccard values are bit-identical; pairs sharing no shingle keep the
    # old inner-join semantics via the inter ≥ 1 filter.
    sets = sh.groupBy("id").agg(
        F.collect_list("shingle").alias("ss"), F.count(F.lit(1)).alias("sz")
    )
    inter = F.size(F.array_intersect("ss_a", "ss_b"))
    return (
        pairs.select("id_a", "id_b")
        .join(
            sets.select(
                F.col("id").alias("id_a"), F.col("ss").alias("ss_a"),
                F.col("sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"), F.col("ss").alias("ss_b"),
                F.col("sz").alias("sz_b"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            F.col("sz_a"),
            F.col("sz_b"),
        )
        # materialize BEFORE the inter filter: `inter` is referenced by
        # the filter and (twice) by the jaccard arithmetic, and Catalyst
        # inlines the array_intersect into every reference — each pair
        # would intersect its shingle sets up to 3× (the JVM analog of
        # guide §4.4). The scored frame is |pairs| narrow int rows.
        .localCheckpoint()
        .filter(F.col("inter") >= 1)
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for the given candidate pairs."""
    return jaccard_from_shingles(shingle_frame(df, id_col, text_col, n), pairs)


def dup_clusters(
    pairs: DataFrame,
    max_iter: int = 25,
    algorithm: str = "propagate",
    rounds_out: list | None = None,
    small_cut: int | None = 200_000,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over near-dup
    pairs — every doc in a component gets cluster_id = the component's
    smallest doc id (the canonical keep-one representative of a dedup
    pipeline). Two interchangeable engines behind one signature, both
    reaching the SAME deterministic fixpoint (pytest-proven equal on
    random and planted long-chain graphs):

    - ``algorithm="propagate"`` (default): min-label propagation,
      label(v) ← min(label(v), min_{u∈N(v)} label(u)) — O(diameter)
      rounds, each one join + one map-side-combined groupBy, scalar-agg
      convergence probe. Dup graphs are overwhelmingly star/clique
      shaped (diameter ≤ ~3), so 2–4 shuffle rounds in practice; this is
      the cheapest per-round engine for the common shape.
    - ``algorithm="star"``: the large-star/small-star alternation of
      Kiveris et al., "Connected Components in MapReduce and Beyond"
      (SoCC 2014, public literature) — O(log d) alternations instead of
      O(d) rounds, closing the documented adversarial-diameter seam
      (VERDICT r04 #4): a diameter-1000 chain converges in ~10
      alternations instead of 1000 propagation rounds.

    ``rounds_out``: optional list; the number of executed rounds
    (propagation rounds / star alternations) is appended — convergence
    observability for tests and ops. Deterministic fixpoint ⇒
    oracle-checkable (recursive CTE).
    """
    if algorithm == "star":
        return _star_components(pairs, max_iter, rounds_out)
    if algorithm != "propagate":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    # cut the (possibly expensive) pair lineage BEFORE the self-union:
    # union-ing the raw plan duplicates the whole upstream pipeline into
    # both branches, so an uncached jaccard/decode feed would execute
    # TWICE inside the first checkpoint (measured 2× the feed cost at
    # sf1.0); checkpoint first and the union reads materialized rows
    pairs = pairs.select("id_a", "id_b").localCheckpoint()
    # size-adaptive driver funnel (optimization r06): each propagation
    # round is a join + groupBy + checkpoint + convergence probe — ~5
    # fixed-cost jobs — while a SMALL pair set resolves in microseconds
    # of union-find. Below ``small_cut`` pairs (a bounded collect: two
    # ids per row, ≤ a few MB — the same funnel class as the sanctioned
    # bucket-count collects), compute the identical min-label fixpoint on
    # the driver and return it as an Arrow-backed local frame. At corpus
    # scale the pre-count (a cached-partition scan of the checkpoint)
    # routes to the distributed loop unchanged. Pass ``small_cut=None``
    # to force the distributed path.
    if small_cut is not None and pairs.count() <= small_cut:
        from pyspark.sql.types import StructField, StructType

        from pyanomalydetector2_spark.functions import local_rows_df

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in pairs.collect():
            a, b = row[0], row[1]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        comp_min: dict = {}
        for v in parent:
            r = find(v)
            if r not in comp_min or v < comp_min[r]:
                comp_min[r] = v
        if rounds_out is not None:
            rounds_out.append(1)
        dt = pairs.schema["id_a"].dataType
        return local_rows_df(
            pairs.sparkSession,
            [(v, comp_min[find(v)]) for v in parent],
            StructType(
                [StructField("id", dt), StructField("cluster_id", dt)]
            ),
        )
    edges = (
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .union(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d")))
        .localCheckpoint()
    )
    # round 1 fused into initialization: on the symmetric edge frame every
    # vertex appears as d, so label(v) = min(v, min neighbor) is ONE
    # map-side-combined groupBy — no identity-label frame, no first join
    labels = (
        edges.groupBy(F.col("d").alias("id"))
        .agg(F.min("s").alias("nmin"))
        .select("id", F.least(F.col("id"), F.col("nmin")).alias("label"))
        .localCheckpoint()
    )
    # labels are monotone non-increasing, so Σlabel strictly decreases every
    # non-converged round — the convergence probe is ONE scalar aggregate
    # (map-side combined, no join/shuffle) instead of a self-join
    prev_sum = labels.agg(F.sum("label")).first()[0]
    rounds = 1
    for _ in range(max_iter - 1):
        neigh = (
            edges.join(labels, edges["s"] == labels["id"])
            .groupBy(F.col("d").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        # localCheckpoint (not persist): iterative plans otherwise accumulate
        # one join per round and planning cost grows quadratically — the
        # checkpoint keeps every round's plan O(1)
        labels = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        rounds += 1
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    if rounds_out is not None:
        rounds_out.append(rounds)
    return labels.select("id", F.col("label").alias("cluster_id"))


def _star_components(
    pairs: DataFrame, max_iter: int = 25, rounds_out: list | None = None
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014).

    The edge set itself is the state. One alternation:
    - **large-star** — for every vertex u, hook each strictly-larger
      neighbor v > u to m(u) = min(Γ(u) ∪ {u}): emitted at u off the
      symmetric edge frame, so every edge is processed exactly once
      (at its smaller endpoint);
    - **small-star** — orient edges large→small, and at each vertex u
      hook all (smaller) neighbors and u itself to m(u).

    Both steps are one groupBy-min + one join on the edge frame — the
    same shuffle budget per round as a propagation round — but the tree
    height roughly HALVES each alternation, so a diameter-d chain
    converges in O(log d) alternations. At the fixpoint the edge set is
    a star forest (v → component-min), read off directly as the labels.

    Convergence detection is EXACT set equality (subtract + count — the
    output is ``.distinct()``ed each round), not a checksum: the loop
    runs O(log d) times, so the extra shuffle per round is noise, and a
    false positive would silently split a component.
    """
    # checkpoint BEFORE the self-unions (see dup_clusters: a raw-plan
    # union would run the upstream pair pipeline once per branch)
    pairs = pairs.select("id_a", "id_b").localCheckpoint()
    verts = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    # canonical (larger, smaller) orientation; self-loops dropped
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("a"),
            F.least("id_a", "id_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count()
    rounds = 0
    for _ in range(max_iter):
        if n_edges == 0:
            break
        rounds += 1
        # large-star: symmetric view (u, v); m(u) = min(Γ(u) ∪ {u});
        # emit (v, m(u)) for v > u
        sym = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("nmin"))
            .select("a", F.least("a", "nmin").alias("m"))
        )
        large = (
            sym.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        # small-star on the large-star output (edges already point
        # large→small): m(u) = min of u's smaller neighbors; hook them
        # and u to m(u)
        mins2 = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            large.join(mins2, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins2.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        n_small = small.count()
        if n_small == n_edges and small.subtract(edges).isEmpty():
            edges = small
            break
        edges, n_edges = small, n_small
    if rounds_out is not None:
        rounds_out.append(rounds)
    # fixpoint edge set is a star forest v → component-min; roots (and
    # isolated self-pair vertices) label themselves
    labels = edges.groupBy(F.col("a").alias("id")).agg(
        F.min("b").alias("cluster_id")
    )
    return verts.join(labels, "id", "left").select(
        "id", F.coalesce("cluster_id", "id").alias("cluster_id")
    )


def near_dup_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.1,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """The composed near-dup pipeline — shingle → MinHash → LSH candidates →
    exact Jaccard. The signature pass explodes the corpus once; the exact
    confirm re-shingles ONLY the candidate-pair members (corpus pruned by a
    semi join BEFORE the ~50× explode — the r06 shape shared with
    near_dup_jaccard_incremental). The previous shape persisted the FULL
    corpus shingle frame for the confirm to later prune: at contract scale
    that is cache-materialization overhead, and at 10^12 rows a
    corpus-sized persist cannot fit memory at all, while the candidate set
    is dup-rate-proportional."""
    sigs = minhash_from_shingles(shingle_frame(df, id_col, text_col, n), k)
    # the confirm consumes the pair frame three times (two id-prune union
    # branches + the intersect join) — checkpoint so the LSH sub-plan
    # executes once, not per consumer
    pairs = lsh_candidate_pairs(
        sigs, bands, rows_per_band, max_bucket_size
    ).localCheckpoint()
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand = df.join(ids, id_col, "semi")
    j = jaccard_from_shingles(
        shingle_frame(cand, id_col, text_col, n), pairs, prune=False
    )
    return j.filter(F.col("jaccard") >= threshold)


def incremental_candidate_pairs(
    index_sigs: DataFrame | None,
    new_sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 10_000,
    index_banded: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates touching at least one NEW doc: band the new batch and
    probe it against the banded union of (index ∪ new). This is the
    amortized ingest path — the corpus index is a stored signature table
    (k longs per doc), re-banded but never re-shingled, and pair generation
    is proportional to the batch, not the corpus. Emits distinct
    (id_a < id_b) pairs covering new×index and new×new.

    ``index_sigs`` must NOT contain the new batch. Hot-bucket cap semantics
    match lsh_candidate_pairs (size pre-count before arrays materialize);
    a bucket over the cap on the union side is dropped for the whole batch.

    Scale note: passing ``index_sigs`` re-bands (and therefore re-shuffles)
    the whole index every batch — fine up to ~10^9 docs, wasteful at 10^12.
    The production layout stores the BANDED index once, partitioned/bucketed
    by (band, key) (e.g. ``_banded(sigs) → SnapshotTable.write_snapshot(
    partition_by=["band"])``), and passes it as ``index_banded``: the
    per-batch cost is then one scan of the banded table co-partitioned with
    the groupBy, no index-side wide shuffle."""
    banded_new = _banded(new_sigs, bands, rows_per_band).localCheckpoint()
    if index_banded is None:
        if index_sigs is None:
            raise ValueError("pass index_sigs or index_banded")
        index_banded = _banded(index_sigs, bands, rows_per_band)
    return incremental_pairs_from_banded(
        index_banded, banded_new, max_bucket_size
    )


def incremental_pairs_from_banded(
    index_banded: DataFrame,
    banded_new: DataFrame,
    max_bucket_size: int | None = 10_000,
    broadcast_keys: bool = True,
    prune: bool = True,
) -> DataFrame:
    """Banding-agnostic incremental-probe core: distinct (id_a < id_b)
    pairs touching at least one id from ``banded_new``, given two
    pre-banded (id, band, key) frames. The MinHash text path
    (``incremental_candidate_pairs``) stores a banded index across runs
    and probes each new batch against it, so pair generation is
    proportional to the batch, not the corpus.

    ``banded_new`` is consumed by two operators (the union and the key
    set) — callers should ``localCheckpoint()`` it first so the batch
    banding computes once.

    ``broadcast_keys``: the prune strategy. True (default) hints a
    broadcast semi — right when the batch is SMALL relative to the index
    (the key set collects to the driver once and the index side stays at
    one scan, no index-wide shuffle). For LARGE batches the broadcast
    itself becomes the serial bottleneck (keys grow linearly with the
    batch: driver collect + per-executor hashtable build scale with
    batch size, not with cores) — pass False to let the semi join
    shuffle both sides instead, which is fully parallel and what you
    want once batch ≈ index. The streaming ingest picks per batch by
    measured banding size.

    ``prune``: whether to run the probe-side key prune at all. The prune
    pays for itself when the index dwarfs the batch (the mature-stream
    steady state: it keeps the bucket aggregation batch-proportional);
    when index ≲ batch (a young stream, a bulk backfill) the key set
    covers nearly every bucket, so the distinct + semi join are pure
    overhead — pass False to aggregate index ∪ new directly. Correctness
    is prune-independent: a bucket with no new member emits nothing
    either way (empty ``ids_new``)."""
    banded_all = (
        index_banded.select("id", "band", "key")
        .withColumn("is_new", F.lit(False))
        .union(
            banded_new.select("id", "band", "key").withColumn(
                "is_new", F.lit(True)
            )
        )
    )
    # probe-side prune FIRST: only buckets containing a new member can emit
    # pairs (no index-wide aggregation; the pre-prune version aggregated
    # bucket arrays for EVERY corpus bucket before the join could discard
    # them)
    if prune:
        keys_new = banded_new.select("band", "key").distinct()
        if broadcast_keys:
            keys_new = F.broadcast(keys_new)
        probed = banded_all.join(keys_new, ["band", "key"], "semi")
    else:
        probed = banded_all
    # ONE flagged aggregation builds both member arrays (all ids + the
    # new-member subset via NULL-skipping collect_list) — an earlier shape
    # aggregated banded_new a second time and joined the two bucket
    # frames, paying two extra batch-sized shuffles per micro-batch for
    # the same pair set. The cap binds on the all-members size: within a
    # probed bucket new ⊆ all, so a batch-side-only overflow is impossible
    # and the single prune is semantics-identical to capping both sides.
    if max_bucket_size is not None:
        hot = (
            probed.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("sz"))
            .filter(F.col("sz") > max_bucket_size)
        )
        probed = probed.join(hot, ["band", "key"], "anti")
    buckets = probed.groupBy("band", "key").agg(
        F.collect_list("id").alias("ids"),
        F.collect_list(F.when(F.col("is_new"), F.col("id"))).alias(
            "ids_new"
        ),
    )
    # stream pair generation (same shape as lsh_candidate_pairs): a row per
    # NEW member carrying the bucket's full id array (O(cap)), partners
    # exploded row-by-row — no single value holds a bucket's pair set
    member = buckets.filter(F.size("ids_new") >= 1).select(
        F.array_sort(F.col("ids")).alias("ids"),
        F.explode("ids_new").alias("a"),
    )
    return (
        member.select(
            "a",
            F.explode(
                F.filter(F.col("ids"), lambda b: b != F.col("a"))
            ).alias("b"),
        )
        .select(
            F.least("a", "b").alias("id_a"), F.greatest("a", "b").alias("id_b")
        )
        .distinct()
    )


def near_dup_jaccard_incremental(
    docs: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    index_sigs: DataFrame | None = None,
    k: int = 8,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.1,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Incremental near-dup: dedup a new batch against an existing corpus
    WITHOUT recomputing the corpus pipeline. ``docs`` = full corpus
    including the batch (consulted only for candidate docs' shingles — the
    jaccard confirm's semi join prunes it to pair members); ``new_docs`` =
    the batch; ``index_sigs`` = the stored signature table of the existing
    corpus (minhash_signatures persisted across runs — e.g. a
    SnapshotTable). When None it is computed from docs minus the batch
    (testing convenience). Output: exactly the near_dup_jaccard pairs that
    touch at least one new doc, same jaccard values."""
    new_sigs = minhash_signatures(new_docs, id_col, text_col, k, n)
    if index_sigs is None:
        old = docs.join(new_docs.select(id_col), id_col, "left_anti")
        index_sigs = minhash_signatures(old, id_col, text_col, k, n)
    # the jaccard confirm consumes the pair frame three times (two id-set
    # unions + the intersect join); without a checkpoint the whole index
    # lineage would be inlined into each copy — cut it once
    pairs = incremental_candidate_pairs(
        index_sigs, new_sigs, bands, rows_per_band, max_bucket_size
    ).localCheckpoint()
    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # prune the corpus to pair members BEFORE the ~50× shingle explode
    # (this frame feeds only the confirm, never the signatures): the semi
    # join cannot be pushed below a Generate, so exploding first would
    # shingle the whole corpus to keep a candidate-sized subset
    cand_docs = docs.join(
        ids.withColumnRenamed("id", id_col), id_col, "semi"
    )
    sh = shingle_frame(cand_docs, id_col, text_col, n)
    j = jaccard_from_shingles(sh, pairs, prune=False)  # already candidate-only
    return j.filter(F.col("jaccard") >= threshold)


def keep_best_per_cluster(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """The dedup DECISION: for each duplicate cluster keep the best-scoring
    member (ties → smallest id), mark the rest for dropping. ``clusters`` =
    (id, cluster_id) from dup_clusters; ``scores`` = (id_col, score_col).
    Returns (doc_id, cluster_id, score, keep). Docs not in any cluster are
    implicitly kept (they never reach this frame)."""
    j = clusters.join(
        scores.select(F.col(id_col).alias("id"), F.col(score_col).alias("score")),
        "id",
    )
    best = j.groupBy("cluster_id").agg(
        F.max_by("id", F.struct(F.col("score"), -F.col("id"))).alias("best_id")
    )
    return (
        j.join(best, "cluster_id")
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            "score",
            (F.col("id") == F.col("best_id")).alias("keep"),
        )
    )


def edit_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 40,
    k: int = 8,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-dup confirm by EDIT DISTANCE instead of Jaccard — the check that
    catches small in-place edits (typo fixes, entity swaps) which keep
    shingle overlap high but matter for exact-provenance dedup policies.

    Composition is the same scale shape as near_dup_jaccard: banded MinHash
    generates the candidates (never all-pairs), and the confirm touches only
    pair members. The confirm itself stays fully JVM-side:

      1. a length band prune ``|len_a - len_b| <= max_dist`` — the classic
         Levenshtein lower bound, a free integer filter that kills most
         candidates before any O(len_a * len_b) work, and
      2. Spark's thresholded ``levenshtein(a, b, max_dist)`` kernel, which
         abandons a row's DP early (returns -1) once the distance provably
         exceeds the bound — per-pair cost O(max_dist * min_len), not
         O(len_a * len_b).

    Text reaches the pair frame through two hash joins keyed by id; at
    corpus scale the candidate side is orders of magnitude smaller than the
    corpus, so both joins are candidate-bounded. Output:
    (id_a, id_b, len_a, len_b, dist) for pairs with dist <= max_dist.

    Reference analog: none (the reference has no text dedup at all); this
    extends the training-data-pipeline dedup family mandated by the build
    brief alongside MinHash near-dup.
    """
    sigs = minhash_signatures(df, id_col, text_col, k, n)
    pairs = lsh_candidate_pairs(sigs, bands, rows_per_band, max_bucket_size)
    # checkpoint: the candidate plan feeds both id-prune branches and the
    # pair join below (same multi-reference shape as jaccard_from_shingles)
    pairs = pairs.localCheckpoint()
    # the candidate frame is BYTE-tiny (two longs per row) so AQE
    # coalesces it to ~one partition — but each row downstream pays an
    # O(max_dist·len) DP, so the kernel would run on one core. Spread the
    # rows across the slots before the broadcast joins (guide §2.5: cost
    # is per-row work, not bytes); row values are unchanged.
    par = df.sparkSession.sparkContext.defaultParallelism
    kernel_input = pairs.repartition(par)
    ids = (
        pairs.select(F.col("id_a").alias("__id"))
        .union(pairs.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    # candidate-bounded text side: prune the corpus to pair members BEFORE
    # the two joins — the pruned frame is small enough to broadcast, so
    # the full-corpus text column never shuffles. Checkpoint: both joins
    # reference it, and each reference otherwise re-runs the corpus scan
    # + semi probe (guide §7.2: duplicated subtrees)
    texts = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__txt"),
            F.length(text_col).alias("__len"),
        )
        .join(ids, "__id", "semi")
        .localCheckpoint()
    )
    j = (
        kernel_input.join(
            texts.select(
                F.col("__id").alias("id_a"),
                F.col("__txt").alias("__txt_a"),
                F.col("__len").alias("len_a"),
            ),
            "id_a",
        )
        .join(
            texts.select(
                F.col("__id").alias("id_b"),
                F.col("__txt").alias("__txt_b"),
                F.col("__len").alias("len_b"),
            ),
            "id_b",
        )
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
    )
    # equality shortcut: near-dup candidates overwhelmingly carry the
    # SAME text (exact duplicates), and levenshtein(x, x) = 0 exactly —
    # skip the O(max_dist·len) DP for equal strings; distances are
    # unchanged
    dist = F.when(
        F.col("__txt_a") == F.col("__txt_b"), F.lit(0)
    ).otherwise(F.levenshtein("__txt_a", "__txt_b", max_dist))
    # materialize the scored frame BEFORE the dist filter: `dist` is
    # referenced by the filter AND the output projection, and Catalyst
    # inlines the expression into both — every candidate pair would pay
    # the O(max_dist·len) DP twice (the JVM analog of the guide §4.4
    # duplicated-UDF plan). The pre-filter frame is |candidates| narrow
    # rows, so the checkpoint is cheap and the kernel runs exactly once.
    scored = j.select(
        "id_a", "id_b", "len_a", "len_b", dist.alias("dist")
    ).localCheckpoint()
    return scored.filter(
        (F.col("dist") >= 0) & (F.col("dist") <= max_dist)
    )


def exact_substring_dup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplication metric per document (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): the
    fraction of a document's tokens covered by at least one k-token gram
    that occurs ``min_count``+ times in the whole corpus (all occurrences
    count — within- and cross-document alike, as in the paper's suffix-
    array formulation restricted to k-gram granularity).

    Output: (id, n_tokens, n_dup_grams, dup_tokens, dup_frac) — one row
    per input document, zeros for documents with no duplicated gram.
    ``dup_tokens`` is the size of the UNION of the [pos, pos+k) intervals
    of the duplicated gram occurrences; for sorted positions that union is
    closed-form ``k + Σ min(k, pos_i − pos_{i−1})``, evaluated as a per-row
    array expression (no second shuffle for the interval sweep).

    Scale (the 100-TB shape):
    - gram occurrences are (long id, int pos, long hash) rows — tokens are
      hashed to 60 bits (`h60`, the corpus-wide md5 idiom) BEFORE the
      shuffle, so the wide text never leaves the scan stage;
    - global gram counts use groupBy (map-side partial aggregation absorbs
      hot grams like boilerplate headers before the exchange), then an
      inner join occurrences ⋈ duplicated-keys on the hash — the
      AQE-skew-splittable shape, unlike a window count whose hot partition
      cannot be split;
    - per-doc reduce is one groupBy(id) with a sorted-positions array fold.
    Three shuffles total, each on narrow fixed-width rows.

    The paper uses k=50 BPE tokens; the default k=5 whitespace tokens
    keeps the small test corpora non-degenerate. Reference analog: none
    (the reference has no text surface); the screen-then-confirm funnel
    mirrors detector.py:150-215.
    """
    from pyanomalydetector2_spark.functions import rebalance_for_expansion
    from pyanomalydetector2_spark.operators.text import ngram_array, ws_tokens

    # NULL text is zero evidence (no tokens), not a -1-sized array
    base = rebalance_for_expansion(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        ws_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("t"),
    )
    docs = base.select("id", F.size("t").alias("n_tokens"))
    occ = base.select(
        "id", F.posexplode(ngram_array(F.col("t"), k)).alias("pos", "g")
    ).select("id", "pos", h60(F.col("g")).alias("gh"))
    # occ feeds BOTH the global gram count and the hit join: checkpoint the
    # narrow (id, pos, gh) rows once so the tokenize+explode+md5 pass — the
    # dominant map cost — doesn't execute per reference
    occ = occ.localCheckpoint()
    dup_keys = (
        occ.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("gh")
    )
    hits = occ.join(dup_keys, "gh")
    per = hits.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.sort_array(F.collect_list("pos")).alias("ps"),
    )
    # union length of sorted fixed-width-k intervals: k for the first,
    # min(k, gap) for each successor
    gaps = F.zip_with(
        F.slice(F.col("ps"), 2, F.greatest(F.size("ps") - 1, F.lit(0))),
        F.slice(F.col("ps"), 1, F.greatest(F.size("ps") - 1, F.lit(0))),
        lambda a, b: F.least(F.lit(k), a - b),
    )
    per = per.select(
        "id",
        "n_dup_grams",
        (
            F.lit(k)
            + F.aggregate(gaps, F.lit(0), lambda acc, x: acc + x)
        ).alias("dup_tokens"),
    )
    return (
        docs.join(per, "id", "left")
        .select(
            "id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce(
                    F.try_divide(
                        F.coalesce("dup_tokens", F.lit(0)), F.col("n_tokens")
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("dup_frac"),
        )
    )
