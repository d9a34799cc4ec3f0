"""Similarity search over an embedding column (array<float>).

- knn_brute: exact cosine top-k for one query vector. Broadcast of the
  query + a single narrow map over the corpus, then a tiny top-k sort —
  the correctness baseline. At 100 TB the map is embarrassingly
  parallel; the sort is on k*partitions rows only (takeOrdered shape).
- ivf_assign / ivf_search: an IVF index expressed relationally —
  centroid assignment is a broadcast cross-join + argmax (deterministic
  tie-break on lowest centroid id); search probes the nprobe nearest
  clusters so the corpus scan shrinks by ~ncentroids/nprobe.

All vector math uses built-in higher-order functions (zip_with +
aggregate) in double precision — JVM-side, codegen'd, no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def _to_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))



def _ranked_topk(scored: DataFrame, k: int, order: list[Column], out) -> DataFrame:
    """Parallel top-k: orderBy().limit(k) compiles to TakeOrderedAndProject
    (per-partition heap top-k + a k*partitions driver merge) — never the
    single-partition Exchange a global Window would force at 100 TB. The
    row_number stamp runs on the <=k survivors only, so its one-partition
    window is k rows, not the corpus."""
    top = scored.orderBy(*order).limit(k)
    # constant partition key: the window runs over the <=k survivors in
    # one (tiny) partition by construction. The key must NOT be
    # optimizer-removable — Spark 4 strips bare literals AND simplifies
    # hash*0 out of partition specs, after which WindowExec logs its
    # global-window warning on every run — pmod(hash, 1) == 0 per row
    # survives as a real expression: same single tiny partition, same
    # plan shape, quiet logs.
    pk = F.pmod(F.xxhash64(F.col(top.columns[0])), F.lit(1))
    w = Window.partitionBy(pk).orderBy(*order)
    return top.withColumn("rnk", F.row_number().over(w).cast("long")).select(*out)


def knn_brute(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors of `query_id` by cosine. Output:
    (neighbor_id, rnk) with deterministic (cos desc, id) tie-break."""
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    q = e.where(F.col(id_col) == query_id).select(F.col("v").alias("qv"))
    scored = (
        e.where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), cosine(F.col("v"), F.col("qv")).alias("cos"))
    )
    return _ranked_topk(
        scored, k,
        [F.col("cos").desc(), F.col(id_col)],
        [F.col(id_col).alias("neighbor_id"), "rnk"],
    )


def neardup_pairs_brute(
    emb: DataFrame,
    top_n: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup: the top_n most similar distinct pairs
    (d1 < d2) corpus-wide. All-pairs — the small-SF correctness oracle;
    the scale path is neardup_pairs_lsh."""
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    a = e.select(F.col(id_col).alias("d1"), F.col("v").alias("va"))
    b = e.select(F.col(id_col).alias("d2"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("d1") < F.col("d2")).select(
        "d1", "d2", cosine(F.col("va"), F.col("vb")).alias("cos")
    )
    return _ranked_topk(
        pairs, top_n,
        [F.col("cos").desc(), F.col("d1"), F.col("d2")],
        ["d1", "d2", "rnk"],
    )


def _rp_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (sha256-seeded) so runs
    are reproducible without an RNG at plan time."""
    import hashlib
    import struct

    planes = []
    for p in range(n_planes):
        row: list[float] = []
        d = 0
        while len(row) < dim:
            h = hashlib.sha256(f"rp:{p}:{d}".encode()).digest()  # 32 bytes
            row.extend(
                struct.unpack(">q", h[i : i + 8])[0] / 2**63 for i in range(0, 32, 8)
            )
            d += 1
        planes.append(row[:dim])
    return planes


def rp_lsh_params(
    n_vectors: int,
    n_bands: int = 4,
    target_occupancy: int = 8,
    verify_budget: int | None = None,
) -> dict:
    """Size RP-LSH parameters to the corpus — the occupancy law the
    sf1 probe measured (BASELINE.md): expected vectors per (band,
    bucket) is n / 2^width, and below the hot-bucket cap the verify
    cost per bucket is C(occupancy, 2), so FIXED parameters scale
    locally quadratically with corpus growth. Holding occupancy at a
    constant target keeps the candidate set linear in n:
        width = max(8, ceil(log2(n / target_occupancy)))
    `n_bands` stays the caller's recall knob (a pair is a candidate if
    it agrees on ANY band); `verify_budget` caps per-bucket occupancy
    for skewed regions where the expectation lies (defaults to the
    operator's 10,000 memory bound). target_occupancy=8 reproduces
    the operator defaults at the 2,000-vector gate fixture (width 8,
    32 planes), so the defaults ARE this law evaluated at gate scale.
    Returns {n_planes, n_bands, bucket_cap} ready to splat into
    neardup_pairs_lsh / semantic_dedup_keeper."""
    import math

    if n_vectors < 1 or n_bands < 1 or target_occupancy < 1:
        raise ValueError("rp_lsh_params: all inputs must be >= 1")
    width = max(8, math.ceil(math.log2(max(2, n_vectors / target_occupancy))))
    return {
        "n_planes": width * n_bands,
        "n_bands": n_bands,
        "bucket_cap": verify_budget if verify_budget is not None else 10_000,
    }


def _lsh_scored_pairs(
    emb: DataFrame,
    n_planes: int = 32,
    n_bands: int = 4,
    dim: int = 64,
    bucket_cap: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-projection LSH candidate pairs with exact cosine scores
    (d1 < d2, deduped): bucket by the sign pattern of sign
    projections, compare only within buckets. n_bands bands of
    n_planes/n_bands bits each: a pair is a candidate if it agrees on
    any one band, so recall stays high while each band's join is
    bucketed. At 100 TB the candidate set is sum(|bucket|^2), not N^2.
    Shared engine under neardup_pairs_lsh (top-n) and
    semantic_dedup_keeper (threshold + components).

    Defaults (32 planes, 4 bands of 8 bits = 256 buckets/band) target
    the near-duplicate regime: P(found | cos=0.95) ~ 0.89,
    P(found | cos=0.98) ~ 0.97; genuinely dissimilar pairs (cos < 0.7)
    almost never collide, which is what bounds the candidate set.

    bucket_cap bounds the quadratic term: any (band, bucket) holding
    more than bucket_cap vectors is re-split by appending the next
    band's bits (2^width-way), trading recall inside oversized buckets
    for a bounded join. The cap check is one map-side-combinable count over
    the keys plus a broadcast join — no extra shuffle of vectors.
    Deterministic planes; rows-only gate check (no SQL analogue) —
    tests assert overlap with brute force.

    Scaling (MEASURED, BASELINE.md sf1 probe): below the cap the
    candidate term is C(occupancy, 2) per bucket and occupancy = n /
    2^width grows linearly with the corpus, so FIXED parameters scale
    locally quadratically — 5.4x wall for 10x vectors at the
    defaults, vs 1.1-2.4x for every lexical capstone. Hold occupancy
    roughly constant by growing band width ~log2(n) (more planes), or
    set bucket_cap to the per-bucket verify budget you can afford:
    once the cap binds, worst-case candidates are n*(cap-1)/2 —
    linear in n (cap=64 measured the same 10x corpus at 2.4x). The
    10,000 default bounds memory, not verify cost — size it to the
    corpus."""
    if n_planes % n_bands:
        raise ValueError("n_planes must divide evenly into n_bands")
    width = n_planes // n_bands
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    # ONE nested-array literal for the whole 32x64 plane matrix + a
    # transform lambda, instead of 32 per-plane F.array(*[F.lit(x)...])
    # expressions. The old formulation built ~2,300 py4j Column calls
    # and a ~16k-node expression tree that Catalyst re-analyzed on
    # every consumer of the (persisted) projection — measured 7.6 s to
    # count 36k candidate pairs over 2,000 vectors at sf0.1, nearly all
    # of it driver-side plan work. Bit values are unchanged: the dot is
    # the same sequential zip_with+aggregate fold per plane, so signs,
    # buckets, and the inlined-plane DuckDB oracles (q32/q178) agree
    # bit-for-bit.
    planes = _rp_planes(n_planes, dim)
    bits_col = F.transform(
        F.lit(planes),
        lambda plane: F.when(dot(F.col("v"), plane) >= 0, F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    pow2 = F.lit([2**i for i in range(width)])

    def band_from_bits(bits, bi):
        # sum(bit_i * 2^i) over band bi's slice — integer-exact in any
        # fold order; bi is a Column (sequence index)
        return F.aggregate(
            F.zip_with(
                F.slice(bits, bi * width + 1, F.lit(width)),
                pow2,
                lambda b, p: (b * p).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
    # One struct per band carrying (band, bucket, nxt) where nxt is the
    # NEXT band's value, used for bucket-cap re-splitting. The projected
    # (id, v, cells) row is PERSISTED before fan-out: the size census and
    # both join sides read it, and each read would otherwise re-run all
    # n_planes dot products over the full corpus (measured 3x projection
    # cost at sf0.1). Cache row = vector + n_bands longs, i.e. barely
    # more than the input the executors already hold.
    #
    # The one-element-array transform is a let-binding: the 32-dot bits
    # array evaluates ONCE per row, then all n_bands (bucket, nxt)
    # pairs read the bound lambda variable. Building the cells from 8
    # separate band_val expressions instead would let CollapseProject
    # inline the full bits transform into each one — 8x the projection
    # CPU on the corpus-sized pass.
    cells = F.element_at(
        F.transform(
            F.array(F.struct(bits_col.alias("b"))),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda bi: F.struct(
                    bi.cast("int").alias("band"),
                    band_from_bits(s["b"], bi).alias("bucket"),
                    band_from_bits(
                        s["b"], F.pmod(bi + 1, F.lit(n_bands))
                    ).alias("nxt"),
                ),
            ),
        ),
        1,
    )
    hashed = e.select(id_col, "v", cells.alias("_cells")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Round 15 (guide §8 "decide with small rows, move big rows
    # once"): the banded self-join and the pair dedup used to carry
    # the full double[dim] vector on BOTH sides — every vector
    # shuffled n_bands times into the join and the survivors again
    # through the dropDuplicates exchange. The join now decides on
    # (id, band, bucket) rows only; vectors are attached to the
    # DEDUPED pair set by two joins against the persisted `hashed`
    # projection the executors already hold. Output identical
    # (va/vb are functions of d1/d2); local A/B neutral at sf0.1
    # (3.82 vs 3.74 s on q178), network bytes at scale drop by
    # ~n_bands * vector width per row.
    keyed = hashed.select(id_col, F.explode("_cells").alias("bk")).select(
        id_col,
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
        F.col("bk.nxt").alias("nxt"),
    )
    if bucket_cap is not None:
        sizes = keyed.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
        keyed = keyed.join(F.broadcast(sizes), ["band", "bucket"]).select(
            id_col,
            "band",
            # +2^width offset keeps refined keys disjoint from the
            # un-refined [0, 2^width) key range
            F.when(
                F.col("_n") > bucket_cap,
                (F.col("bucket") + 1) * (2**width) + F.col("nxt"),
            )
            .otherwise(F.col("bucket"))
            .alias("bucket"),
        )
    a = keyed.select(F.col(id_col).alias("d1"), "band", "bucket")
    b = keyed.select(F.col(id_col).alias("d2"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .dropDuplicates(["d1", "d2"])
    )
    va = hashed.select(F.col(id_col).alias("d1"), F.col("v").alias("va"))
    vb = hashed.select(F.col(id_col).alias("d2"), F.col("v").alias("vb"))
    return (
        cand.join(va, "d1")
        .join(vb, "d2")
        .select("d1", "d2", cosine(F.col("va"), F.col("vb")).alias("cos"))
    )


def _sized_lsh_params(
    emb: DataFrame,
    n_planes: int | None,
    n_bands: int,
    bucket_cap: int | None,
    n_vectors: int | None = None,
) -> tuple[int, int | None]:
    """Resolve (n_planes, bucket_cap) for the production RP-LSH paths.

    n_planes=None (the default) sizes the band width to the corpus via
    rp_lsh_params — one cheap emb.count() (parquet footer metadata at
    scan time, no column read) buys the occupancy law the sf1 probe
    measured: fixed 32 planes ran 5.41x wall for 10x vectors because
    per-bucket verify cost is C(n/2^width, 2); width ~ log2(n/8) holds
    it at ~2.1x per decade. Explicit n_planes (the gate queries pin 32)
    bypasses the count so oracle replays stay bit-identical at any SF.

    An EXPLICIT bucket_cap=None keeps its documented meaning — no
    hot-bucket re-split — on the auto-sized path too (rp_lsh_params'
    verify_budget=None default would otherwise silently re-cap at
    10,000 and drop recall inside hot buckets with no warning).

    The auto-sizing count is one Spark action over `emb`; on a bare
    parquet load that is footer metadata only, but on a DERIVED
    DataFrame it executes the upstream plan once — callers composing
    pipelines can pass `n_vectors` to skip it."""
    if n_planes is not None:
        return n_planes, bucket_cap
    if n_vectors is None:
        n_vectors = emb.count()
    sized = rp_lsh_params(
        max(1, n_vectors), n_bands=n_bands, verify_budget=bucket_cap
    )
    return sized["n_planes"], (
        None if bucket_cap is None else sized["bucket_cap"]
    )


def neardup_pairs_lsh(
    emb: DataFrame,
    top_n: int = 5,
    n_planes: int | None = None,
    n_bands: int = 4,
    dim: int = 64,
    bucket_cap: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
) -> DataFrame:
    """Top-n ranked near-dup pairs over the RP-LSH candidate set (see
    _lsh_scored_pairs for the bucketing/recall story). n_planes=None
    auto-sizes the bands to the corpus (see _sized_lsh_params); at
    n <= 2048 vectors the law reproduces the historical 32-plane
    default exactly. `n_vectors` optionally supplies the corpus size
    so auto-sizing skips its count action (useful when `emb` is a
    derived DataFrame whose upstream plan a count would execute)."""
    n_planes, bucket_cap = _sized_lsh_params(
        emb, n_planes, n_bands, bucket_cap, n_vectors
    )
    scored = _lsh_scored_pairs(
        emb, n_planes, n_bands, dim, bucket_cap, id_col, vec_col
    )
    return _ranked_topk(
        scored, top_n,
        [F.col("cos").desc(), F.col("d1"), F.col("d2")],
        ["d1", "d2", "rnk"],
    )


def semantic_dedup_keeper(
    emb: DataFrame,
    quality_df: DataFrame,
    threshold: float = 0.9,
    n_planes: int | None = None,
    n_bands: int = 4,
    dim: int = 64,
    bucket_cap: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quality_col: str = "quality",
    n_vectors: int | None = None,
) -> DataFrame:
    """The embedding-space twin of dedup.near_dup_cluster_keeper: the
    full SEMANTIC dedup decision — RP-LSH candidate pairs scored by
    exact cosine, thresholded, collapsed transitively via connected
    components, one highest-quality keeper per cluster (ties to the
    smallest id), singletons self-keep. This is the paraphrase/
    re-crawl dedup pass a training pipeline runs AFTER lexical minhash:
    near-identical meaning, different tokens.

    Scale shape: pair discovery is the banded LSH join (sum(|bucket|^2)
    candidates, never N^2; hot buckets re-split by bucket_cap);
    components iterate over the PAIR graph only; the corpus-sized side
    does one aggregate-free join against the clustered-id map. Output:
    (id, cluster_id, quality, n_members, kept).

    n_planes=None (the default) auto-sizes the bands to the corpus via
    rp_lsh_params — the sf1 probe measured fixed 32 planes at 5.41x
    wall per 10x vectors vs 2.13x sized (BASELINE.md); gate queries pin
    n_planes=32 explicitly so their DuckDB oracles replay bit-for-bit."""
    from .dedup import cluster_keeper_from_pairs

    n_planes, bucket_cap = _sized_lsh_params(
        emb, n_planes, n_bands, bucket_cap, n_vectors
    )
    scored = _lsh_scored_pairs(
        emb, n_planes, n_bands, dim, bucket_cap, id_col, vec_col
    )
    pairs = scored.where(F.col("cos") >= threshold).select("d1", "d2")
    # the decision is over EMBEDDED ids only: quality_df may cover a
    # wider corpus (at sf0.1 documents has 2.5x the embedded rows, the
    # exact row-count bug the scale sweep caught) — semi-restrict it
    quality = quality_df.select(
        F.col(id_col), F.col(quality_col).alias("quality")
    ).join(emb.select(F.col(id_col)).distinct(), id_col)
    return cluster_keeper_from_pairs(pairs, quality, id_col)


def _default_centroids(e: DataFrame, n_centroids: int, id_col: str) -> DataFrame:
    """Deterministic seed centroids: the first n_centroids vectors by id
    (k-means++-style seeding would also work; determinism matters more
    here because the oracle replays the same choice)."""
    return e.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col("v").alias("cv")
    )


def _assign(e: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """(id, centroid_id): argmax cosine against broadcast centroids,
    deterministic tie-break on lowest centroid id.

    Round 16 (guide §2.4 "remove shuffles outright"): the centroid set
    folds into ONE broadcast row (collect_list of (cid, cv) structs —
    model-state-sized by construction) and each corpus row picks its
    centroid with array_max over transform() — a narrow map, ZERO
    exchanges. The r15 window form compiled to Sort +
    WindowGroupLimit(Partial) → Exchange hashpartitioning(id) → Sort +
    Window: a full corpus-cardinality shuffle of (id, cid, cos) rows
    plus two O(N·K log N·K) sorts, purely to pick each row's max — at
    100 TB that exchange is terabytes moved for a decision that is
    per-row local.

    Per-task work is also cut ~3x (guide §1.2 step 2): norm(v) is
    computed ONCE per row and norm(cv) ONCE per centroid at broadcast
    build, instead of inside every one of the K cosine() calls — K+1
    array folds per row instead of 3K. The arithmetic is bit-identical
    (dot / (norm(v) * norm(cv)): the same float ops in the same order,
    just not recomputed), so the picked centroid cannot move. The
    four-arm interleaved A/B on a 1M-row replicated corpus: window
    18.3/9.8/8.1/4.3 s, fold+hoist 8.8/4.5/4.1/3.7 s, with
    row-identical output on the fixture AND on adversarial
    NaN/null-vector/exact-tie inputs.

    Equivalence to the window's (cos DESC, cid ASC) pick, exactly:
    array_max compares struct(cos, -cid) with the SAME interpreted
    ordering the window sort used for doubles (NaN greatest,
    -0.0 < 0.0, null field first under max — i.e. NULL cosines lose to
    any non-null, matching desc_nulls_last), and max of -cid breaks
    cos ties to the LOWEST cid. collect_list's nondeterministic order
    is irrelevant: array_max is order-independent. Empty centroid set:
    collect_list yields [], array_max yields NULL, the filter drops
    every row — same zero-row output as the old crossJoin against an
    empty side. transform() materializes each (cos, ncid) struct once,
    so the dot fold evaluates exactly K times per row."""
    cents = cent.select(
        "cid", "cv", norm(F.col("cv")).alias("_ncv")
    ).agg(
        F.collect_list(
            F.struct(F.col("cid"), F.col("cv"), F.col("_ncv"))
        ).alias("_cents")
    )
    best = F.array_max(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                (dot(F.col("v"), c["cv"]) / (F.col("_nv") * c["_ncv"])).alias(
                    "cos"
                ),
                (-c["cid"]).alias("ncid"),
            ),
        )
    )
    return (
        e.withColumn("_nv", norm(F.col("v")))
        .crossJoin(F.broadcast(cents))
        .select(F.col(id_col), best.alias("_b"))
        .where(F.col("_b").isNotNull())
        .select(F.col(id_col), (-F.col("_b.ncid")).alias("centroid_id"))
    )


def ivf_train(
    emb: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd's) over the corpus: assign by cosine,
    recompute each centroid as the L2-normalized mean of its members via
    applyInPandas (Arrow-batched — the mean-of-arrays aggregate Spark
    lacks as a builtin). Centroids are tiny model state, so each
    iteration collects them to the driver and rebroadcasts — the corpus
    itself never moves beyond one assignment shuffle per iteration.
    Output: (cid, cv) trained centroids."""
    import pandas as pd

    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    cent = _default_centroids(e, n_centroids, id_col)

    def mean_vec(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        m = np.stack(pdf["v"].to_numpy()).mean(axis=0)
        n = float(np.linalg.norm(m))
        if n > 0:
            m = m / n
        return pd.DataFrame({"cid": [int(pdf["cid"].iloc[0])], "cv": [m.tolist()]})

    for _ in range(n_iters):
        assigned = _assign(e, cent, id_col)
        members = e.join(assigned, id_col).select(
            F.col("centroid_id").alias("cid"), "v"
        )
        new_rows = (
            members.groupBy("cid")
            .applyInPandas(mean_vec, "cid long, cv array<double>")
            .collect()
        )
        spark = emb.sparkSession
        cent = spark.createDataFrame(
            [(r["cid"], r["cv"]) for r in new_rows], "cid long, cv array<double>"
        )
    return cent


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Assign every vector to its nearest centroid (default: the
    deterministic seed set, so the SQL oracle can replay it; pass
    `centroids` from ivf_train for trained centers).
    Output: (vec_id, centroid_id)."""
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    cent = centroids if centroids is not None else _default_centroids(e, n_centroids, id_col)
    return _assign(e, cent, id_col)


def ivf_search(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """ANN search: restrict the scan to the nprobe clusters nearest the
    query, then exact top-k within them. Output: (neighbor_id, rnk)."""
    assign = ivf_assign(emb, n_centroids, id_col, vec_col, centroids=centroids)
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    q = e.where(F.col(id_col) == query_id).select(F.col("v").alias("qv"))
    cent = (
        centroids
        if centroids is not None
        else _default_centroids(e, n_centroids, id_col)
    )
    probe = (
        cent.crossJoin(F.broadcast(q))
        .select("cid", cosine(F.col("cv"), F.col("qv")).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("cid"))
        .limit(nprobe)
        .select("cid")
    )
    in_probe = assign.join(
        F.broadcast(probe), assign["centroid_id"] == probe["cid"], "left_semi"
    )
    scored = (
        e.join(in_probe, id_col, "left_semi")
        .where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), cosine(F.col("v"), F.col("qv")).alias("cos"))
    )
    return _ranked_topk(
        scored, k,
        [F.col("cos").desc(), F.col(id_col)],
        [F.col(id_col).alias("neighbor_id"), "rnk"],
    )


def knn_batch(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors for MANY query vectors in one pass — the shape a
    retrieval service actually runs. The query set broadcasts (it is
    small by definition), the corpus is scanned once, and ranking is a
    window PARTITIONED by query id, so every query's top-k is computed
    in parallel with no global sort. Output: (query_id, neighbor_id,
    rnk), deterministic (cos desc, id) tie-break."""
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    q = e.where(F.col(id_col).isin([int(x) for x in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", F.col(id_col), cosine(F.col("v"), F.col("qv")).alias("cos")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rnk")
    )


def quantization_stats(
    emb: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """One-row DataFrame of per-dimension (mn{i}, mx{i}) bounds — the
    scalar-quantization codebook. One partial-agg pass over the corpus
    (2*dim min/max aggregates, map-side combined); the result is
    model-state-sized (like ivf_train's centroids) and is meant to be
    broadcast."""
    if dim is None:
        dim = emb.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    aggs = []
    for i in range(1, dim + 1):
        x = F.element_at(F.col(vec_col), i).cast("double")
        aggs.append(F.min(x).alias(f"mn{i}"))
        aggs.append(F.max(x).alias(f"mx{i}"))
    return emb.agg(*aggs)


def quantize_embeddings(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Scalar quantization of float embeddings to `bits`-bit codes —
    4x (int8) storage/bandwidth compression for the 100 TB embedding
    store; recall cost is tested (test_ext.py: dequantized kNN keeps
    the brute-force top-k). Output: (id, codes array<int>), code_i =
    round((x_i - mn_i) / ((mx_i - mn_i) / levels)) clamped to
    [0, levels].

    The arithmetic is a fixed chain of single IEEE double ops, so any
    engine replays the codes bit-for-bit (the gate's oracle does).
    Scale shape: stats is one tiny partial-agg row broadcast back;
    quantization itself is a pure codegen narrow map."""
    levels = (1 << bits) - 1
    dim = emb.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    if stats is None:
        stats = quantization_stats(emb, vec_col, dim=dim)

    def code(i: int) -> Column:
        x = F.element_at(F.col(vec_col), i).cast("double")
        mn, mx = F.col(f"mn{i}"), F.col(f"mx{i}")
        scale = (mx - mn) / F.lit(float(levels))
        q = F.round((x - mn) / scale).cast("int")
        return F.when(
            mx > mn, F.least(F.lit(levels), F.greatest(F.lit(0), q))
        ).otherwise(F.lit(0))

    codes = F.array(*[code(i) for i in range(1, dim + 1)])
    return emb.crossJoin(F.broadcast(stats)).select(
        F.col(id_col), codes.alias("codes")
    )


def dequantize(
    codes: DataFrame,
    stats: DataFrame,
    dim: int,
    bits: int = 8,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Reconstruct approximate double vectors from quantized codes:
    x_i ~ mn_i + code_i * scale_i. Narrow map; used by the recall test
    and by any consumer that wants cheap approximate distances."""
    levels = (1 << bits) - 1
    vals = F.array(
        *[
            F.col(f"mn{i}")
            + F.element_at(F.col(codes_col), i).cast("double")
            * ((F.col(f"mx{i}") - F.col(f"mn{i}")) / F.lit(float(levels)))
            for i in range(1, dim + 1)
        ]
    )
    return codes.crossJoin(F.broadcast(stats)).select(
        F.col(id_col), vals.alias("v")
    )


def filtered_knn(
    emb: DataFrame,
    allowed: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed_col: str | None = None,
) -> DataFrame:
    """Pre-filtered exact kNN — the hybrid-search shape: a metadata
    predicate (language, source, date, license) restricts the corpus
    FIRST, similarity ranks second. `allowed` is a one-column id frame
    from any metadata query; candidates are pruned with a left_semi
    join before a single dot product runs, so scoring cost tracks the
    filtered subset, not the corpus. The query vector is looked up in
    the unfiltered corpus (the query need not satisfy its own filter).
    Output: (neighbor_id, rnk), cosine-desc with id tie-break."""
    acol = allowed_col or allowed.columns[0]
    ids = allowed.select(F.col(acol).alias(id_col)).distinct()
    cand = emb.join(ids, id_col, "left_semi")
    q = emb.where(F.col(id_col) == query_id).select(
        _to_double(F.col(vec_col)).alias("qv")
    )
    scored = (
        cand.where(F.col(id_col) != query_id)
        .select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), cosine(F.col("v"), F.col("qv")).alias("cos"))
    )
    return _ranked_topk(
        scored,
        k,
        [F.col("cos").desc(), F.col(id_col)],
        [F.col(id_col).alias("neighbor_id"), "rnk"],
    )


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(label, centroid) — element-wise mean embedding per label.

    Element sums accumulate as decimal(38,12) (order-insensitive exact
    arithmetic, the gap_fill discipline) so the centroid replays
    bit-identically in any engine — a plain double sum would depend on
    Spark's partial-agg merge order and could not be oracle-checked.
    Shape: posexplode (narrow, dim rows per vector) -> ONE partial-agg
    groupBy(label, pos) -> per-label re-assembly of dim rows. The
    shuffle carries (labels x dim) aggregate rows, not vectors."""
    e = emb.select(
        F.col(label_col).alias("label"), _to_double(F.col(vec_col)).alias("v")
    )
    elems = e.select("label", F.posexplode("v").alias("pos", "x"))
    sums = elems.groupBy("label", "pos").agg(
        F.sum(F.col("x").cast("decimal(38,12)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        sums.select(
            "label",
            F.struct("pos", (F.col("s").cast("double") / F.col("n")).alias("m")).alias(
                "pm"
            ),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("pm")), lambda s: s["m"]
            ).alias("centroid")
        )
    )


def centroid_outliers(
    emb: DataFrame,
    top_n: int = 10,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The top_n vectors FARTHEST (lowest cosine) from their own
    label's centroid — mislabeled or out-of-distribution points; the
    embedding-space complement of the text quality filters. Output:
    (vec_id, label, rnk), rnk 1 = most outlying; no float column, so
    the oracle compares ordering, not float bits.

    Shape: label_centroids (labels x dim aggregate) joins back on
    label — at most |labels| rows, no broadcast hint needed for
    correctness but always tiny — then one codegen cosine per vector
    and a TakeOrderedAndProject top-k. One pass over the vectors."""
    e = emb.select(
        F.col(id_col), F.col(label_col).alias("label"), _to_double(F.col(vec_col)).alias("v")
    )
    cent = label_centroids(emb, label_col, id_col, vec_col)
    scored = e.join(cent, "label").select(
        id_col, "label", cosine(F.col("v"), F.col("centroid")).alias("cos")
    )
    return _ranked_topk(
        scored, top_n,
        [F.col("cos").asc(), F.col(id_col)],
        [id_col, "label", "rnk"],
    )


def ivf_search_batch(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """ANN for MANY queries against the IVF index in one corpus pass —
    the production retrieval shape (knn_batch is its exact/brute
    counterpart). Each query probes its nprobe nearest clusters; the
    corpus joins the broadcast (query, probed-cluster) set on the
    cluster id, so a vector is scored only for the queries probing its
    cluster — total score work ~ |queries| * corpus/(
    n_centroids/nprobe), not |queries| * corpus. Ranking is a window
    PARTITIONED by query id (parallel, never a global sort). Output:
    (query_id, neighbor_id, rnk), deterministic tie-break."""
    assign = ivf_assign(emb, n_centroids, id_col, vec_col, centroids=centroids)
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    cent = (
        centroids
        if centroids is not None
        else _default_centroids(e, n_centroids, id_col)
    )
    q = e.where(F.col(id_col).isin([int(x) for x in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cid")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qv", "cid", cosine(F.col("qv"), F.col("cv")).alias("cos"))
        .withColumn("_pr", F.row_number().over(w_probe))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qv", "cid")
    )
    scored = (
        e.join(assign, id_col)
        .join(
            F.broadcast(probes), assign["centroid_id"] == probes["cid"]
        )
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", F.col(id_col), cosine(F.col("v"), F.col("qv")).alias("cos")
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rnk")
    )


def kmeans_step(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1e6,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """One exact Lloyd iteration (assign -> mean update) with an
    engine-replayable update: components are quantized to integer
    `scale`-ths (floor(x*scale + 0.5) — exact double ops) BEFORE the
    per-(centroid, dim) sum, so the mean is one division of exact longs
    instead of an order-dependent float sum. The quantization error is
    <= 0.5/scale per component — noise far below k-means' own movement
    per iteration — and it buys bit-identical centroids on any engine,
    which is what lets a cluster refresh be verified against a
    warehouse replay.

    Scale shape: assignment is the broadcast-centroid argmax
    (ivf_assign: k-row broadcast, per-id window); the update explodes
    (rows x dim) NARROW (no shuffle until the aggregate) and the one
    groupBy carries k*dim result rows. Iterating = calling this in a
    driver loop re-feeding `centroids` — each step is one corpus pass,
    the classic distributed k-means shape. Output: (centroid_id, dim,
    n_members, new_val)."""
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    assigned = ivf_assign(
        emb, n_centroids, id_col, vec_col, centroids=centroids
    )
    q = (
        e.join(assigned, id_col)
        .select("centroid_id", F.posexplode("v").alias("dim", "_c"))
        .withColumn(
            "_q",
            F.floor(F.col("_c") * F.lit(scale) + F.lit(0.5)).cast("long"),
        )
    )
    return (
        q.groupBy("centroid_id", F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("_q").alias("_s"),
        )
        .select(
            "centroid_id",
            "dim",
            "n_members",
            (
                F.col("_s").cast("double")
                / (F.col("n_members").cast("double") * F.lit(scale))
            ).alias("new_val"),
        )
    )


def embedding_profile(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1e6,
) -> DataFrame:
    """Per-dimension health profile of an embedding column: count, NaN
    count, exact min/max, and mean — the drift/corruption monitor a
    vector pipeline runs before trusting ANN results (a single NaN
    dimension silently poisons every cosine it touches).

    min/max of floats are exact selections (engine-portable as-is);
    the mean uses the kmeans_step discipline — components quantized to
    integer `scale`-ths pre-sum, one division of exact longs — so the
    whole profile replays bit-identically. NaNs are excluded from
    min/max/mean and surfaced in n_nan. Shape: one posexplode (narrow)
    into one dim-keyed aggregate carrying `dim` result rows. Output:
    (dim, n, n_nan, vmin, vmax, mean_val)."""
    comp = (
        emb.select(_to_double(F.col(vec_col)).alias("v"))
        .select(F.posexplode("v").alias("dim", "_c"))
    )
    ok = ~F.isnan(F.col("_c")) & F.col("_c").isNotNull()
    return (
        comp.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~ok).cast("long")).cast("long").alias("n_nan"),
            F.min(F.when(ok, F.col("_c"))).alias("vmin"),
            F.max(F.when(ok, F.col("_c"))).alias("vmax"),
            F.sum(
                F.when(
                    ok,
                    F.floor(F.col("_c") * F.lit(scale) + F.lit(0.5)).cast(
                        "long"
                    ),
                )
            ).alias("_s"),
            F.sum(ok.cast("long")).cast("long").alias("_nok"),
        )
        .select(
            "dim",
            "n",
            "n_nan",
            "vmin",
            "vmax",
            (
                F.col("_s").cast("double")
                / (F.col("_nok").cast("double") * F.lit(scale))
            ).alias("mean_val"),
        )
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    rank_a_col: str = "rank_a",
    rank_b_col: str = "rank_b",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings (the standard
    hybrid-search combiner: BM25 lexical + embedding semantic):
    rrf = 1/(k + rank_lex) + 1/(k + rank_sem), absent-from-one-list
    contributes 0. The score is a FIXED two-term expression (never an
    aggregate), so the doubles replay bit-identically; the fused rank
    uses the (rrf desc, id) tie-break and the TakeOrderedAndProject-
    free tiny-window stamp is unnecessary since inputs are already
    top-k sized. Inputs: (id, rank) DataFrames with rank 1-based.
    Output: (id, rank_a, rank_b, rrf, fused_rank)."""
    a = ranked_a.select(F.col(id_col), F.col(rank_a_col).alias("_ra"))
    b = ranked_b.select(F.col(id_col), F.col(rank_b_col).alias("_rb"))
    j = a.join(b, id_col, "full_outer")
    term = lambda c: F.when(  # noqa: E731
        F.col(c).isNotNull(), F.lit(1.0) / (F.lit(float(k)) + F.col(c).cast("double"))
    ).otherwise(F.lit(0.0))
    scored = j.select(
        F.col(id_col),
        F.col("_ra").cast("long").alias("rank_a"),
        F.col("_rb").cast("long").alias("rank_b"),
        (term("_ra") + term("_rb")).alias("rrf"),
    )
    # single tiny partition BY CONSTRUCTION (the union of two top-k
    # lists, never corpus-sized); the pmod key is the _ranked_topk
    # trick that keeps WindowExec's global-window warning out of logs
    pk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(1))
    w = Window.partitionBy(pk).orderBy(F.col("rrf").desc(), F.col(id_col))
    return scored.withColumn(
        "fused_rank", F.row_number().over(w).cast("long")
    )


def lsh_precision_audit(
    emb: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 32,
    n_bands: int = 4,
    dim: int = 64,
    bucket_cap: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Precision profile of the RP-LSH candidate generator — the
    complement of the MinHash RECALL audit (dedup.minhash_recall_audit):
    bucket every candidate pair by its exact cosine (width-0.2 bins)
    and report counts, the share of all candidates, and whether the bin
    clears the dedup threshold. A precision collapse (candidates piling
    into low-cosine bins) means the banding is too coarse for the
    embedding distribution and the verify stage is paying for it — the
    dial this table drives is n_bands/width, BEFORE the corpus gets
    100x bigger. Cosines are bit-identical to the oracle's (sequential
    fold), so floor() lands identically; share divides exact bigints.

    above_threshold compares the bin's LEFT edge, i.e. it is 1 only
    when the bin's ENTIRE [edge, edge+0.2) range clears the threshold
    — so the default threshold is a bin edge (0.4). A mid-bin
    threshold (round 7 shipped 0.42) silently reports the straddling
    bin as below-threshold even though most of its pairs clear it
    (ADVICE r7), which misleads exactly the banding decision this
    table drives. Non-edge thresholds are still accepted; the
    left-edge semantics above is the contract.
    Output: (cos_bin, n_pairs, share, above_threshold)."""
    scored = _lsh_scored_pairs(
        emb, n_planes, n_bands, dim, bucket_cap, id_col, vec_col
    )
    binned = scored.groupBy(
        (F.floor(F.col("cos") * 5) / F.lit(5.0)).alias("cos_bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    tot = binned.agg(F.sum("n_pairs").cast("long").alias("_t"))
    return binned.crossJoin(F.broadcast(tot)).select(
        "cos_bin",
        "n_pairs",
        (F.col("n_pairs").cast("double") / F.col("_t").cast("double")).alias(
            "share"
        ),
        (F.col("cos_bin") >= threshold).cast("long").alias("above_threshold"),
    )


def quantization_error_audit(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 quantization error: quantize each dimension to
    256 levels over that dimension's corpus [min, max] (symmetric
    affine, round-half-up), dequantize, and report per-vector MSE and
    the cosine between original and dequantized — the audit run before
    shipping an embedding corpus to a quantized ANN index, answering
    "is 4x smaller worth it for THIS distribution" with a table
    instead of a hunch. Per-dimension min/max come from one
    posexplode+groupBy (exact), collected into two 64-wide arrays on a
    single broadcast row; the per-vector pass is a narrow zip_with +
    sequential folds, so every double is engine-portable (no
    cross-row float sums anywhere). Output: (id, mse, cos_orig_deq)."""
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    dims = e.select(F.posexplode("v").alias("pos", "x")).groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    bounds = dims.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("_mns"),
        F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("_mxs"),
    ).select(
        F.transform("_mns", lambda s: s["mn"]).alias("mns"),
        F.transform("_mxs", lambda s: s["mx"]).alias("mxs"),
    )
    withb = e.crossJoin(F.broadcast(bounds))
    # deq_i = mn + round_half_up((x-mn)/(mx-mn)*255) * (mx-mn)/255;
    # degenerate dimensions (mx == mn) dequantize to mn exactly
    rng = F.zip_with("mns", "mxs", lambda a, b: b - a)
    deq = F.zip_with(
        F.zip_with("v", "mns", lambda x, a: F.struct(x.alias("x"), a.alias("a"))),
        rng,
        lambda s, r: F.when(r > 0,
            s["a"]
            + F.floor((s["x"] - s["a"]) / r * 255 + F.lit(0.5)) * r / 255
        ).otherwise(s["a"]),
    )
    scored = withb.select(F.col(id_col), F.col("v"), deq.alias("dq"))
    sqerr = F.aggregate(
        F.zip_with("v", "dq", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return scored.select(
        F.col(id_col),
        (sqerr / F.size("v")).alias("mse"),
        cosine(F.col("v"), F.col("dq")).alias("cos_orig_deq"),
    )


def ivf_recall_audit(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Measure the IVF shortcut instead of trusting it (X215): per
    query, recall@k of ivf_search_batch (nprobe clusters scanned)
    against knn_batch's exact top-k — the ANN member of the audit
    family (minhash recall X176, LSH precision X182, quantization
    error X?): nprobe/n_centroids is the knob that trades corpus-scan
    fraction for recall, and this is the number that justifies a
    setting before a 100 TB index rollout. Ties in cosine are broken
    identically on both sides (cos desc, id), so recall is exact, not
    tie-blurred.

    Two LOGICAL corpus passes (one exact, one pruned — both broadcast
    the query set and rank per-query in parallel); the input is PINNED
    (features._pin, the FIFO registry) because the exact and pruned
    sides re-derive corpus/centroid/query frames from `emb`
    independently — unpinned, the physical plan reads the source NINE
    times (plan-audited r13), and at 100 TB nine corpus scans vs one
    is the whole game. The pair-of-top-k joins are |queries| x k sized
    and broadcast. Output: (query_id, n_hits, recall_at_k), one row
    per query; the mean over queries is the headline the caller
    reads. recall_at_k divides by the per-query TRUTH count (= least(k,
    candidate corpus size)), not the literal k, so a perfect search on
    a corpus smaller than k still reads 1.0 instead of a phantom
    recall deficit (ADVICE r13 — matches the minhash-recall audit's
    convention)."""
    from .features import _pin

    # pin the PROJECTION, not the input row: the audit only ever reads
    # (id, vector), and at corpus scale the cached bytes are the cost
    emb = _pin(emb.select(F.col(id_col), F.col(vec_col)))
    truth = knn_batch(emb, query_ids, k, id_col, vec_col)
    approx = ivf_search_batch(
        emb, query_ids, k, n_centroids, nprobe, id_col, vec_col,
        centroids=centroids,
    )
    hits = truth.join(
        F.broadcast(approx.select("query_id", "neighbor_id")),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    per_q = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    base = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("_n_truth")
    )
    return (
        base.join(F.broadcast(per_q), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("_n_truth").cast("double")
            ).alias("recall_at_k"),
        )
    )


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance with ORDERED left-to-right accumulation
    (zip_with then a sequential fold) — bit-identical to DuckDB's
    list_sum(list_transform(...)) on the same operands (probed on all
    500 sf0.01 vectors, round 15), so PQ assignments and ADC sums are
    hash-replayable. No sqrt: argmin and rank order are monotone in
    the square, and dropping the root removes a rounding step."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# vector-dim probe memo, keyed on the DataFrame OBJECT (weak, so frames
# are never kept alive): the composed PQ paths (pq_adc_topk ->
# pq_codebooks + pq_encode, ivf_pq_topk, pq_recall_audit) all thread
# the SAME emb frame down, and each layer's dim probe was a separate
# `.first()` Spark job over an identical input — up to 4 limit-1 scans
# per query for one constant (round 15, guide §1.2 fixed-cost trim).
_PQ_DIM_MEMO: "weakref.WeakKeyDictionary" = None  # set below


def _pq_dims(emb: DataFrame, m_subspaces: int, vec_col: str) -> int:
    global _PQ_DIM_MEMO
    if _PQ_DIM_MEMO is None:
        import weakref

        _PQ_DIM_MEMO = weakref.WeakKeyDictionary()
    d = _PQ_DIM_MEMO.get(emb, {}).get(vec_col)
    if d is None:
        first = emb.select(vec_col).first()
        if first is None or first[0] is None:
            raise ValueError("pq: empty embeddings input")
        d = len(first[0])
        _PQ_DIM_MEMO.setdefault(emb, {})[vec_col] = d
    if m_subspaces < 1 or d % m_subspaces != 0:
        raise ValueError(
            f"pq: dim {d} not divisible by m_subspaces {m_subspaces}"
        )
    return d // m_subspaces


def _pq_dims_put(emb: DataFrame, vec_col: str, d: int) -> None:
    """Seed the dim memo from a vector some caller already collected,
    so no layer of the composed PQ paths pays the `.first()` probe job
    (round 16; the memo itself is round 15)."""
    global _PQ_DIM_MEMO
    if _PQ_DIM_MEMO is None:
        import weakref

        _PQ_DIM_MEMO = weakref.WeakKeyDictionary()
    _PQ_DIM_MEMO.setdefault(emb, {}).setdefault(vec_col, d)


def _py_sq_l2(a, b):
    """Driver-side twin of _sq_l2: the same (x-y)*(x-y) terms folded
    left-to-right in binary64 — every op is correctly rounded in both
    runtimes, so the sums are bit-identical to the JVM's. Length
    mismatches and NULL elements return None, exactly as zip_with's
    null padding nulls the JVM fold."""
    if len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        d = x - y
        acc = acc + d * d
    return acc


def _py_cosine(a, b):
    """Driver-side twin of cosine(): dot/(norm*norm) with the same
    fold order and sqrt, with Spark's divide-by-zero semantics (NaN
    for 0/0, signed infinity otherwise — Python float division would
    raise instead). Length mismatches / NULL elements return None,
    exactly as zip_with's null padding nulls the JVM fold."""
    import math

    if len(a) != len(b) or any(x is None for x in a) or any(
        y is None for y in b
    ):
        return None
    s = 0.0
    for x, y in zip(a, b):
        s = s + x * y
    na = 0.0
    for x in a:
        na = na + x * x
    nb = 0.0
    for y in b:
        nb = nb + y * y
    den = math.sqrt(na) * math.sqrt(nb)
    if den == 0.0:
        return float("nan") if s == 0.0 else math.copysign(math.inf, s)
    return s / den


def _collect_vectors(
    e: DataFrame, id_col: str, ids=None, below: int | None = None
) -> dict:
    """ONE bounded collect of {id: vector}: rows with id in `ids`
    and/or id < `below`. This is model-state, not data — seed
    codebooks/centroids are n_codes/n_centroids rows by construction
    and queries are |Q| rows — the same bounded driver handoff
    ivf_train's per-iteration centroid collect already performs. The
    predicate pushes to the scan, so at corpus scale this reads the
    id-pruned row groups, never the table."""
    conds = []
    if ids is not None:
        conds.append(F.col(id_col).isin([int(x) for x in ids]))
    if below is not None:
        conds.append(F.col(id_col) < below)
    pred = conds[0]
    for c in conds[1:]:
        pred = pred | c
    return {
        r[0]: list(r[1])
        for r in e.where(pred).select(F.col(id_col), "v").collect()
    }


def _pq_subvectors(e: DataFrame, m: int, sd: int, id_col: str) -> DataFrame:
    """(id, v) -> (id, j, sv): one narrow posexplode of the M
    contiguous sd-dim subvector slices — no shuffle, corpus x M rows
    (the PQ representation's inherent size)."""
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.slice(F.col("v"), j * F.lit(sd) + F.lit(1), sd),
    )
    return e.select(F.col(id_col), F.posexplode(subs).alias("j", "sv"))


def pq_codebooks(
    emb: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic seed codebooks for product quantization: subspace
    j's codebook is the j-th subvector of the first n_codes vectors by
    id — the _default_centroids/q23 discipline (determinism matters
    more than seeding quality here because the SQL oracle replays the
    same choice; pq_train refines these with per-subspace Lloyd's).
    Output: (j, code, cv), M x n_codes rows — tiny model state."""
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    sd = _pq_dims(emb, m_subspaces, vec_col)
    return _pq_subvectors(
        e.where(F.col(id_col) < n_codes), m_subspaces, sd, id_col
    ).select("j", F.col(id_col).alias("code"), F.col("sv").alias("cv"))


def pq_encode(
    emb: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization encode (X229) — the memory side of the
    100 TB ANN stack: each d-dim vector becomes M small integer codes
    (one per contiguous d/M-dim subspace, nearest codebook entry by
    squared L2, ties to the lowest code), shrinking a float corpus
    ~d*4/M bytes per vector while ADC search still reads meaningful
    distances. IVF (X22) prunes WHICH vectors are scanned; PQ shrinks
    WHAT is scanned — production indexes compose both.

    Scale shape: codebooks are M x n_codes rows, BROADCAST; encode is
    one narrow subvector posexplode (corpus x M rows, the PQ
    representation's inherent size), a broadcast join on the subspace
    id, and the argmin as min(struct(d2, code)) under a (vec,
    subspace) groupBy — struct ordering IS the (d2 asc, code asc)
    tie-break, and the map-side partial min collapses the n_codes
    factor BEFORE the exchange, so the shuffle carries corpus x M
    rows, not corpus x M x n_codes (a window argmin would shuffle the
    whole scored relation first — the round-15 self-review catch). d2
    rides the ordered-fold squared L2, so every row is
    hash-replayable. Output: (vec_id, subspace, code, d2) — d2 is the
    subspace's squared reconstruction error, sum it per vector for
    the vector's total PQ distortion."""
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    sd = _pq_dims(emb, m_subspaces, vec_col)
    cb = (
        codebooks
        if codebooks is not None
        else pq_codebooks(emb, m_subspaces, n_codes, id_col, vec_col)
    )
    sub = _pq_subvectors(e, m_subspaces, sd, id_col)
    scored = sub.join(F.broadcast(cb), "j").select(
        F.col(id_col),
        "j",
        F.struct(
            _sq_l2(F.col("sv"), F.col("cv")).alias("d2"),
            F.col("code").cast("long").alias("code"),
        ).alias("_s"),
    )
    return (
        scored.groupBy(id_col, "j")
        .agg(F.min("_s").alias("_m"))
        .select(
            F.col(id_col),
            F.col("j").alias("subspace"),
            F.col("_m.code").alias("code"),
            F.col("_m.d2").alias("d2"),
        )
    )


def pq_train(
    emb: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace Lloyd's k-means over the subvectors (the ivf_train
    pattern, M independent codebooks trained in the SAME jobs): assign
    by squared L2, recompute each (subspace, code) cell as its members'
    mean via applyInPandas (Arrow-batched mean-of-arrays), collect the
    M x n_codes model and rebroadcast each iteration — the corpus
    never moves beyond one assignment shuffle per iteration. Empty
    cells keep their previous centroid (no respawn — deterministic).
    Float means are not cross-engine bit-portable, so trained codebooks
    are pytest-gated (monotone distortion + python replay) while the
    oracle gate q231 replays the deterministic SEED codebooks, the
    ivf_train/q23 split. Output: (j, code, cv) trained codebooks."""
    import pandas as pd

    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    sd = _pq_dims(emb, m_subspaces, vec_col)
    cb = pq_codebooks(emb, m_subspaces, n_codes, id_col, vec_col)
    sub = _pq_subvectors(e, m_subspaces, sd, id_col)
    spark = emb.sparkSession

    def mean_sub(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        m = np.stack(pdf["sv"].to_numpy()).mean(axis=0)
        return pd.DataFrame(
            {
                "j": [int(pdf["j"].iloc[0])],
                "code": [int(pdf["code"].iloc[0])],
                "cv": [m.tolist()],
            }
        )

    for _ in range(n_iters):
        assigned = pq_encode(
            emb, m_subspaces, n_codes, id_col, vec_col, codebooks=cb
        ).select(F.col(id_col), F.col("subspace").alias("j"), "code")
        members = sub.join(assigned, [id_col, "j"]).select("j", "code", "sv")
        new_rows = (
            members.groupBy("j", "code")
            .applyInPandas(mean_sub, "j int, code long, cv array<double>")
            .collect()
        )
        trained = {(r["j"], r["code"]): r["cv"] for r in new_rows}
        full = [
            (row.j, row.code, trained.get((row.j, row.code), list(row.cv)))
            for row in cb.collect()
        ]
        cb = spark.createDataFrame(
            full, "j int, code long, cv array<double>"
        )
    return cb


def _adc_local_model(
    emb: DataFrame,
    e: DataFrame,
    query_ids,
    m_subspaces: int,
    n_codes: int,
    id_col: str,
    vec_col: str,
    codebooks: DataFrame | None,
    vecs: dict | None = None,
):
    """The ADC read path's bounded model state, collected in ONE job
    (round 16, guide §1.2/VERDICT r15 #6): the seed codebook vectors
    (ids < n_codes — M x n_codes rows by construction) and the query
    vectors together, or just the queries when a codebook table is
    supplied (itself bounded, collected job-free when it is already a
    local relation). The collected sample also seeds the dim memo, so
    no layer of a composed PQ path pays the `.first()` probe job.
    Returns (cb_df, cb_rows, qvecs, sd): the codebook as a DataFrame
    (a LocalRelation in the default case — broadcasting one launches
    no Spark job) and as rows for the driver-side distance table,
    the {query_id: vector} map, and the subspace width."""
    qids = [int(x) for x in query_ids]
    if codebooks is None:
        if vecs is None:
            vecs = _collect_vectors(e, id_col, ids=qids, below=n_codes)
        some = next(iter(vecs.values()), None)
        if some is not None:
            _pq_dims_put(emb, vec_col, len(some))
        sd = _pq_dims(emb, m_subspaces, vec_col)
        cb_rows = [
            (j, int(i), vecs[i][j * sd : (j + 1) * sd])
            for i in sorted(i for i in vecs if i < n_codes)
            for j in range(m_subspaces)
        ]
        cb_df = emb.sparkSession.createDataFrame(
            cb_rows, "j int, code long, cv array<double>"
        )
    else:
        if vecs is None:
            vecs = _collect_vectors(e, id_col, ids=qids)
        some = next(iter(vecs.values()), None)
        if some is not None:
            _pq_dims_put(emb, vec_col, len(some))
        sd = _pq_dims(emb, m_subspaces, vec_col)
        cb_rows = [
            (int(r[0]), int(r[1]), list(r[2])) for r in codebooks.collect()
        ]
        cb_df = codebooks
    qvecs = {i: vecs[i] for i in qids if i in vecs}
    return cb_df, cb_rows, qvecs, sd


def _adc_tail(
    enc: DataFrame, dtab: DataFrame, query_id: int, k: int, id_col: str
) -> DataFrame:
    """The distributed half of single-query ADC: table lookups over the
    encoded corpus, the ordered per-vector fold, TakeOrdered top-k —
    shared by pq_adc_topk and ivf_pq_topk (which inlines it so the
    composed path collects its model state exactly once)."""
    approx = (
        enc.where(F.col(id_col) != query_id)
        .select(F.col(id_col), F.col("subspace").alias("j"), "code")
        .join(F.broadcast(dtab), ["j", "code"])
        .groupBy(id_col)
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("j", "qd2"))),
                F.lit(0.0),
                lambda acc, x: acc + x["qd2"],
            ).alias("approx_d2")
        )
    )
    return _ranked_topk(
        approx.select(F.col(id_col).alias("neighbor_id"), "approx_d2"),
        k,
        [F.col("approx_d2").asc(), F.col("neighbor_id").asc()],
        ["neighbor_id", "rnk", "approx_d2"],
    )


def _local_dtab(cb_rows, qvecs, m_subspaces: int, sd: int):
    """Per-query ADC distance tables computed driver-side: |Q| x M x
    n_codes rows of _py_sq_l2 (bit-identical to the JVM fold), exactly
    what the old cb x qsub broadcast join produced — without the two
    broadcast-build jobs."""
    rows = []
    for qid in sorted(qvecs):
        qv = qvecs[qid]
        qsubs = [qv[j * sd : (j + 1) * sd] for j in range(m_subspaces)]
        for j, code, cv in cb_rows:
            rows.append((qid, j, code, _py_sq_l2(cv, qsubs[j])))
    return rows


def pq_adc_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    m_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ codes (X230): build
    the query's M x n_codes distance TABLE (squared L2 from each of
    the query's subvectors to every codebook entry — tiny, broadcast),
    then every vector's approximate distance is the sum of M table
    lookups keyed by its codes — the read path that makes a
    PQ-compressed corpus searchable without touching a single float of
    it. Recall is graded against exact kNN the same way the IVF audit
    (X215) grades nprobe.

    The per-vector sum folds an array_sort'ed (subspace, d2) list in
    subspace order — a groupBy SUM of doubles would be
    accumulation-order-nondeterministic across engines AND runs, the
    exact trap the decimal-sum discipline exists for, solved here with
    an ordered fold since the addends are inherently floating. Top-k
    via TakeOrderedAndProject (the _ranked_topk discipline). Output:
    (neighbor_id, rnk, approx_d2), nearest first, ties to lowest id.
    Pass `encoded`/`codebooks` to reuse a stored index; the defaults
    rebuild the deterministic seed index for the oracle gate."""
    # Round 16 (guide §1.2, VERDICT r15 #6): the codebook and the
    # query vector are bounded model state — collected in one job and
    # turned into the ADC distance table driver-side (_py_sq_l2 is
    # bit-identical to the JVM fold). The old shape derived both from
    # corpus scans and paid serialized broadcast-build jobs for qsub
    # and the cb x qsub join; a LocalRelation broadcast launches none.
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    cb_df, cb_rows, qvecs, sd = _adc_local_model(
        emb, e, [query_id], m_subspaces, n_codes, id_col, vec_col, codebooks
    )
    enc = (
        encoded
        if encoded is not None
        else pq_encode(
            emb, m_subspaces, n_codes, id_col, vec_col, codebooks=cb_df
        )
    )
    dtab = emb.sparkSession.createDataFrame(
        [r[1:] for r in _local_dtab(cb_rows, qvecs, m_subspaces, sd)],
        "j int, code long, qd2 double",
    )
    return _adc_tail(enc, dtab, query_id, k, id_col)


def pq_adc_batch(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    encoded: DataFrame | None = None,
    vecs: dict | None = None,
) -> DataFrame:
    """ADC top-k for MANY queries in one pass (the knn_batch shape the
    retrieval service actually runs): ALL queries' distance tables are
    built together (|Q| x M x n_codes rows, a driver-built local
    relation), the encoded corpus is scanned once, per-(query, vector)
    sums ride the same ordered fold as pq_adc_topk, and ranking is a
    window PARTITIONED by query id — every query's top-k in parallel,
    no global sort. `vecs` optionally passes a pre-collected
    {id: vector} map covering the queries (and ids < n_codes when the
    seed codebook is being built) so a composing caller
    (pq_recall_audit) pays the bounded model collect exactly once.
    Output: (query_id, neighbor_id, rnk, approx_d2)."""
    # same round-16 driver-side distance-table construction as
    # pq_adc_topk, with the per-query tables stacked in one local
    # relation (|Q| x M x n_codes rows)
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    cb_df, cb_rows, qvecs, sd = _adc_local_model(
        emb, e, query_ids, m_subspaces, n_codes, id_col, vec_col, codebooks,
        vecs=vecs,
    )
    enc = (
        encoded
        if encoded is not None
        else pq_encode(
            emb, m_subspaces, n_codes, id_col, vec_col, codebooks=cb_df
        )
    )
    dtab = emb.sparkSession.createDataFrame(
        _local_dtab(cb_rows, qvecs, m_subspaces, sd),
        "query_id long, j int, code long, qd2 double",
    )
    approx = (
        enc.select(F.col(id_col), F.col("subspace").alias("j"), "code")
        .join(F.broadcast(dtab), ["j", "code"])
        .where(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("j", "qd2"))),
                F.lit(0.0),
                lambda acc, x: acc + x["qd2"],
            ).alias("approx_d2")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col(id_col).asc()
    )
    return (
        approx.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), "rnk", "approx_d2"
        )
    )


def pq_recall_audit(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Measure the PQ shortcut instead of trusting it (the
    ivf_recall_audit / X215 discipline, X232): per query, recall@k of
    the ADC read path against EXACT full-vector squared-L2 top-k —
    both sides use the SAME metric and the same ordered-fold
    arithmetic, so recall reads pure quantization loss, never a
    cosine-vs-L2 metric disagreement (the fixture vectors are
    unit-norm only to float32 rounding, which is exactly enough to
    flip near-ties). n_codes/m_subspaces are the knobs that trade
    memory for recall, and this is the number that justifies a setting
    before a 100 TB compressed-index rollout.

    The input projection is PINNED (the q219 lesson: the exact and
    ADC sides re-derive corpus/codebook/query frames independently —
    unpinned, the plan reads the source many times). recall divides
    by the per-query TRUTH count, not the literal k (the ADVICE r13
    convention). Output: (query_id, n_hits, recall_at_k)."""
    from .features import _pin

    emb = _pin(emb.select(F.col(id_col), F.col(vec_col)))
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    # ONE bounded collect serves the exact side's query relation (a
    # LocalRelation broadcast launches no job) AND the ADC side's
    # model layer (passed through pq_adc_batch's vecs) — round 16
    vecs = _collect_vectors(
        e, id_col, ids=query_ids,
        below=n_codes if codebooks is None else None,
    )
    q = emb.sparkSession.createDataFrame(
        [
            (i, vecs[i])
            for i in sorted({int(x) for x in query_ids})
            if i in vecs
        ],
        "query_id long, qv array<double>",
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            _sq_l2(F.col("v"), F.col("qv")).alias("d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col(id_col).asc()
    )
    truth = (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )
    approx = pq_adc_batch(
        emb, query_ids, k, m_subspaces, n_codes, id_col, vec_col,
        codebooks=codebooks, vecs=vecs,
    )
    hits = truth.join(
        F.broadcast(approx.select("query_id", "neighbor_id")),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    per_q = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    base = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("_n_truth")
    )
    return (
        base.join(F.broadcast(per_q), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("_n_truth").cast("double")
            ).alias("recall_at_k"),
        )
    )


def ivf_pq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    m_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """The composed production index (X231): IVF prunes WHICH vectors
    are scanned (nprobe nearest clusters by cosine, the ivf_search
    recipe), ADC shrinks WHAT is read for the survivors (PQ codes +
    the query's distance table) — the IVF-PQ pairing every large-scale
    ANN deployment runs, proven end-to-end the way recipe_mix proved
    the recipe loop. The cluster filter is a broadcast semi-join of
    the probed centroid ids against the assignment, the ADC half is
    pq_adc_topk over the filtered code table — nothing new moves at
    corpus scale beyond what the two halves already shuffle.
    Deterministic seed centroids AND seed codebooks by default, so the
    SQL oracle replays the whole composition. Output:
    (neighbor_id, rnk, approx_d2)."""
    import math

    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    spark = emb.sparkSession
    # Round 16 (guide §1.2, VERDICT r15 #6): centroids, seed-codebook
    # vectors and the query are bounded model state — ONE collect
    # covers all of them, the probe (top-nprobe centroids by cosine)
    # is computed driver-side with the bit-identical fold twins, and
    # the probe/codebook relations become LocalRelations whose
    # broadcasts launch no Spark jobs. The corpus-sized work (assign,
    # encode, the ADC aggregate) is unchanged.
    below = max(
        n_centroids if centroids is None else 0,
        n_codes if codebooks is None else 0,
    )
    vecs = _collect_vectors(e, id_col, ids=[int(query_id)], below=below or None)
    some = next(iter(vecs.values()), None)
    if some is not None:
        _pq_dims_put(emb, vec_col, len(some))
    if centroids is None:
        cent_rows = [
            (int(i), vecs[i]) for i in sorted(i for i in vecs if i < n_centroids)
        ]
        cent = spark.createDataFrame(cent_rows, "cid long, cv array<double>")
    else:
        cent = centroids
        cent_rows = [(int(r[0]), list(r[1])) for r in centroids.collect()]
    # the one collect above covers the codebook range (below >=
    # n_codes when the seed codebook is being built) and the query, so
    # the ADC model layer never re-collects
    cb_df, cb_rows, qvecs, sd = _adc_local_model(
        emb, e, [query_id], m_subspaces, n_codes, id_col, vec_col,
        codebooks, vecs=vecs,
    )
    assign = ivf_assign(
        emb, n_centroids, id_col, vec_col, centroids=cent
    )
    qv = vecs.get(int(query_id))
    if qv is None:
        probe_rows: list = []
    else:
        scored = [(cid, _py_cosine(cv, qv)) for cid, cv in cent_rows]
        # Spark's (cos DESC, cid ASC) with desc_nulls_last and NaN
        # ordered greater than any double: NaN first, then numbers
        # descending, NULL cosines (ragged/null vectors) last
        scored.sort(
            key=lambda t: (
                t[1] is None,
                not (t[1] is not None and math.isnan(t[1])),
                -(t[1] if t[1] is not None and not math.isnan(t[1]) else 0.0),
                t[0],
            )
        )
        probe_rows = [(cid,) for cid, _ in scored[:nprobe]]
    probe = spark.createDataFrame(probe_rows, "centroid_id long")
    # probe is nprobe rows -> broadcast; members is CORPUS-sized
    # (~corpus * nprobe / n_centroids) so the enc-side semi-join gets
    # NO broadcast hint — the planner/AQE picks the strategy by size
    members = assign.join(
        F.broadcast(probe), "centroid_id", "left_semi"
    ).select(id_col)
    enc = pq_encode(
        emb, m_subspaces, n_codes, id_col, vec_col, codebooks=cb_df
    ).join(members, id_col, "left_semi")
    dtab = spark.createDataFrame(
        [r[1:] for r in _local_dtab(cb_rows, qvecs, m_subspaces, sd)],
        "j int, code long, qd2 double",
    )
    return _adc_tail(enc, dtab, query_id, k, id_col)


def diversity_score(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding-space diversity WITHOUT a pair join (X219):
    the mean pairwise cosine similarity of a group's normalized
    vectors, computed in closed form from the identity
    ||sum(v_hat)||^2 = n + 2 * sum_{i<j} cos_ij — so mean pairwise
    cos = (||S||^2 - n) / (n * (n - 1)). A brute pairwise pass is
    n^2 per group (the exact shape every dedup operator here works to
    avoid); this is ONE narrow normalize map, ONE posexplode +
    partial-agg groupBy(group, pos) whose shuffle carries groups x dim
    aggregate rows (not vectors, not pairs), and a groups-sized
    finisher. The number a curator reads: near 1.0 = the source is
    semantically collapsed (template spam, mirror crawl), near 0 =
    diverse; the complement of dedup (which finds the duplicates, not
    the concentration).

    Exactness discipline — integer grid, NOT decimal casts: a first
    cut accumulated the normalized components as decimal(38,12), but
    double->decimal conversion itself disagrees across engines in the
    last ulp (DuckDB scales by 10^12 in floating point; JVM BigDecimal
    rounds the exact binary expansion — measured 1e-15 drift on 3 of
    10 fixture labels). Instead each normalized component is snapped
    to the 2^-24 grid with floor(x * 2^24 + 0.5): the power-of-two
    multiply and the +0.5 are EXACT IEEE ops for |x| <= 1, floor is
    exact, so both engines produce the identical integer — and every
    cross-row sum after that is pure integer arithmetic
    (order-insensitive by construction). The squared sums ride
    decimal(38,0): per-component |S_p| < n * 2^24, so S_p^2 * dim
    stays under 10^38 for n*sqrt(dim) up to ~2^55 — far past any real
    group. Quantization perturbs each pairwise term by O(dim * 2^-24)
    ~ 4e-6 at dim 64: noise for a [0,1]-scale score, and
    deterministic. Zero-norm vectors are excluded (cosine undefined
    with them); groups of one get NULL (no pairs). Output: (group,
    n_vectors, mean_pairwise_cos).

    Split as STATE (diversity_state: per-(group, pos) integer sums —
    plain sum/count, commutative-mergeable) + FINISHER
    (diversity_finish over the groups x dim table), the
    hll_registers/hll_estimate pattern, so the streaming twin
    (ext/stream.diversity_state_stream) maintains the same state and
    reads the same finisher — stream and batch cannot disagree by
    construction."""
    return diversity_finish(
        diversity_state(emb, group_col, vec_col), group_col
    )


DIVERSITY_SCALE = float(1 << 24)


def diversity_state(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """diversity_score's mergeable state: (grp, pos, s_q, n_vec) — the
    2^-24-grid integer component sums and vector count per (group,
    position). sum/count are commutative-mergeable, so this same
    expression runs unchanged over a stream in complete mode (no
    watermark); state is groups x dim rows BY CONSTRUCTION."""
    scale = DIVERSITY_SCALE
    v = _to_double(F.col(vec_col))
    nrm = norm(v)
    e = (
        emb.select(F.col(group_col).alias("grp"), v.alias("_v"), nrm.alias("_n"))
        .where(F.col("_n") > 0)
        .select(
            "grp",
            # try_divide, not /: ANSI evaluates the projection on the
            # zero-norm rows before the filter prunes them (plan
            # collapse) and throws DIVIDE_BY_ZERO; surviving rows get
            # the bit-identical quotient
            F.transform(
                "_v",
                lambda x: F.floor(
                    F.try_divide(x, F.col("_n")) * F.lit(scale) + F.lit(0.5)
                ),
            ).alias("_vq"),
        )
    )
    elems = e.select("grp", F.posexplode("_vq").alias("pos", "q"))
    return elems.groupBy("grp", "pos").agg(
        F.sum("q").alias("s_q"),
        F.count(F.lit(1)).cast("long").alias("n_vec"),
    )


def diversity_finish(state: DataFrame, group_col: str = "label") -> DataFrame:
    """Shared finisher over the tiny (grp, pos, s_q, n_vec) state table
    — the closed-form mean pairwise cosine. Reads groups x dim rows,
    so it costs the same at any corpus size."""
    scale = DIVERSITY_SCALE
    dec = "decimal(38,0)"
    sq = F.col("s_q").cast(dec) * F.col("s_q").cast(dec)
    g = state.groupBy("grp").agg(
        F.sum(sq).alias("_s2"),
        F.max("n_vec").alias("n_vectors"),
    )
    n_d = F.col("n_vectors").cast("double")
    return g.select(
        F.col("grp").alias(group_col),
        "n_vectors",
        F.when(
            F.col("n_vectors") > 1,
            (F.col("_s2").cast("double") / F.lit(scale * scale) - n_d)
            / (n_d * (n_d - F.lit(1.0))),
        ).otherwise(F.lit(None).cast("double")).alias("mean_pairwise_cos"),
    )
