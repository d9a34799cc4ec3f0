"""Iterative graph operators: connected components for duplicate-group
resolution.

Pair lists from minhash/simhash/embedding near-dup are EDGES; turning
"A~B, B~C" into one keep-group needs the transitive closure. The
classic Spark shape is iterative min-label propagation: each round every
node takes the minimum label among itself and its neighbors; rounds =
graph diameter (near-dup clusters are shallow, so 2-4 in practice).

Each round is one join + one groupBy, both shuffling on the node key;
each round's labels are persisted and the convergence count is FUSED
into the job that materializes them (one job per round). Lineage
doubles every round (the join and the union both embed the previous
round's plan), so every _TRUNC_EVERY-th round checkpoints eagerly
to truncate the plan — without any truncation the driver OOMs just
*printing* the plan past ~10 rounds. The previous round's blocks are
explicitly released, so state never accumulates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# fused rounds keep lineage (cache-backed execution, but the logical
# plan doubles per round); every _TRUNC_EVERY-th round checkpoints
# to truncate it, bounding plan depth at 2^_TRUNC_EVERY tiny subtrees
_TRUNC_EVERY = 5

# Size switch for the driver-local propagation path: the distributed
# loop costs ~12 Spark jobs under AQE per pass (join + groupBy + fused
# count per round), which is pure fixed cost on a small pair graph.
# Graphs at or below this many edges are collected (the cap bounds the
# collect) and resolved by the SAME synchronous min-label propagation
# in plain Python — identical labels, identical round arithmetic,
# identical strict/max_iter semantics — then returned as a local
# relation. Larger graphs take the distributed loop. 2^16 edges ≈ 1 MB
# collected.
_CC_LOCAL_MAX_EDGES = 1 << 16


def _cc_local_label_type_ok(dt) -> bool:
    """The driver-local path replicates Spark's min-label ordering with
    Python comparisons, which is exact ONLY for integral ids and
    default-collation (UTF8_BINARY) strings — UTF-8 byte order equals
    code-point order, and Python ints compare like int64. Everything
    else (floats carrying NaN, collated strings that compare
    case-insensitively in Spark 4, decimals, binary) falls through to
    the distributed loop (ADVICE r15)."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return True
    return isinstance(dt, StringType) and dt == StringType()


def _local_components(
    edge_rows, max_iter: int, strict: bool, label_type, spark
) -> DataFrame:
    """Driver-local twin of the distributed loop below: synchronous
    min-label propagation with the SAME init (every node starts at
    min(self, neighbors)), one hop per round, and the same
    strict/max_iter contract — so the two paths are interchangeable
    row-for-row, including the partial labels a non-converged
    strict=False run returns. Only called for graphs under
    _CC_LOCAL_MAX_EDGES."""
    from pyspark.sql.types import StructField, StructType

    adj: dict = {}
    for a, b in edge_rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: min(v, min(ns)) for v, ns in adj.items()}
    changed = 0
    for _ in range(1, max_iter + 1):
        new = {
            v: min(labels[v], min(labels[n] for n in ns))
            for v, ns in adj.items()
        }
        changed = sum(1 for v in adj if new[v] != labels[v])
        labels = new
        if changed == 0:
            break
    if changed > 0:
        msg = (
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) - graph diameter exceeds "
            f"max_iter; labels are partially merged"
        )
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, stacklevel=3)
    schema = StructType(
        [
            StructField("node", label_type, True),
            StructField("component", label_type, True),
        ]
    )
    return local_frame(spark, sorted(labels.items()), schema)


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 20,
    strict: bool = True,
    n_edges: int | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in `edges`, where
    component is the smallest node id reachable through the undirected
    edge set.

    Label propagation converges once every node has seen the component
    minimum — <= diameter hops. Initialization folds the first hop
    into label creation (min(self, neighbors) in the same groupBy that
    builds the node list), and each round performs ONE hop before its
    convergence check, so max_iter rounds cover max_iter+1 hops. The
    check is join-free: the old label rides the aggregation on each
    node's unique self row, so counting changed labels scans the
    materialized blocks instead of re-joining two label sets. If the
    loop exhausts max_iter while labels are still changing the result
    is WRONG (partially-merged components), so strict=True (default)
    raises instead of silently returning it; strict=False logs a
    warning and returns the non-converged labels for callers that
    prefer partial merges over failure.

    Ordinary rounds are FUSED: the round result is lazily persisted
    (MEMORY_AND_DISK) and the convergence count is the SAME job that
    materializes it, so a round costs one Spark job. A persisted round
    references the previous round's plan (the LOGICAL plan doubles per
    round since self-rows + messages both embed it), so every
    _TRUNC_EVERY-th round checkpoints eagerly instead: plan depth
    stays bounded by 2^_TRUNC_EVERY tiny subtrees at any iteration
    count.

    `n_edges` is the row count of an ALREADY-MATERIALIZED `edges`
    (checkpointed or pinned by the caller). When given, `edges` is read
    directly: the size-probe job and the edge-projection pin are both
    skipped. Pass it only with a materialized graph — a lazy discovery
    plan would then re-run once per consumer — and only with the real
    row count, which bounds the driver-local collect."""
    from ._materialize import _checkpoint, _persist, _pin, _release

    # A lazy `edges` is typically a whole discovery pipeline (minhash
    # LSH banding + verify, cosine scoring, ...), so its (src, dst)
    # projection is pinned BEFORE the two-way union: both union
    # branches then read one cached relation and the discovery runs
    # once, not twice (pair-cardinality rows, tiny at any scale).
    # A materialized graph (n_edges given) is read as is: caching a
    # checkpoint scan or an existing pin only adds a copy and churns
    # the FIFO registry.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e_pinned = n_edges is None
    if e_pinned:
        e = _pin(e)
    und_plan = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    if _CC_LOCAL_MAX_EDGES > 0:
        # the count doubles as the pin materialization, so the
        # big-graph path pays only a cached-count probe for the size
        # switch
        if n_edges is None:
            n_edges = e.count()
        if n_edges <= _CC_LOCAL_MAX_EDGES and _cc_local_label_type_ok(
            und_plan.schema["a"].dataType
        ):
            rows = [(r[0], r[1]) for r in e.collect()]
            if not any(a is None or b is None for a, b in rows):
                # label dtype = the union's coerced type, matching what
                # the distributed loop's labels would carry. The labels
                # are a LocalRelation (local_frame), so reading them runs
                # no Python worker. Broadcast hint: the relation is
                # bounded by the cap (≤ ~2 MB), and without it consumers'
                # INITIAL plans pick SortMergeJoin against it — AQE
                # converts back to broadcast at runtime but only after
                # the corpus side's shuffle map stage already ran
                local = F.broadcast(
                    _local_components(
                        rows,
                        max_iter,
                        strict,
                        und_plan.schema["a"].dataType,
                        edges.sparkSession,
                    ).select("node", "component")
                )
                # the pinned edge projection was only probed/collected;
                # nothing reads it again — drop the cache blocks now
                # instead of waiting for the FIFO registry to age them
                # out
                if e_pinned:
                    _release(e)
                return local
    # materialize the undirected pair graph ONCE, EAGERLY: every
    # propagation round below reads `und`, and the checkpoint also
    # TRUNCATES the discovery plan out of every round's lineage (a lazy
    # persist here kept the discovery's expression tree in every fused
    # round's analysis, and concurrent scans of the not-yet-built cache
    # raced into re-computing the discovery).
    und = _checkpoint(und_plan)
    # init folds the FIRST propagation hop into label creation: every
    # node starts at min(self, min neighbor) — one groupBy instead of a
    # distinct + a full first round. Lazy persist over `und`'s
    # materialized blocks (a tiny plan): round 1's fused job fills it,
    # so no dedicated init-materialization job runs.
    labels = _persist(
        und.groupBy(F.col("a").alias("node")).agg(
            F.least(F.min("b"), F.col("a")).alias("label")
        )
    )
    ckpt = labels
    changed = 0
    for rounds in range(1, max_iter + 1):
        # one propagation hop per round; the OLD label rides along the
        # aggregation so convergence needs no join: each node's self
        # row (exactly one per node) carries `old`; message rows carry
        # null, which min/max skip.
        # `old`'s null literal must carry the LABEL's dtype — string/
        # UUID node ids included (a hardcoded long here made the union
        # coerce string labels to bigint and blow up, code-review r11)
        msgs = und.join(labels, und["b"] == labels["node"]).select(
            F.col("a").alias("node"),
            F.col("label"),
            F.lit(None).cast(labels.schema["label"].dataType).alias("old"),
        )
        stepped = (
            labels.select("node", "label", F.col("label").alias("old"))
            .unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
        )
        if rounds % _TRUNC_EVERY == 0:
            # periodic lineage truncation round: checkpoint, then count
            stepped = _checkpoint(stepped)
        else:
            # fused round: the count below is the ONE job that both
            # materializes the cache and returns the convergence count
            # (the filter scans every partition, so the InMemoryRelation
            # is fully built by it)
            stepped = _persist(stepped)
        changed = stepped.where(F.col("label") != F.col("old")).count()
        # old round's blocks are never read again (stepped is already
        # materialized), so dropping them is safe. Release the df that
        # HOLDS the blocks, not the projection over it.
        _release(ckpt)
        ckpt = stepped
        labels = stepped.select("node", "label")
        if changed == 0:
            break
    # the loop never reads the pair graph again; labels is independently
    # materialized, so the graph's blocks can go now
    _release(und)
    if changed > 0:
        msg = (
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) - graph diameter exceeds "
            f"max_iter; labels are partially merged"
        )
        if strict:
            _release(ckpt)
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    # the final round's checkpoint blocks back the returned plan (a
    # truncated lineage can't recompute), so they stay persisted; the
    # ContextCleaner reclaims them once the caller drops the DataFrame
    return labels.select("node", F.col("label").alias("component"))


def dedup_groups(
    pairs: DataFrame,
    id_col: str = "d1",
    id2_col: str = "d2",
    n_edges: int | None = None,
) -> DataFrame:
    """(doc_id, keep_id): for every document in a near-dup pair, the
    canonical (minimum-id) member of its duplicate group. Feed any pair
    list (jaccard, minhash, simhash, embedding LSH); docs absent from
    `pairs` are their own canonical and need no row. `n_edges`: the
    row count of an already-materialized `pairs`, forwarded to
    connected_components (which then skips its size-probe job and edge
    pin)."""
    cc = connected_components(pairs, id_col, id2_col, n_edges=n_edges)
    return cc.select(F.col("node").alias("doc_id"), F.col("component").alias("keep_id"))


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iters: int = 3,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank (damping 0.85) in integer fixed-point:
    every rank is a bigint multiple of 1/`scale`, so each iteration is
    exact int64 arithmetic — order-insensitive sums that replay
    bit-identically in ANY engine, where the textbook double-precision
    formulation diverges across engines with summation order. Ranks are
    unnormalized (init = scale per node, teleport = 15% of scale);
    relative order matches the normalized variant.

    Per iteration: contribution of edge (u,v) = r_u div outdeg_u; new
    r_v = (15*scale) div 100 + (85 * sum contribs) div 100. Dangling
    nodes (no out-edges) keep the teleport term only — their mass is
    dropped rather than redistributed (documented variant; exactness
    beats the global dangling-sum broadcast here). Bound: 85 * n_nodes
    * scale must fit int64, i.e. n_nodes < ~1e5 at scale=1e12 — drop
    scale to 1e9 for 1e8-node graphs.

    Scale shape per iteration: one join of edges against ranks on src
    (both hash-partitioned on the same key — the exchange is reused
    across iterations), one partial-aggregated groupBy(dst), one left
    join back to the node list. No collect, no window, no cartesian;
    a fixed iteration count keeps the composed plan shallow (each
    round's ranks feed the next exactly once, so lineage grows
    linearly, unlike the min-label loop above). Output: (node, rank)."""
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    nodes = e.select(F.col("src").alias("n")).union(
        e.select(F.col("dst").alias("n"))
    ).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    teleport = (15 * scale) // 100
    ranks = nodes.select("n", F.lit(scale).cast("long").alias("r"))
    for _ in range(n_iters):
        contrib = (
            e.join(ranks.withColumnRenamed("n", "src"), "src")
            .join(deg, "src")
            .select(F.col("dst").alias("n"), F.expr("r div deg").alias("c"))
        )
        sums = contrib.groupBy("n").agg(F.sum("c").alias("s"))
        ranks = nodes.join(sums, "n", "left").select(
            "n",
            (
                F.lit(teleport).cast("long")
                + F.expr("(85 * coalesce(s, cast(0 as bigint))) div 100")
            ).alias("rank"),
        ).withColumnRenamed("rank", "r")
    return ranks.select(F.col("n").alias("node"), F.col("r").alias("rank"))


def triangle_count(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph — the
    clustering-coefficient ingredient and the classic distributed-graph
    benchmark. Degree-ordered orientation: every edge points from its
    (degree, id)-smaller endpoint to the larger, so each triangle is
    enumerated exactly once AND the join fanout per node is bounded by
    its ORIENTED out-degree (O(sqrt(m)) on skewed graphs — the
    hub-and-spoke case that kills naive adjacency self-joins). Two
    co-partitioned equi-joins, one closing-edge semi join, one explode
    to attribute the triangle to its 3 corners. Output: (node,
    triangles) for nodes in >= 1 triangle."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("_db"))
    j = und.join(da, "a").join(db, "b")
    fwd = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    e = j.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    wedges = e1.join(e2, "y")
    closing = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tris = wedges.join(closing, ["x", "z"])
    return (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
) -> DataFrame:
    """Local clustering coefficient per node: closed triangles over
    possible wedges, triangles / (deg*(deg-1)/2) — how clique-like
    each node's neighborhood is (community cores vs bridges). Degrees
    come from one explode+groupBy over the (deduplicated, undirected)
    edge list; triangles ride triangle_count's degree-ordered
    orientation; ONE final division over exact longs. Nodes of degree
    < 2 have no wedges and report 0.0. Output: (node, degree,
    triangles, coefficient)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("x"),
            F.greatest(F.col(src), F.col(dst)).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_count(e, "x", "y").withColumnRenamed(
        "triangles", "_t"
    )
    wedges = F.col("degree") * (F.col("degree") - 1) / F.lit(2)
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("_t", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.coalesce("_t", F.lit(0)).cast("double")
                / wedges.cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("coefficient"),
        )
    )
