"""Per-group feature normalization for training pipelines: z-score and
min-max scaling of a numeric column within each group (source, language,
domain) — the step between raw quality signals and model-ready features.

Everything is computed from EXACT integer aggregates (count, sum,
sum-of-squares, min, max): one partial-aggregable groupBy over the
metric, the per-group stats joined back (Catalyst broadcasts the stats
side — groups are few), then a narrow map. No second raw-data pass, no
window over raw rows, no collect. The mean/variance doubles come from
single divisions of exact bigints and sqrt (correctly rounded per
IEEE-754), so results replay bit-identically in any engine — unlike
built-in stddev aggregates, whose Welford/merge order is
engine-specific.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._materialize import _pin


def normalize_by_group(
    df: DataFrame,
    group_col: str,
    metric_col: str,
    overflow_col: str | None = None,
) -> DataFrame:
    """df + `zscore` and `minmax` columns for an integer metric, both
    computed within the row's group.

    zscore uses the sample variance from exact sums,
    (ss - s^2/n) / (n-1); it is NULL when the group has fewer than two
    rows or zero variance (both guards replayable in plain SQL).
    minmax is (x - min) / (max - min), 0.0 for constant groups.

    Pass overflow_col to ALSO emit a boolean column that is true when
    the group's exact variance numerator overflowed the 38-digit
    decimal ceiling (see the CEILING comment below) — the zscore is
    NULL on those rows and the flag distinguishes that from the benign
    <2-rows / zero-variance NULLs. Default None keeps the schema
    unchanged."""
    # square in DECIMAL(38,0), not long: xl*xl wraps in int64 per-row
    # under non-ANSI mode for metrics >= ~3.04e9 BEFORE any cast on the
    # product could see it, and the old .cast('long') on the decimal
    # sums silently NULLed the whole group's zscore once sum-of-squares
    # passed 2^63 (code-review r12 — the in-code claim that decimal
    # 'guards the sum' was defeated on both ends). Decimal end-to-end:
    # the square fits 38 digits for any int64 metric, the sums stay
    # decimal until the final double division.
    xl = F.col(metric_col).cast("long")
    xd = xl.cast("decimal(38,0)")
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.count(xl).alias("_nn"),
        F.try_sum(xd).alias("_s"),
        F.try_sum(xd * xd).alias("_ss"),
        F.min(xl).alias("_mn"),
        F.max(xl).alias("_mx"),
    )
    x = F.col(metric_col).cast("double")
    n = F.col("_n").cast("double")
    s = F.col("_s").cast("double")
    mn = F.col("_mn").cast("double")
    mx = F.col("_mx").cast("double")
    # n*ss - s^2 stays EXACT in decimal before the one double cast:
    # the old double-side subtraction ss - s^2/n catastrophically
    # cancelled for large means (two ~1e19 doubles whose true
    # difference is O(1)), silently NULLing the zscore via the var>0
    # guard even though the sums themselves were exact (code-review
    # r12). The oracle mirrors this with hugeint arithmetic.
    # CEILING (ADVICE r12): the sums and the products _ss*_n / _s*_s
    # are decimal(38,0)-capped; past ~1e38 (reachable at ~1e9 rows of
    # ~3e9-magnitude metrics) plain arithmetic either NULLs (non-ANSI)
    # or THROWS (Spark 4 ANSI default). try_sum/try_multiply/
    # try_subtract pin the behavior to NULL under both modes, and a
    # NULL var_num falls through the var>0 guard to a NULL zscore —
    # the same visible degradation as a <2-row group, NOT a wrong
    # number. overflow_col makes the ceiling observable: true exactly
    # when non-NULL metrics existed but the 38-digit arithmetic
    # overflowed, so callers can assert or rescale (e.g. pre-divide the
    # metric by a constant) instead of reading NULL as zero-variance.
    var_num_dec = F.try_subtract(
        F.try_multiply(F.col("_ss"), F.col("_n").cast("decimal(38,0)")),
        F.try_multiply(F.col("_s"), F.col("_s")),
    )
    var_num = var_num_dec.cast("double")
    z = F.when(
        (F.col("_n") > 1) & (var_num > 0),
        (x - s / n) / F.sqrt(var_num / (n * (n - F.lit(1.0)))),
    ).otherwise(F.lit(None).cast("double"))
    mm = F.when(F.col("_mx") > F.col("_mn"), (x - mn) / (mx - mn)).otherwise(
        F.lit(0.0)
    )
    # null-safe equality: groupBy keeps a NULL group, so the join-back
    # must match it too — a plain equi-join would silently drop every
    # null-group row from the output (ADVICE r3)
    stats = stats.withColumnRenamed(group_col, "_g")
    out = (
        df.join(stats, F.col(group_col).eqNullSafe(F.col("_g")))
        .withColumn("zscore", z)
        .withColumn("minmax", mm)
    )
    if overflow_col is not None:
        # non-NULL metrics existed (_nn > 0) yet the exact numerator is
        # NULL: that can only be 38-digit overflow — all-NULL-metric
        # groups have _nn = 0 and are correctly false
        out = out.withColumn(
            overflow_col, (F.col("_nn") > 0) & var_num_dec.isNull()
        )
    return out.drop("_g", "_n", "_nn", "_s", "_ss", "_mn", "_mx")


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier detection via median absolute deviation:
    flag rows where |x - median| > k * 1.4826 * MAD (1.4826 scales MAD
    to sigma under normality) — the anomaly gate that, unlike z-scores,
    a few extreme values cannot drag along with them. Exact medians
    (Spark `percentile` == DuckDB quantile_cont, the q47 equivalence),
    so the whole operator is engine-replayable: percentile is a
    selection + one interpolation, never an order-dependent float sum.

    Scale shape: two grouped percentile aggregates (group cardinality
    rows each) broadcast-joined back, then a narrow codegen filter —
    the corpus is scanned twice but never shuffled (exact percentile
    needs its own pass over the deviations; at 100 TB swap
    percentile_approx into the same shape for one pass). Output:
    flagged rows (id, group, value, med, mad)."""
    v = F.col(value_col).cast("double")
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile(cast({value_col} as double), 0.5)").alias("med")
    )
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "_adev", F.abs(v - F.col("med"))
    )
    mad = dev.groupBy(group_col).agg(
        F.expr("percentile(_adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), group_col)
        .where(F.col("_adev") > F.lit(k) * F.lit(1.4826) * F.col("mad"))
        .select(
            F.col(id_col),
            F.col(group_col),
            v.alias(value_col),
            "med",
            "mad",
        )
    )


def histogram_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    nbins: int = 10,
) -> DataFrame:
    """Equi-width histogram per group — the distribution profile behind
    data-quality dashboards and drift monitors. Bin edges come from the
    group's exact min/max (one tiny aggregate broadcast back); binning
    is one narrow codegen map: floor((x-lo)*nbins/(hi-lo)) clamped to
    nbins-1, with degenerate single-value groups pinned to bin 0. Every
    arithmetic step is per-row IEEE double ops (mul/div/floor are
    correctly rounded, hence bit-identical across engines) — no float
    SUMS anywhere, so the histogram replays exactly.

    Scale shape: two passes over the column (min/max, then counts),
    both partial-aggregated; the only shuffles carry group-cardinality
    and group x nbins rows. Output: (group, bin, bin_lo, bin_hi,
    cnt)."""
    v = F.col(value_col).cast("double")
    mm = df.where(v.isNotNull()).groupBy(group_col).agg(
        F.min(v).alias("_lo"), F.max(v).alias("_hi")
    )
    width_bin = F.floor(
        (v - F.col("_lo")) * F.lit(nbins) / (F.col("_hi") - F.col("_lo"))
    )
    b = (
        df.where(v.isNotNull())
        .join(F.broadcast(mm), group_col)
        .withColumn(
            "bin",
            F.when(F.col("_hi") == F.col("_lo"), F.lit(0).cast("long"))
            .otherwise(F.least(F.lit(nbins - 1).cast("long"), width_bin)),
        )
    )
    span = (F.col("_hi") - F.col("_lo")) / F.lit(nbins)
    return (
        b.groupBy(group_col, "bin", "_lo", "_hi")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            group_col,
            "bin",
            (F.col("_lo") + F.col("bin") * span).alias("bin_lo"),
            (F.col("_lo") + (F.col("bin") + F.lit(1)) * span).alias("bin_hi"),
            "cnt",
        )
    )


def equidepth_buckets(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    nbuckets: int = 10,
) -> DataFrame:
    """Equi-depth (quantile) buckets per group via ntile — the
    complement of histogram_by_group's equi-width bins: every bucket
    holds ~the same row count and the bucket EDGES carry the
    information. ntile's deterministic split rule (earlier buckets take
    the remainder) is identical across engines given a total order, so
    the id tiebreak makes the whole profile replayable. The window
    sorts each group once (per-group, never global); at 100 TB the
    same profile comes from sampled_quantiles' edges instead — this is
    the exact small-group path. Output: (group, bucket, cnt, lo, hi)."""
    v = F.col(value_col).cast("double")
    w = Window.partitionBy(group_col).orderBy(v, id_col)
    return (
        df.where(v.isNotNull())
        .withColumn("bucket", F.ntile(nbuckets).over(w).cast("long"))
        .groupBy(group_col, "bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(v).alias("lo"),
            F.max(v).alias("hi"),
        )
    )


def exact_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Pearson correlation from EXACT decimal accumulators:
    sum/x2/y2/xy aggregate as decimal(12,2)-derived decimals (order-
    insensitive, bit-exact), and only the FINAL five-term formula runs
    in doubles. Spark's builtin corr() accumulates doubles in partition
    order and cannot be hash-compared across engines; this can.

    Portability detail that MATTERS: the decimal sums are converted to
    SCALED LONGS (cents / cent-squares) before any double math —
    decimal→double casts are NOT cross-engine stable (DuckDB divides
    int128 by 10^scale in doubles: two roundings, off-by-one-ulp vs the
    JVM's exactly-rounded BigDecimal cast; observed at the gate), while
    long→double is the same IEEE conversion everywhere. Pearson is
    scale-invariant, so the scaled-units formula IS the statistic.
    Bound: sum(x*y)*10^4 must fit int64 (~3e18 headroom at TPC-H sf10).
    One partial-aggregated groupBy; the formula touches
    group-cardinality rows. Output: (group, n, corr)."""
    x = F.col(x_col).cast("decimal(12,2)")
    y = F.col(y_col).cast("decimal(12,2)")
    agg = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
            F.sum(x * y).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sx = (F.col("sx") * F.lit(100)).cast("long").cast("double")
    sy = (F.col("sy") * F.lit(100)).cast("long").cast("double")
    sxx = (F.col("sxx") * F.lit(10000)).cast("long").cast("double")
    syy = (F.col("syy") * F.lit(10000)).cast("long").cast("double")
    sxy = (F.col("sxy") * F.lit(10000)).cast("long").cast("double")
    num = nd * sxy - sx * sy
    den = F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
    return agg.select(
        group_col, F.col("n").cast("long").alias("n"), (num / den).alias("corr")
    )


def rank_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Rank-based score normalization: percent_rank of the value within
    its group — how heterogeneous quality scores (a length heuristic
    here, a model logit there) become comparable before blending or
    thresholding ("keep every source's top 30%"). percent_rank is
    (rank-1)/(n-1): pure rank arithmetic plus ONE double division, so
    with the id tiebreak the output replays bit-exactly — z-scores
    would drag float sums in. One per-group sort window, never global.
    Output: input columns + out_col in [0, 1]."""
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).cast("double"), id_col
    )
    return df.withColumn(out_col, F.percent_rank().over(w))


def global_rank(
    df: DataFrame,
    order_cols: list,
    out_col: str = "rank",
    n_parts: int = 64,
    with_total: str | None = None,
) -> DataFrame:
    """df + a 1-based GLOBAL row_number over `order_cols` without ever
    sorting the whole input in one task: range-repartition on the sort
    key, row_number within each range partition, then add per-partition
    offsets (a cumulative sum over n_parts counter rows).

    order_cols MUST be a total order (include a unique tiebreak) or
    ranks are partition-placement-dependent.

    Scale shape: one range shuffle + per-partition sorts; the offset
    window runs over n_parts rows (single partition over a COUNTER
    table, not data — the standard two-phase global-sort trade). The
    range-partitioned input is persisted because Spark's range sampler
    is plan-instance-specific: without pinning it, the rank subtree and
    the offset subtree could draw different partition bounds and
    misalign `spark_partition_id`. The cache holds exactly one pass of
    the (usually post-aggregation) input, FIFO-capped via _pin;
    release_pinned() frees them between batch runs.

    `with_total` (code-review r14): name a column to ALSO carry the
    global row count — it rides the same broadcast counter table (one
    more window over the n_parts rows), so callers that need n (ntile
    arithmetic, curriculum staging) don't re-execute the ranking
    subtree or re-scan the source just to count rows."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = _pin(
        df.repartitionByRange(n_parts, *cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    wl = Window.partitionBy("_pid").orderBy(*cols)
    ranked = part.withColumn("_lrank", F.row_number().over(wl).cast("long"))
    # the offset cumsum runs over n_parts COUNTER rows — constant
    # partition key (non-optimizer-removable, see similarity._ranked_topk)
    # names that tiny partition so WindowExec stays quiet
    ck = F.pmod(F.xxhash64(F.col("_pid")), F.lit(1))
    woff = (
        Window.partitionBy(ck)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = part.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    keep = ["_pid", "_off"]
    offsets = offsets.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).cast("long")
    )
    if with_total is not None:
        wall = Window.partitionBy(ck).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        offsets = offsets.withColumn(
            with_total, F.sum("_cnt").over(wall).cast("long")
        )
        keep.append(with_total)
    offsets = offsets.select(*keep)
    return (
        ranked.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_lrank") + F.col("_off")).cast("long"))
        .drop("_pid", "_lrank", "_off")
    )


def exact_div(a: F.Column, b: F.Column) -> F.Column:
    """Exact floor(a / b) for non-negative a and b >= 1, as a long.

    Spark has no bigint `div` in the Column API; long `/` is a double
    divide (exact only below 2^53) and a bare decimal(38,0) division is
    rounded by Spark to decimal(38,6) HALF_UP (the ADVICE r14 ntile
    off-by-one). Subtracting the pmod remainder first makes the true
    quotient an integer, so the rounded decimal result is exact at any
    count. Operands should already be decimal(38,0) (or safely castable
    longs); form any numerator that could exceed long max in decimal
    BEFORE calling."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def ntile_from_rank(rank: F.Column, n: F.Column, k: int) -> F.Column:
    """NTILE(k) reconstructed from a global rank and the total count —
    bit-identical to SQL NTILE's split rule (the first n%k tiles take
    the extra row), so a rank produced by global_rank yields the exact
    tile a single-partition NTILE window would have, without the
    single-partition window.

    Exact at ANY count since round 15 (ADVICE r14: Spark rounds a
    decimal(38,0)/decimal(38,0) quotient to decimal(38,6) HALF_UP, so
    the round-14 floor/ceil-over-decimal form went off-by-one once a
    tile held more than ~2e6 rows — n=8000004, k=4, rank=2000002 read
    tile 1 where SQL NTILE(4) says 2). Every division here now
    subtracts its pmod remainder first, so the decimal quotient is
    integral BEFORE the scale-6 rounding and HALF_UP has nothing to
    round; ceil(a/b) rides the (a + b - 1) div b rule. The else-branch
    divisor is guarded with greatest(q, 1) — q == 0 means every rank
    falls in the big tiles so the branch is unreached, but the guard
    keeps the expression total."""
    dec = "decimal(38,0)"
    idiv = exact_div
    # the ceil numerators (rank + q, rank - big + g - 1) can exceed
    # long max when n is near 2^63 with small k, so they're formed in
    # decimal, not long, before dividing
    rd, nd, kd = rank.cast(dec), n.cast(dec), F.lit(k).cast(dec)
    q = idiv(nd, kd)
    r0 = (n - F.lit(k) * q).cast("long")
    big = r0 * (q + F.lit(1))
    in_big = rank <= big
    tile_big = idiv(rd + q.cast(dec), (q + F.lit(1)).cast(dec))
    g = F.greatest(q, F.lit(1))
    tile_rest = r0 + idiv(
        rd - big.cast(dec) + g.cast(dec) - F.lit(1).cast(dec), g.cast(dec)
    )
    return F.when(in_big, tile_big).otherwise(tile_rest).cast("long")


def rfm_segments(
    df: DataFrame,
    key_col: str,
    date_col: str,
    amount_col: str,
    k: int = 5,
) -> DataFrame:
    """RFM segmentation: per key, recency (days since last activity,
    relative to the dataset's max date), frequency (row count) and
    monetary (decimal-exact amount sum), each quantile-scored into k
    tiles — the classic warehouse customer-value segmentation.

    The tiles are GLOBAL quantiles, which naively means three global
    NTILE windows (three single-partition sorts over every key). Here
    each score comes from global_rank (range-partitioned two-phase
    rank) + ntile_from_rank (exact NTILE arithmetic), so nothing sorts
    more than one range partition of POST-AGGREGATION rows. Tile 1 =
    most recent / most frequent / highest spend. NULL dates make a
    key's recency NULL and its rank position engine-dependent (Spark
    sorts nulls first ascending, most SQL engines last) — filter or
    impute them upstream if they occur. Output: (key, recency_days,
    frequency, monetary, r_tile, f_tile, m_tile, segment)."""
    amt = F.col(amount_col).cast("decimal(12,2)")
    base = df.groupBy(key_col).agg(
        F.max(F.col(date_col)).alias("_last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(amt).alias("_mon"),
    )
    anchor = df.agg(F.max(F.col(date_col)).alias("_anchor"))
    base = (
        base.crossJoin(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("_anchor", "_last").cast("long"))
        .drop("_last", "_anchor")
    )
    n_row = base.agg(F.count(F.lit(1)).alias("_n"))
    r = global_rank(base, ["recency_days", key_col], "_rr")
    r = global_rank(r, [F.col("frequency").desc(), key_col], "_fr")
    r = global_rank(r, [F.col("_mon").desc(), key_col], "_mr")
    n = F.col("_n")
    return (
        r.crossJoin(F.broadcast(n_row))
        .select(
            key_col,
            "recency_days",
            F.col("frequency").cast("long").alias("frequency"),
            F.col("_mon").cast("double").alias("monetary"),
            ntile_from_rank(F.col("_rr"), n, k).alias("r_tile"),
            ntile_from_rank(F.col("_fr"), n, k).alias("f_tile"),
            ntile_from_rank(F.col("_mr"), n, k).alias("m_tile"),
        )
        .withColumn(
            "segment",
            F.format_string("%d%d%d", "r_tile", "f_tile", "m_tile"),
        )
    )


def pareto_front_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """2-D Pareto frontier (skyline), minimizing both columns: the
    distinct points no other point beats on both axes. The classic
    sort-based rule — order by (x, y) and keep a point iff every
    earlier point's y is larger — needs a GLOBAL sort, so it runs in
    two phases: a local skyline per hash bucket (bucket-partitioned
    window; pruning against bucket-mates is sound because a dominator
    anywhere implies the point is not in the global answer, and
    removing dominated points never removes a true skyline point),
    then the exact rule over the surviving candidates only.

    For typical (uncorrelated) data the local pass leaves O(buckets *
    log n) candidates, so the final single-partition window touches a
    candidate set, not the corpus. Anti-correlated data (all points on
    a Pareto diagonal) degenerates to a large frontier — inherent to
    skyline, not to this plan. Output: (x_col, y_col) distinct
    frontier points as doubles."""
    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    pts = (
        df.where(x.isNotNull() & y.isNotNull())
        .select(x.alias(x_col), y.alias(y_col))
        .distinct()
        .withColumn(
            "_b", F.pmod(F.xxhash64(x_col, y_col), F.lit(n_buckets))
        )
    )

    def survivors(d: DataFrame, w: Window) -> DataFrame:
        prev_min = F.min(y_col).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        return d.withColumn("_pm", prev_min).where(
            F.col("_pm").isNull() | (F.col("_pm") > F.col(y_col))
        ).drop("_pm")

    local = survivors(pts, Window.partitionBy("_b").orderBy(x_col, y_col))
    # exact phase over the local survivors only — the constant partition
    # key (non-optimizer-removable) names the candidate-set partition so
    # WindowExec stays quiet; the set is bucket-skyline-sized by phase 1
    wg = Window.partitionBy(
        F.pmod(F.xxhash64(F.col(x_col)), F.lit(1))
    ).orderBy(x_col, y_col)
    return survivors(local.drop("_b"), wg)


def cooccurrence_lift(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_pairs: int = 2,
) -> DataFrame:
    """Market-basket co-occurrence with lift: for every unordered item
    pair appearing in the same group (order, session, document),
    support and lift = P(a,b) / (P(a) * P(b)). Lift > 1 flags genuinely
    associated items; the denominator kills popularity-only pairs.

    Shape: distinct (group, item) first (one shuffle, kills quantity
    blowup), then a self-join CO-PARTITIONED on the group key — the
    quadratic term is bounded by basket size per group, never corpus
    size. Item marginals join back keyless of the group (AQE picks
    broadcast when the item vocabulary is small; no forced hint — the
    vocabulary is data-dependent). The lift arithmetic is a fixed
    expression over exact counts cast to double, so it replays
    bit-identically. Output: (item_a, item_b, pair_cnt, lift)."""
    # NULL group/item rows drop explicitly: the equi-joins would skip
    # them anyway, but Spark's distinct-count INCLUDES a null group
    # while SQL count(distinct) does not — the filter pins the lift
    # denominator to the SQL semantics
    items = (
        df.where(F.col(group_col).isNotNull() & F.col(item_col).isNotNull())
        .select(group_col, item_col)
        .distinct()
    )
    n_groups = items.select(group_col).distinct().agg(
        F.count(F.lit(1)).alias("_ng")
    )
    marg = items.groupBy(item_col).agg(F.count(F.lit(1)).alias("_cnt"))
    a = items.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("item_a")
    )
    b = items.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("item_b")
    )
    pairs = (
        a.join(b, "_g")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= min_pairs)
    )
    ca = marg.select(F.col(item_col).alias("item_a"), F.col("_cnt").alias("_ca"))
    cb = marg.select(F.col(item_col).alias("item_b"), F.col("_cnt").alias("_cb"))
    lift = (
        F.col("pair_cnt").cast("double") * F.col("_ng").cast("double")
    ) / (F.col("_ca").cast("double") * F.col("_cb").cast("double"))
    return (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n_groups))
        .select(
            "item_a",
            "item_b",
            F.col("pair_cnt").cast("long").alias("pair_cnt"),
            lift.alias("lift"),
        )
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    id_col: str,
) -> DataFrame:
    """Exact per-group weighted median: the smallest value whose
    cumulative weight reaches half the group's total — the
    outlier-robust center for quantity-weighted prices, duration-
    weighted latencies, token-weighted quality scores.

    Exactness: weights accumulate as decimal(12,2) (order-insensitive)
    and the half-total test is 2*cum >= total in DECIMAL — no float
    division anywhere, so the selection replays bit-identically. Shape:
    one per-group cumulative window ordered by (value, id) and one tiny
    per-group total broadcast back (the q102 equi-depth trade: exact
    per-group sort path; at 100 TB per-group volumes, swap in
    sampled_quantiles for the one-pass approximate edge). Output:
    (group, wmedian, total_weight)."""
    v = F.col(value_col).cast("double")
    wd = F.col(weight_col).cast("decimal(12,2)")
    w1 = (
        Window.partitionBy(group_col)
        .orderBy(v, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = df.groupBy(group_col).agg(F.sum(wd).alias("_tot"))
    cum = (
        df.withColumn("_cum", F.sum(wd).over(w1))
        .join(F.broadcast(tot), group_col)
        .where(F.col("_cum") * 2 >= F.col("_tot"))
    )
    return cum.groupBy(group_col).agg(
        F.min(v).alias("wmedian"),
        F.max(F.col("_tot")).cast("double").alias("total_weight"),
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list,
    value_col: str | list[str],
    out_col: str | list[str] = "cum",
    n_parts: int = 64,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Global running sum over a total order without a single-partition
    window — global_rank's trick generalized from counts to values:
    range-repartition on the order, per-partition running sum, then add
    per-partition TOTAL offsets (a cumulative sum over n_parts counter
    rows). order_cols must be a total order; value_col should be an
    exact type (long/decimal) so the two-phase regrouping cannot drift.
    Same persist pinning as global_rank (range sampling is
    plan-instance-specific), FIFO-capped via _pin.

    Accepts parallel LISTS of value/out columns to compute several
    running sums over the SAME total order in one pass — one range
    shuffle, one window, one pin instead of one of each per column
    (code-review r12: ks_statistic paid the whole machinery twice).

    `partition_by` (VERDICT r13 #1) restarts the running sum at each
    distinct value of the listed columns — MANY independent cumsums in
    the SAME single range shuffle: the range partitioner keys on
    (partition cols, order cols) so each group's order still spans
    physical partitions contiguously, the local window adds the group
    key, and the offset table (one row per (physical partition, group)
    — n_parts * n_groups rows, broadcastable for the distinct-value-
    sized groups this serves) accumulates per group over _pid. Within
    each group, order_cols must still be a total order."""
    pby = list(partition_by) if partition_by else []
    vals = [value_col] if isinstance(value_col, str) else list(value_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vals) != len(outs):
        raise ValueError(
            f"global_cumsum: {len(vals)} value cols vs {len(outs)} out cols"
        )
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    pcols = [F.col(c) for c in pby]
    part = _pin(
        df.repartitionByRange(n_parts, *pcols, *cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    wl = (
        Window.partitionBy("_pid", *pby)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part.select(
        "*", *[F.sum(F.col(v)).over(wl).alias(f"_lc{i}") for i, v in enumerate(vals)]
    )
    # offset accumulation: per group when partitioned, else the
    # constant-key trick collapses the n_parts counter rows into one
    # ordered frame (n_parts rows total — never a real single-partition
    # exchange over data)
    woff = (
        Window.partitionBy(
            *(pby if pby else [F.pmod(F.xxhash64(F.col("_pid")), F.lit(1))])
        )
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        part.groupBy("_pid", *pby)
        .agg(*[F.sum(F.col(v)).alias(f"_t{i}") for i, v in enumerate(vals)])
        .select(
            "_pid",
            *pby,
            *[
                F.coalesce(F.sum(f"_t{i}").over(woff), F.lit(0)).alias(f"_off{i}")
                for i in range(len(vals))
            ],
        )
    )
    out = local.join(F.broadcast(offsets), ["_pid", *pby])
    for i, oc in enumerate(outs):
        out = out.withColumn(oc, F.col(f"_lc{i}") + F.col(f"_off{i}"))
    return out.drop(
        "_pid", *[f"_lc{i}" for i in range(len(vals))],
        *[f"_off{i}" for i in range(len(vals))],
    )


def ks_statistic(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Distributed two-sample Kolmogorov-Smirnov statistic, EXACT:
    D = max |ECDF_a - ECDF_b| over the pooled sorted values. Each ECDF
    difference is |c_a*n_b - c_b*n_a| (c_x = running count of group x)
    accumulated in decimal(38,0) — long*long would silently wrap once
    n_a*n_b nears 2^63, plausible at 100 TB group sizes — the max is
    an exact integer aggregate, and ONE final division by n_a*n_b
    yields D — no float folds, so the statistic replays
    bit-identically. The running counts ride the two-phase
    global_cumsum (range-partitioned, no single-partition sort of the
    pooled data). Output: one row (n_a, n_b, d_stat)."""
    sub = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).cast("double").alias("_v"),
        F.col(id_col).alias("_id"),
        (F.col(group_col) == group_a).cast("long").alias("_ia"),
        (F.col(group_col) == group_b).cast("long").alias("_ib"),
    )
    # both running counts in ONE global_cumsum pass: one range shuffle,
    # one window, one pin — the back-to-back form paid each twice over
    # the pooled relation (code-review r12)
    cb = global_cumsum(sub, ["_v", "_id"], ["_ia", "_ib"], ["_ca", "_cb"])
    # ECDFs are step functions evaluated AFTER all rows of a tied
    # value: keep each distinct value's final running counts, or ties
    # straddling the two groups manufacture phantom differences
    steps = cb.groupBy("_v").agg(
        F.max("_ca").alias("_ca"), F.max("_cb").alias("_cb")
    )
    ns = sub.agg(
        F.sum("_ia").cast("long").alias("n_a"),
        F.sum("_ib").cast("long").alias("n_b"),
    )
    j = steps.crossJoin(F.broadcast(ns))
    dec = "decimal(38,0)"
    diff = F.abs(
        F.col("_ca").cast(dec) * F.col("n_b").cast(dec)
        - F.col("_cb").cast(dec) * F.col("n_a").cast(dec)
    )
    return (
        j.groupBy("n_a", "n_b")
        .agg(F.max(diff).alias("_num"))
        .select(
            "n_a",
            "n_b",
            (
                F.col("_num").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("d_stat"),
        )
    )


def ols_by_group(
    df: DataFrame,
    group_col: str,
    x_col,
    y_col,
    min_n: int = 2,
) -> DataFrame:
    """Per-group simple linear regression (OLS), EXACT: x and y must
    arrive as exact longs (days, cents, counts) with |x*y| < 2^63 per
    row; the five sufficient statistics (n, Sx, Sy, Sxx, Sxy)
    accumulate in decimal(38,0), so the fit replays bit-identically
    regardless of row order or partitioning (a double fold would be
    order-dependent — fatal for a 100 TB shuffle whose order is
    nondeterministic; engine-native regr_slope aggregates fold in
    doubles and are NOT replayable).
    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) and
    intercept = (Sy - slope*Sx) / n are each ONE float expression over
    the exact statistics — mirror the same tree in an engine with
    exact 128-bit integers (DuckDB: hugeint) and the doubles match to
    the bit. Groups with n < min_n or zero x-variance drop (no line to
    fit). Shape: one partial-agg shuffle, group-cardinality output.
    Output: (group, n, slope, intercept)."""
    x = x_col if not isinstance(x_col, str) else F.col(x_col)
    y = y_col if not isinstance(y_col, str) else F.col(y_col)
    dec = "decimal(38,0)"
    xl, yl = x.cast("long"), y.cast("long")
    s = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xl.cast(dec)).alias("_sx"),
        F.sum(yl.cast(dec)).alias("_sy"),
        F.sum((xl * xl).cast(dec)).alias("_sxx"),
        F.sum((xl * yl).cast(dec)).alias("_sxy"),
    )
    nd = F.col("n").cast(dec)
    den = nd * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    num = nd * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    slope = num.cast("double") / den.cast("double")
    out = s.where((F.col("n") >= min_n) & (den != 0)).withColumn(
        "slope", slope
    )
    intercept = (
        F.col("_sy").cast("double") - F.col("slope") * F.col("_sx").cast("double")
    ) / F.col("n").cast("double")
    return out.select(
        group_col, "n", "slope", intercept.alias("intercept")
    )


def reference_percentile(
    df: DataFrame,
    ref: DataFrame,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Each row's EXACT percentile within a REFERENCE distribution —
    cross-corpus score calibration (where does this doc's quality sit
    against the vetted corpus?) without ever sorting the probe side
    against the reference. The merge trick: reference value-counts and
    distinct probe values union into ONE relation; a global_cumsum
    ordered by (value, probe-after-ref) evaluated at the probe rows is
    exactly |ref <= value| (ref rows sort first on ties, so the count
    is inclusive); one broadcast of the distinct-value percentile map
    back to the probe rows; ONE final division. All integers until
    the division. Output: df's (id, value) + (ref_n, pct)."""
    v = F.col(value_col).cast("long")
    # NULL reference values would sort FIRST in the cumsum order and
    # count as 'below every probe value', inflating every percentile
    # (code-review r12) — they are not part of the distribution
    ref_counts = (
        ref.select(v.alias("_v"))
        .where(F.col("_v").isNotNull())
        .groupBy("_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    probe_vals = df.select(v.alias("_v")).distinct().withColumn(
        "_c", F.lit(0).cast("long")
    )
    merged = ref_counts.withColumn("_probe", F.lit(0)).unionByName(
        probe_vals.withColumn("_probe", F.lit(1))
    )
    cum = global_cumsum(merged, ["_v", "_probe"], "_c", "_le")
    pct_map = cum.where(F.col("_probe") == 1).select(
        F.col("_v"), F.col("_le").cast("long").alias("_le")
    )
    ref_n = ref.agg(F.count(v).cast("long").alias("ref_n"))  # non-NULL
    return (
        df.select(F.col(id_col), v.alias(value_col))
        .join(pct_map.withColumnRenamed("_v", value_col), value_col)
        .crossJoin(F.broadcast(ref_n))
        .select(
            id_col,
            value_col,
            "ref_n",
            (F.col("_le").cast("double") / F.col("ref_n").cast("double"))
            .alias("pct"),
        )
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list,
    k: int = 5,
) -> DataFrame:
    """Privacy-release gate: how much of the table sits in
    quasi-identifier groups smaller than k — the k-anonymity check run
    BEFORE a dataset leaves the boundary. One groupBy over the
    quasi-identifier tuple, one tiny reduction, exact integers and one
    share division. Output: one row (k, n_rows, n_groups,
    groups_below_k, rows_at_risk, at_risk_share)."""
    g = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    return g.agg(
        F.lit(k).cast("long").alias("k"),
        F.sum("_n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("_n") < k).cast("long")).cast("long").alias(
            "groups_below_k"
        ),
        F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    ).withColumn(
        "at_risk_share",
        F.col("rows_at_risk").cast("double") / F.col("n_rows").cast("double"),
    )


def mode_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Exact statistical mode per group with a deterministic tiebreak
    (highest count, then smallest value) — the replayable version of
    engine MODE() aggregates, whose tie choice is implementation-
    defined. Two partial-agg shuffles ((group, value) counts, then one
    min_by per group over the (-count, value) struct — struct ordering
    gives 'largest count, then smallest value' in one aggregate).
    Output: (group, mode_value, mode_count)."""
    cnt = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    key = F.struct((-F.col("_c")).alias("nc"), F.col(value_col).alias("v"))
    return cnt.groupBy(group_col).agg(
        F.min_by(F.col(value_col), key).alias("mode_value"),
        F.max("_c").alias("mode_count"),
    )


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Winsorized (clipped) robust mean per group: exact percentile
    bounds (linear interpolation — the same arithmetic DuckDB's
    quantile_cont runs, proven hash-compatible by q98/q170), values
    clipped into [p_lo, p_hi], then an EXACT decimal(18,6) sum so the
    mean is order-insensitive and replayable (double sums are not —
    the q103 portability rule). Complements mad_outliers (X83): that
    flags rows, this repairs the aggregate. Two partial-agg shuffles +
    one broadcastable bounds join. Output: (group, n, p_lo, p_hi,
    n_clipped, winsorized_mean)."""
    v = F.col(value_col).cast("double")
    bounds = df.groupBy(group_col).agg(
        F.percentile(v, F.lit(lo)).alias("p_lo"),
        F.percentile(v, F.lit(hi)).alias("p_hi"),
    )
    # NULL values are outside the percentile population: the clipped
    # sum would skip them while count(*) counted them, understating the
    # mean (code-review r12) — drop them from every aggregate so n,
    # n_clipped and the mean describe ONE population
    j = (
        df.where(v.isNotNull())
        .join(F.broadcast(bounds), group_col)
        .select(
            F.col(group_col),
            F.least(F.greatest(v, F.col("p_lo")), F.col("p_hi")).alias("_c"),
            (v < F.col("p_lo")).cast("long").alias("_below"),
            (v > F.col("p_hi")).cast("long").alias("_above"),
            F.col("p_lo"),
            F.col("p_hi"),
        )
    )
    return j.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.first("p_lo").alias("p_lo"),
        F.first("p_hi").alias("p_hi"),
        (F.sum("_below") + F.sum("_above")).cast("long").alias("n_clipped"),
        (
            F.sum(F.col("_c").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("winsorized_mean"),
    )


#: Benford first-digit probabilities log10(1+1/d), inlined as literal
#: doubles (NOT computed via log10 at plan time) so Spark and any
#: oracle engine use bit-identical constants — libm log10 may differ
#: by an ulp across runtimes
BENFORD_P = [
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
]


def benford_audit(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Benford's-law first-digit audit per group: chi-square distance
    between the observed leading-digit distribution of a positive
    amount column and Benford's expectation — the classic synthetic-
    data / fraud / unit-mixup detector for financial columns. The
    digit comes from the decimal(12,2) STRING rendering (identical in
    any engine — no float log10 anywhere); the chi2 and max deviation
    are FIXED-ORDER expression chains over nine pivoted counts, never
    an order-dependent float aggregate. One groupBy over rows >= 1,
    one 9-column pivot reduction. Output: (group, n, chi2,
    max_abs_dev)."""
    v = F.col(value_col).cast("double")
    digit = F.substring(v.cast("decimal(12,2)").cast("string"), 1, 1)
    base = df.where(v >= 1).select(F.col(group_col), digit.alias("_d"))
    agg = base.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum((F.col("_d") == str(d)).cast("long"))
            .cast("long")
            .alias(f"_o{d}")
            for d in range(1, 10)
        ],
    )
    nd = F.col("n").cast("double")
    chi2 = None
    dev = None
    for d in range(1, 10):
        p = F.lit(BENFORD_P[d - 1])
        obs = F.col(f"_o{d}").cast("double")
        term = (obs - nd * p) * (obs - nd * p) / (nd * p)
        adev = F.abs(obs / nd - p)
        chi2 = term if chi2 is None else chi2 + term
        dev = adev if dev is None else F.greatest(dev, adev)
    return agg.select(group_col, "n", chi2.alias("chi2"), dev.alias("max_abs_dev"))


def lag1_autocorr(
    df: DataFrame,
    group_col: str,
    ts_col: str,
) -> DataFrame:
    """Lag-1 autocorrelation of the per-group DAILY event-count series
    (consecutive observed days): is today's volume predictive of
    tomorrow's — the trend/seasonality screen run before fitting any
    forecaster. Daily counts are exact integers; the Pearson runs over
    (c_t, c_{t-1}) pairs with decimal(38,0) product sums (daily counts
    at 100 TB square past int64) cast once to double for the fixed
    five-term formula — the q103 exact_corr portability discipline.
    Output: (group, n_pairs, autocorr), NULL when variance is zero."""
    daily = df.groupBy(
        F.col(group_col), F.to_date(F.col(ts_col)).alias("_day")
    ).agg(F.count(F.lit(1)).cast("long").alias("_c"))
    w = Window.partitionBy(group_col).orderBy("_day")
    pairs = daily.withColumn("_p", F.lag("_c").over(w)).where(
        F.col("_p").isNotNull()
    )
    dec = "decimal(38,0)"
    agg = pairs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("_c").cast("long").alias("_sx"),
        F.sum("_p").cast("long").alias("_sy"),
        F.sum(F.col("_c").cast(dec) * F.col("_c").cast(dec)).alias("_sxx"),
        F.sum(F.col("_p").cast(dec) * F.col("_p").cast(dec)).alias("_syy"),
        F.sum(F.col("_c").cast(dec) * F.col("_p").cast(dec)).alias("_sxy"),
    )
    n = F.col("n_pairs").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    num = n * sxy - sx * sy
    den2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
    corr = F.when(den2 > 0, num / F.sqrt(den2)).otherwise(
        F.lit(None).cast("double")
    )
    return agg.select(group_col, "n_pairs", corr.alias("autocorr"))


def chisq_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Chi-square independence table for two categorical columns: per
    (a, b) cell the observed count, the independence-expected count
    (row_total * col_total / grand_total) and the cell's chi-square
    contribution (obs - exp)^2 / exp — the audit that catches a
    dependence the mixture design assumes away (language concentrated
    in one crawl source means dropping that source silently drops the
    language). One partial-agg groupBy over the data plus two
    marginal aggregates broadcast back; expected divides exact bigints
    once, so every double is engine-portable. Callers sum
    `contribution` for the statistic; the per-cell table is the
    actionable part. Output: (a, b, observed, expected,
    contribution)."""
    # NULL categories must be excluded up front: the equi-joins back to
    # the marginals never match NULL=NULL, so a (NULL, b) cell would
    # vanish from the output while its rows still inflated the marginals
    # and the grand total — biasing every expected count (code-review
    # r12; cooccurrence_lift filters the same way). A pipeline that
    # wants NULL as a category should coalesce it to a sentinel first.
    df = df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
    cells = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("observed"))
    row_t = cells.groupBy("a").agg(F.sum("observed").cast("long").alias("_ra"))
    col_t = cells.groupBy("b").agg(F.sum("observed").cast("long").alias("_cb"))
    grand = cells.agg(F.sum("observed").cast("long").alias("_n"))
    exp = (
        (F.col("_ra") * F.col("_cb")).cast("double") / F.col("_n").cast("double")
    )
    return (
        cells.join(F.broadcast(row_t), "a")
        .join(F.broadcast(col_t), "b")
        .crossJoin(F.broadcast(grand))
        .select(
            "a",
            "b",
            "observed",
            exp.alias("expected"),
            (
                (F.col("observed").cast("double") - exp)
                * (F.col("observed").cast("double") - exp)
                / exp
            ).alias("contribution"),
        )
    )


def signal_auc(
    df: DataFrame,
    label_col: str,
    signal_cols: list[str],
) -> DataFrame:
    """ROC-AUC of each candidate SIGNAL against a binary label (X217)
    — "which cheap signal best discriminates quality" is the question
    every filter-tuning session starts with, and AUC is its canonical
    answer: the probability a random positive outranks a random
    negative, computed exactly via the Mann-Whitney rank-sum identity
    AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) with AVERAGE
    ranks for ties (the standard tie correction), higher signal =
    predicts label 1. One row per signal; 0.5 = uninformative, NULL
    when a class is empty (AUC undefined).

    Scale shape (VERDICT r13 #1 — the r13 per-signal loop cost s full
    corpus scans): ONE scan stack-unpivots the signal columns into
    (signal, value, label) rows, ONE groupBy on (signal, value)
    (map-side partial; distinct-value-sized output per signal), then
    global_cumsum's two-phase distributed running count runs PER
    SIGNAL via partition_by=["signal"] — one range shuffle for all
    signals, no single-partition window anywhere, the q45/q167
    machinery. Doubled rank sums keep everything in exact integers
    (avg rank of a tied block = (2*cum_before + n + 1)/2, so 2*R_pos =
    sum(npos * (2*(cum - n) + n + 1))); products ride decimal(38,0)
    (rank ~ corpus size, npos * rank overflows int64 past ~3e9 rows)
    and the ONE double division happens at the end — bit-replayable.
    NULL signal values are excluded (rank undefined), visible via
    n_pos + n_neg < corpus count. The unpivot casts every signal to
    double (one shared value column), which preserves ordering and
    equality for integral signals up to 2^53 — past that, ties would
    merge; curation signals (counts, ratios) never get there."""
    if not signal_cols:
        raise ValueError("signal_cols must be non-empty")
    dupes = {s for s in signal_cols if signal_cols.count(s) > 1}
    if dupes:
        # a repeated name would silently double its rows in the unpivot
        # and skew every signal's n_pos/n_neg readout (ADVICE r14)
        raise ValueError(f"duplicate signal columns: {sorted(dupes)}")
    # the unpivot shares one double value column, so every signal must
    # be numeric — a string/timestamp signal that the r13 per-signal
    # loop ranked lexically now fails LOUDLY here instead of throwing
    # an opaque ANSI CAST error mid-plan (code-review r14); and the
    # names are embedded in a stack() SQL string, so quote, backtick
    # AND backslash characters are escaped rather than injected or
    # mangled (CLI --signals is user input), and duplicates are
    # rejected above rather than silently double-counted
    from pyspark.sql.types import NumericType

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    for s in signal_cols:
        if s not in dtypes:
            raise ValueError(f"signal column {s!r} not in dataframe")
        if not isinstance(dtypes[s], NumericType):
            raise ValueError(
                f"signal column {s!r} has non-numeric type "
                f"{dtypes[s].simpleString()}; signal_auc ranks on a "
                "shared double column — cast or encode it first"
            )
    stack = F.expr(
        "stack({}, {}) as (signal, _v)".format(
            len(signal_cols),
            ", ".join(
                "'{}', cast(`{}` as double)".format(
                    # the literal side needs backslashes doubled too:
                    # with escapedStringLiterals=false (the default) a
                    # name like a\nb would otherwise round-trip as a
                    # real newline in the emitted signal label
                    # (ADVICE r14); identifiers in backticks do not
                    # process backslash escapes, so only backticks are
                    # doubled there
                    s.replace("\\", "\\\\").replace("'", "''"),
                    s.replace("`", "``"),
                )
                for s in signal_cols
            ),
        )
    )
    d = df.select(
        (F.col(label_col).cast("long") > 0).cast("long").alias("_y"), stack
    ).where(F.col("_v").isNotNull() & F.col("_y").isNotNull())
    g = d.groupBy("signal", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_npos"),
    )
    c = global_cumsum(g, ["_v"], "_n", "_cum", partition_by=["signal"])
    dec = "decimal(38,0)"
    two_rpos = (
        F.col("_npos").cast(dec)
        * (
            F.lit(2).cast(dec) * (F.col("_cum") - F.col("_n")).cast(dec)
            + F.col("_n").cast(dec)
            + F.lit(1).cast(dec)
        )
    )
    agg = c.groupBy("signal").agg(
        F.sum(two_rpos).alias("_2rpos"),
        F.sum("_npos").cast("long").alias("n_pos"),
        (F.sum("_n") - F.sum("_npos")).cast("long").alias("n_neg"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        (
            F.col("_2rpos")
            - F.col("n_pos").cast(dec)
            * (F.col("n_pos").cast(dec) + F.lit(1).cast(dec))
        ).cast("double")
        / (
            F.lit(2.0)
            * F.col("n_pos").cast("double")
            * F.col("n_neg").cast("double")
        ),
    ).otherwise(F.lit(None).cast("double"))
    return agg.select("signal", "n_pos", "n_neg", auc.alias("auc"))
