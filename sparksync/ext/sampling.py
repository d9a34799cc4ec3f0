"""Deterministic dataset splitting and sampling for training-data
pipelines: train/val/test assignment, stratified sampling, and weighted
corpus interleaving — all hash-based, join-free, and reproducible
across runs and cluster sizes (unlike df.sample, whose output depends
on partitioning).

Two hash methods:
- "xxhash64" (default): 64-bit mix of (salt, id) — the scale path for
  arbitrary-width keys; no SQL oracle (xxhash64 is Spark-specific).
- "knuth": multiplicative hashing pmod(id * 2654435761, 10000)
  (Knuth's A * 2^32 with A the golden-ratio fraction) — exact in any
  engine's int64 for ids < ~3.5e9, so DuckDB can replay it; used by the
  oracle-checked gate queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._materialize import _pin

BUCKETS = 10_000
_KNUTH_A = 2654435761


def _bucket(id_col: str, method: str, salt: str) -> F.Column:
    """Deterministic hash bucket in [0, BUCKETS). A NULL id lands in
    bucket 0 (code-review r11): under knuth, NULL * A is NULL, which
    made every `bucket < hi` test NULL — split_assign silently routed
    NULL-id rows to the LAST split (usually the 1% eval slice) and
    stratified_sample silently dropped them. Bucket 0 puts them in the
    first split / keeps them whenever the stratum keeps anything —
    deterministic and visible, never silent loss."""
    if method == "knuth":
        b = F.pmod(F.col(id_col) * F.lit(_KNUTH_A), F.lit(BUCKETS))
    elif method == "xxhash64":
        b = F.pmod(F.xxhash64(F.lit(salt), F.col(id_col)), F.lit(BUCKETS))
    else:
        raise ValueError(f"unknown hash method {method!r}")
    return F.coalesce(b, F.lit(0))


def split_assign(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float] | None = None,
    method: str = "xxhash64",
    salt: str = "split",
) -> DataFrame:
    """df + a `split` column assigning each row to a named split by
    hash bucket. Fractions must sum to <= 1; any remainder falls into
    the last split. Pure narrow map — no shuffle, no state, and the
    assignment of a given id never changes as the corpus grows (the
    property df.randomSplit lacks)."""
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    if not fractions or sum(fractions.values()) > 1.0 + 1e-9:
        raise ValueError("fractions must be non-empty and sum to <= 1")
    b = _bucket(id_col, method, salt)
    expr = None
    hi = 0
    names = list(fractions)
    for name in names[:-1]:
        hi += int(round(fractions[name] * BUCKETS))
        cond = b < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    fractions: dict[str, float] | None = None,
    method: str = "xxhash64",
    salt: str = "split",
) -> DataFrame:
    """split_assign with a LEAKAGE GUARD (X207): near-duplicate
    documents must never straddle train/val/test — a val doc whose
    near-twin sits in train inflates every eval metric (the
    train-test-contamination failure mode, Lee et al. §6 / the GPT-3
    appendix's motivation, applied to the SPLIT boundary instead of an
    external benchmark). The unit of assignment is therefore the
    duplicate CLUSTER, not the document: connected components over the
    near-dup pair graph (any discovery: minhash, simhash, embedding
    LSH), then the same deterministic hash-bucket split keyed by the
    cluster id — every member of a cluster lands in the same split,
    docs in no pair split independently as singletons.

    Costs one components pass over the PAIR graph only (pair-sized,
    never corpus-sized) + one left join of the corpus against the
    labels; the split itself stays a narrow map. Fraction semantics,
    determinism, and the knuth/xxhash64 oracle story match
    split_assign exactly. Output: df + split."""
    from .graph import connected_components

    # the label column rides under an internal name so an input df that
    # already carries a 'component' column can't collide (code-review
    # r12: the join would make F.col('component') ambiguous)
    comp = connected_components(pairs, "d1", "d2").select(
        F.col("node").alias(id_col), F.col("component").alias("_lss_comp")
    )
    labeled = df.join(comp, id_col, "left")
    out = split_assign(
        labeled.withColumn(
            "_gid", F.coalesce(F.col("_lss_comp"), F.col(id_col))
        ),
        "_gid",
        fractions,
        method,
        salt,
    )
    return out.drop("_lss_comp", "_gid")


def split_leakage_audit(
    df_with_split: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """The MEASURE twin of leakage_safe_split (X209, the audit-family
    discipline: never trust a shortcut you haven't measured): given an
    EXISTING split assignment and a near-dup pair graph, count pairs
    per unordered (split_a, split_b) cell — off-diagonal rows are
    LEAKS (a val doc whose near-twin sits in train), the diagonal is
    benign within-split duplication. Run it on a doc-keyed split to
    see what leakage_safe_split would fix; run it on leakage_safe_
    split's own output and the off-diagonal must be empty (property-
    tested).

    Two id->split joins on the PAIR side (pair-sized, never corpus-
    sized; the split map is corpus-sized but the join output is
    pair-sized) + one count aggregate. The joins are LEFT joins with
    missing endpoints bucketed under the '(missing)' sentinel split:
    an inner join would silently EXCLUDE pairs whose endpoint is
    absent from df_with_split (e.g. the split frame is a filtered
    subset), undercounting leaks exactly where the audit matters most
    (ADVICE r12) — now dropped coverage shows up as its own row.
    Output: (split_a, split_b, n_pairs), split_a <= split_b."""
    s = df_with_split.select(F.col(id_col), F.col(split_col))
    j = (
        pairs.join(
            s.select(F.col(id_col).alias("d1"), F.col(split_col).alias("_s1")),
            "d1",
            "left",
        )
        .join(
            s.select(F.col(id_col).alias("d2"), F.col(split_col).alias("_s2")),
            "d2",
            "left",
        )
        .withColumn("_s1", F.coalesce("_s1", F.lit("(missing)")))
        .withColumn("_s2", F.coalesce("_s2", F.lit("(missing)")))
    )
    return (
        j.select(
            F.least("_s1", "_s2").alias("split_a"),
            F.greatest("_s1", "_s2").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    default_fraction: float = 0.0,
    method: str = "xxhash64",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its hash
    bucket falls under its stratum's fraction. Unlike df.sampleBy, the
    kept set is a pure function of (id, stratum), so reruns and
    incremental loads agree. Narrow map, no shuffle; the fractions map
    is compiled into a literal CASE (no join)."""
    b = _bucket(id_col, method, salt)
    thresh = None
    for k, frac in fractions.items():
        cond = F.col(strata_col) == k
        lim = F.lit(int(round(frac * BUCKETS)))
        thresh = F.when(cond, lim) if thresh is None else thresh.when(cond, lim)
    thresh = (
        F.lit(int(round(default_fraction * BUCKETS)))
        if thresh is None
        else thresh.otherwise(F.lit(int(round(default_fraction * BUCKETS))))
    )
    return df.where(b < thresh)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str,
    method: str = "xxhash64",
    salt: str = "cap",
) -> DataFrame:
    """Deterministic per-group document cap (X212): keep at most k rows
    per group, chosen as the k lowest hash buckets (ties by id) — the
    RefinedWeb/crawl-hygiene "cap each domain at N documents" rule, a
    uniform random-looking draw that is a pure function of
    (group, id, salt) so reruns and incremental loads agree (unlike
    any sample keyed by partition order). Groups smaller than k pass
    through whole.

    One shuffle on group_col (row_number over the group window);
    skew note: a single mega-group routes to one task for ranking —
    for web-crawl domains the biggest group is ~1e6-1e7 rows, a
    single-task sort that is fine in practice; if a group can exceed
    executor memory, pre-filter with a two-stage approx cap first.
    Output: the kept rows of df, schema unchanged."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"cap_per_group: k must be >= 1, got {k}")
    w = Window.partitionBy(group_col).orderBy(
        _bucket(id_col, method, salt), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def temperature_sample(
    df: DataFrame,
    source_col: str,
    id_col: str,
    alpha: float = 0.5,
    method: str = "xxhash64",
    salt: str = "temp",
) -> DataFrame:
    """Temperature-based source rebalancing: downsample each source so
    kept counts are proportional to n_i^alpha (alpha=1 keeps natural
    proportions, alpha=0 equalizes sources) — the standard multilingual/
    multi-corpus mixing rule. Per-source keep rate is
    n_i^(alpha-1) / max_j n_j^(alpha-1), so the smallest source keeps
    100% and nothing is upsampled.

    Everything stays in the plan: per-source counts are one tiny partial
    agg, the global normalizer is a one-row aggregate cross-joined back
    (broadcast), and the keep test is the same deterministic hash bucket
    as stratified_sample — no collect, no driver round-trip, and a given
    id's fate is reproducible across runs and cluster sizes."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    raw = F.pow(F.col("_n").cast("double"), F.lit(alpha - 1.0))
    rates = counts.select(F.col(source_col).alias("_src"), raw.alias("_raw"))
    norm = rates.agg(F.max("_raw").alias("_mx"))
    # greatest(..., 1): a keep rate below 1/BUCKETS must keep ~1 bucket,
    # not ZERO — plain floor silently dropped an entire source once
    # n_i/n_min exceeded BUCKETS^(1/(1-alpha)) (at alpha=0, a source
    # 10,000x the smallest), exactly the power-law skew this operator
    # exists to handle (code-review r11). The oracle mirrors the
    # greatest(); at gate SF every rate is well above 1/BUCKETS so the
    # clamp never binds there.
    rates = rates.crossJoin(F.broadcast(norm)).select(
        "_src",
        F.greatest(
            F.floor(F.col("_raw") / F.col("_mx") * BUCKETS), F.lit(1)
        ).alias("_keep_below"),
    )
    b = _bucket(id_col, method, salt)
    # eqNullSafe: a NULL source is a stratum of its own and must keep its
    # rows (a plain equi-join would silently drop them)
    return (
        df.join(F.broadcast(rates), F.col(source_col).eqNullSafe(F.col("_src")))
        .where(b < F.col("_keep_below"))
        .drop("_src", "_keep_below")
    )


def per_key_cap(
    df: DataFrame,
    key_col: str,
    order_col: str,
    id_col: str,
    cap: int = 30,
    n_salts: int = 32,
) -> DataFrame:
    """Keep at most `cap` rows per key, best-first by
    (order_col desc, id_col asc) — the per-domain/per-source quota
    pass every crawl pipeline runs so one giant domain can't dominate
    the corpus. Output: input columns + rnk (1..cap within key).

    Scale shape (the vocab_topk pattern): a single window partitioned
    by key alone would sort ONE task per key — and web-corpus key sizes
    are power-law (one domain can be 1% of 100 TB). Instead rank in two
    phases: first within (key, hash(id) % n_salts) — n_salts parallel
    partitions per key — keeping `cap` per salt, then a final exact
    rank over the surviving <= n_salts*cap rows per key. Deterministic
    given unique ids; no collect, no skew ceiling."""
    w_pre = Window.partitionBy(key_col, "_salt").orderBy(
        F.desc(order_col), F.col(id_col)
    )
    w_key = Window.partitionBy(key_col).orderBy(
        F.desc(order_col), F.col(id_col)
    )
    pre = (
        df.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)))
        .withColumn("_r", F.row_number().over(w_pre))
        .where(F.col("_r") <= cap)
    )
    return (
        pre.withColumn("rnk", F.row_number().over(w_key).cast("long"))
        .where(F.col("rnk") <= cap)
        .drop("_salt", "_r")
    )


def interleave(
    sources: list[tuple[DataFrame, float]],
    id_col: str,
    method: str = "xxhash64",
    salt: str = "mix",
) -> DataFrame:
    """Weighted corpus mixing: downsample each source to its weight and
    union — the standard way to rebalance heterogeneous training
    corpora. Each source is sampled independently (narrow), the union
    is metadata-only; nothing shuffles until a downstream op asks."""
    if not sources:
        raise ValueError("interleave: sources must be non-empty")
    parts = []
    for i, (df, w) in enumerate(sources):
        if not 0.0 <= w <= 1.0:
            raise ValueError("weights must be in [0, 1]")
        b = _bucket(id_col, method, f"{salt}:{i}")
        parts.append(df.where(b < int(round(w * BUCKETS))))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def greedy_pack(costs, budget: int) -> tuple[list[int], list[int]]:
    """The packing recurrence, pure: first-fit sequence ids and offsets
    for an ordered cost list. seq advances when adding the next item
    would exceed budget (an item larger than budget gets a sequence of
    its own). Kept module-level so property tests hit the exact code
    the applyInPandas groups run."""
    seq_ids = [0] * len(costs)
    offsets = [0] * len(costs)
    seq, fill = 0, 0
    for i, c in enumerate(costs):
        if c != c or c is None:  # NaN (a NULL cost arrives as float64
            # NaN through Arrow) — fail with an actionable message
            # instead of int(NaN)'s ValueError deep in the executor
            # (code-review r11); NaN > budget is False, so it would
            # otherwise be 'placed' and then blow up on the int()
            raise ValueError(
                "pack_sequences: NULL/NaN cost encountered - filter or "
                "impute the cost column before packing"
            )
        if i > 0 and fill + c > budget:
            seq, fill = seq + 1, 0
        seq_ids[i], offsets[i] = seq, fill
        fill += int(c)
    return seq_ids, offsets


def pack_sequences(
    df: DataFrame,
    id_col: str,
    cost_col: str,
    budget: int,
    n_shards: int = 256,
) -> DataFrame:
    """Greedy first-fit sequence packing: fill fixed-budget training
    sequences with whole documents in id order — the step that turns a
    filtered corpus into bounded-length training rows. Output:
    (shard, seq_id, id, cost, offset), offset being the document's
    start position inside its sequence; a document whose cost exceeds
    the budget gets a sequence of its own.

    Packing is inherently sequential (each placement depends on the
    running fill), so the unit of parallelism is the shard: ids spread
    over n_shards via pmod, each shard packs independently inside one
    applyInPandas group (Arrow-batched), and shards run concurrently
    across the cluster. Size n_shards to ~4x total cores at the target
    scale; budgets are per-sequence, so sharding never changes packing
    quality, only which documents share a sequence."""
    if budget <= 0 or n_shards <= 0:
        raise ValueError("budget and n_shards must be positive")

    import pandas as pd

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort", ignore_index=True)
        seq_ids, offsets = greedy_pack(pdf[cost_col].to_numpy(), budget)
        pdf["seq_id"] = seq_ids
        pdf["offset"] = offsets
        return pdf[["shard", "seq_id", id_col, cost_col, "offset"]]

    base = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(cost_col).cast("long").alias(cost_col),
        F.pmod(F.col(id_col).cast("long"), F.lit(n_shards)).alias("shard"),
    )
    out_schema = f"shard long, seq_id long, {id_col} long, {cost_col} long, offset long"
    return base.groupBy("shard").applyInPandas(_pack, out_schema)


def percentile_filter(
    df: DataFrame,
    metric_col: str,
    p: float = 0.25,
    keep: str = "upper",
    exact: bool = True,
) -> DataFrame:
    """Quantile-threshold corpus filter: keep rows whose metric is at or
    above (keep='upper') / at or below (keep='lower') the p-quantile of
    the whole corpus — the usual "drop the bottom quartile by quality /
    length" pass. Output: input columns + the threshold used.

    The threshold is ONE aggregate row cross-joined (broadcast) back
    onto the corpus — no collect, no second pass over raw data, and the
    filter itself is a narrow map. exact=True uses the exact percentile
    aggregate (a per-partition value->count map; right for bounded-
    cardinality metrics like lengths or integer scores); exact=False
    uses approx_percentile, the scale path for unbounded doubles."""
    if keep not in ("upper", "lower"):
        raise ValueError(f"keep must be 'upper' or 'lower', got {keep!r}")
    fn = F.percentile if exact else F.approx_percentile
    thr = df.agg(fn(F.col(metric_col), F.lit(p)).alias("threshold"))
    out = df.crossJoin(F.broadcast(thr))
    cond = (
        F.col(metric_col) >= F.col("threshold")
        if keep == "upper"
        else F.col(metric_col) <= F.col("threshold")
    )
    return out.where(cond)


def budget_mix(
    df: DataFrame,
    group_col: str,
    budgets: dict[str, int],
    id_col: str,
    text_col: str = "text",
    method: str = "knuth",
    salt: str = "mix",
) -> DataFrame:
    """Token-budget corpus mixing: admit documents per group (source,
    language) in deterministic pseudo-random order until that group's
    token budget is exhausted — how a training mix hits "30B tokens of
    web, 5B of code" targets reproducibly. A doc is kept while the
    running token total (inclusive) stays within budget; groups absent
    from `budgets` are dropped. Output: (id, group, n_tokens,
    cum_tokens) for admitted docs.

    Deterministic and engine-replayable: the admission order is the
    Knuth multiplicative hash of the id (same portable recipe as
    split_assign), token counts are the shared whitespace tokenizer,
    and the running sum is exact integer arithmetic — the DuckDB
    oracle replays all three. Scale shape: one narrow map for counts,
    then ONE window cumsum per group (the same per-key running-total
    shape as q45): the sort is per-group, never global, and the
    budgets map enters the plan as a literal CASE, not a join."""
    from .textops import tokens

    # NULL text counts as an EMPTY doc (0 tokens): bare size(tokens())
    # is -1 for NULL in non-ANSI Spark, which would make the running
    # budget DECREASE at that row and re-admit docs past the budget
    # (code-review r11)
    n_tok = F.size(
        F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    ).cast("long")
    bucket = _bucket(id_col, method, salt)
    budget = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )[F.col(group_col)]
    w = (
        Window.partitionBy(group_col)
        .orderBy(bucket, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(
            F.col(id_col),
            F.col(group_col),
            n_tok.alias("n_tokens"),
            budget.alias("_budget"),
        )
        .where(F.col("_budget").isNotNull())
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .where(F.col("cum_tokens") <= F.col("_budget"))
        .drop("_budget")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking: split each doc's token stream
    into windows of `chunk_tokens` advancing by chunk_tokens - overlap
    — the step that fits long documents into a model's context window
    while preserving boundary context. Output: (id, chunk_id, n_tokens,
    chunk_text); the final partial window is kept iff it adds tokens
    beyond the previous window's coverage (starts past the last full
    window). Tokenless docs drop.

    Shape: one narrow map builds the chunk ARRAY per doc with
    sequence+transform+slice (no per-token explode — the token stream
    never leaves the row), then a single posexplode emits chunk rows.
    Engine-replayable: the same recipe writes as generate_series +
    list slicing in DuckDB SQL."""
    from .textops import tokens

    if overlap < 0:
        # a negative overlap widens the step past the window and
        # silently SKIPS the tokens in between (code-review r11)
        raise ValueError("overlap must be >= 0")
    step = chunk_tokens - overlap
    if step <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = tokens(text_col)
    n = F.size(toks)
    # starts: 1, 1+step, ... while start <= n (1-based slice index);
    # a start past n-overlap would only repeat covered tokens, so the
    # last start is the largest 1+k*step <= greatest(n - overlap, 1)
    starts = F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(step))
    chunks = F.transform(
        starts, lambda s: F.slice(toks, s, F.lit(chunk_tokens))
    )
    return (
        df.select(F.col(id_col), chunks.alias("_ch"))
        .where(F.size("_ch") > 0)
        .select(F.col(id_col), F.posexplode("_ch").alias("chunk_id", "_t"))
        .where(F.size("_t") > 0)
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size("_t").cast("long").alias("n_tokens"),
            F.array_join("_t", " ").alias("chunk_text"),
        )
    )


def mixture_report(
    df: DataFrame,
    group_col: str,
    targets: dict[str, float] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus mixture: doc and token counts, each group's
    token SHARE of the corpus, and (when a target mixture is given) the
    delta to the target — the planning view read before setting
    budget_mix budgets ("web is 12 points over target"). Groups absent
    from `targets` get a NULL target/delta. Output: (group, n_docs,
    n_tokens, token_share, target_share, delta).

    Shape: one narrow token-count map + ONE partial-aggregable groupBy,
    then the one-row corpus total joins back by broadcast (it is a
    single row by construction); targets enter as a literal CASE. No
    second data pass, nothing collects."""
    from .textops import tokens

    # NULL text = 0 tokens (size(NULL) is -1 non-ANSI; it would
    # silently subtract from every total, code-review r11)
    n_tok = F.size(
        F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    ).cast("long")
    per = df.select(F.col(group_col).alias("grp"), n_tok.alias("_t")).groupBy(
        "grp"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_t").cast("long").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").cast("long").alias("_tot"))
    share = F.col("n_tokens").cast("double") / F.col("_tot").cast("double")
    target = (
        F.create_map(*[F.lit(x) for kv in targets.items() for x in kv])[
            F.col("grp")
        ]
        if targets
        else F.lit(None).cast("double")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "n_tokens",
            share.alias("token_share"),
            target.alias("target_share"),
            (share - target).alias("delta"),
        )
    )


def pps_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "pps",
) -> DataFrame:
    """Poisson probability-proportional-to-size sample: include each row
    independently with probability min(1, k*w_i/W), giving an
    expected-size-k sample where selection odds track the weight (e.g.
    token count) — the standard size-biased corpus subsample for eval
    sets and pilot runs (Ohlsson/Rosen PPS Poisson design).

    Deterministic and EXACTLY engine-replayable, unlike the classic
    A-ES/exponential-keys scheme: no ln()/pow() (libm results differ
    across engines in the last ulp). The inclusion test is pure int64
    arithmetic: draw a 30-bit uniform u from the portable md5 hash of
    (salt, id) and keep the row iff u < (k * w * 2^30) div W, all in
    bigint floor division. Bound: k * max(w) must stay under 2^33 or
    the int64 product overflows (plenty for token-count weights; raise
    k or pre-scale w outside that envelope).

    Scale shape: ONE partial aggregate for W (a single broadcast row
    joined back), then a narrow codegen filter — no shuffle of the
    corpus, no window, no collect. Output: (id, weight, keep_threshold)
    for included rows."""
    w = F.col(weight_col).cast("long")
    tot = df.agg(F.sum(w).alias("_w_total"))
    from .dedup import md5_token_hash

    u30 = F.shiftright(
        md5_token_hash(
            F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))
        ),
        30,
    )
    thr = F.least(
        F.lit(1 << 30).cast("long"),
        F.expr(f"(cast({k} as bigint) * cast({weight_col} as bigint) "
               f"* cast({1 << 30} as bigint)) div _w_total"),
    )
    return (
        df.crossJoin(F.broadcast(tot))
        .select(
            F.col(id_col),
            w.alias("weight"),
            thr.alias("keep_threshold"),
            u30.alias("_u"),
        )
        .where(F.col("_u") < F.col("keep_threshold"))
        .drop("_u")
    )


def negative_pairs(
    query_df: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    salt: str = "neg",
) -> DataFrame:
    """Join-free negative sampling for contrastive training: assign
    each corpus doc to ONE query by portable-hash bucket (bucket = h %
    n_queries), then keep the k hash-smallest docs per bucket — k
    pseudo-random negatives per query WITHOUT the query x corpus cross
    join every naive formulation hides. Self-pairs (negative == query)
    are excluded after ranking, so k+1 candidates are drawn and
    re-ranked to keep k.

    Scale shape: the corpus sees one narrow hash map, one window
    partitioned by bucket (n_queries partitions — no global sort), and
    one broadcast join against the (small, e.g. eval-set-sized) query
    side; n_queries arrives as a broadcast one-row aggregate, never a
    collect. The query-rank window IS single-partition by construction
    — acceptable because the query side is the bounded side of the
    pattern (same posture as decontamination's eval set,
    textops.contamination_flags). Deterministic + engine-replayable:
    md5-portable hash, row_number with a full tiebreak. Output:
    (query_id, neg_id, neg_rank 1..k)."""
    from .dedup import md5_token_hash

    nq = query_df.agg(F.count(F.lit(1)).alias("_nq"))
    qr = query_df.select(F.col(id_col).alias("query_id")).withColumn(
        "_bucket",
        F.row_number().over(Window.orderBy("query_id")).cast("long") - 1,
    )
    h = md5_token_hash(
        F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))
    )
    cand = (
        corpus.select(F.col(id_col).alias("neg_id"), h.alias("_h"))
        .crossJoin(F.broadcast(nq))
        .withColumn("_bucket", F.pmod(F.col("_h"), F.col("_nq")))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("_bucket").orderBy("_h", "neg_id")
            ),
        )
        .where(F.col("_rk") <= k + 1)
    )
    return (
        cand.join(F.broadcast(qr), "_bucket")
        .where(F.col("neg_id") != F.col("query_id"))
        .withColumn(
            "neg_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("_h", "neg_id")
            ),
        )
        .where(F.col("neg_rank") <= k)
        .select(
            "query_id", "neg_id", F.col("neg_rank").cast("long").alias("neg_rank")
        )
    )


def group_split_assign(
    df: DataFrame,
    group_col: str,
    fracs: dict[str, float] | None = None,
    salt: str = "gsplit",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: hash the GROUP (source,
    domain, author), not the document, so every doc of a group lands in
    the same split — the guard against near-duplicates of one source
    straddling train and eval. Same cumulative-threshold SHAPE as
    split_assign but over the portable md5 hash of the group string
    (split_assign's Knuth hash needs an integer id); quantization
    differs deliberately in one detail (code-review r11): boundaries
    here round the CUMULATIVE fraction (round(cum * BUCKETS)) while
    split_assign sums per-split rounds — the two can disagree by one
    bucket when individual rounds and the cumulative round differ.
    Each gate's oracle replays its own function's quantization, so
    both stay bit-replayable. One narrow map; no shuffle, no join.
    Output: input columns + split."""
    from .dedup import md5_token_hash

    fracs = fracs or {"train": 0.8, "val": 0.1, "test": 0.1}
    b = F.pmod(
        md5_token_hash(F.concat_ws("|", F.lit(salt), F.col(group_col))),
        F.lit(BUCKETS),
    )
    cum = 0.0
    expr = None
    last = list(fracs)[-1]
    for name, frac in fracs.items():
        cum += frac
        thr = int(round(cum * BUCKETS))
        cond = F.lit(name)
        if name == last:
            expr = expr.otherwise(cond) if expr is not None else cond
        else:
            expr = (
                F.when(b < thr, cond)
                if expr is None
                else expr.when(b < thr, cond)
            )
    return df.withColumn("split", expr)


def shard_balance_audit(
    df: DataFrame,
    id_col: str,
    weight_col: str | None = None,
    n_shards: int = 8,
    salt: str = "shard",
) -> DataFrame:
    """Deterministic training-shard assignment + balance audit: shard =
    portable-md5(id) % n_shards (stable as the corpus grows, replayable
    by any engine with md5 — same contract as split_assign), then
    per-shard row and weight totals with exact shares. The check every
    100 TB write wants BEFORE it runs: a skewed shard is a straggler
    at every later epoch. One narrow map + one tiny groupBy.
    Output: (shard, n_rows, total_weight, row_share)."""
    from .dedup import md5_token_hash

    shard = F.pmod(
        md5_token_hash(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.lit(n_shards),
    ).cast("long")
    w = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    per = df.select(shard.alias("shard"), w.alias("_w")).groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("_w").cast("long").alias("total_weight"),
    )
    tot = per.agg(F.sum("n_rows").cast("long").alias("_t"))
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_rows",
        "total_weight",
        (F.col("n_rows").cast("double") / F.col("_t").cast("double")).alias(
            "row_share"
        ),
    )


def source_concentration(
    df: DataFrame,
    group_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """Source-concentration profile per group: is this language's
    corpus dominated by one crawl source? Reports the Herfindahl index
    (sum of squared source shares) and its inverse (the 'effective
    number of sources') instead of Shannon entropy — HHI comes from an
    exact decimal(38,0) sum of squared integer counts and ONE double
    division, so it replays bit-identically where an entropy's float
    term-sum would be accumulation-order-dependent. One (group, source)
    count shuffle + one per-group reduction. Output: (group, n_docs,
    n_sources, top_share, hhi, effective_sources)."""
    cnt = df.groupBy(group_col, source_col).agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    dec = "decimal(38,0)"
    agg = cnt.groupBy(group_col).agg(
        F.sum("_c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.max("_c").cast("long").alias("_top"),
        F.sum((F.col("_c").cast(dec) * F.col("_c").cast(dec))).alias("_ss"),
    )
    n2 = F.col("n_docs").cast("double") * F.col("n_docs").cast("double")
    hhi = F.col("_ss").cast("double") / n2
    return agg.select(
        group_col,
        "n_docs",
        "n_sources",
        (F.col("_top").cast("double") / F.col("n_docs").cast("double")).alias(
            "top_share"
        ),
        hhi.alias("hhi"),
        (F.lit(1.0) / hhi).alias("effective_sources"),
    )


def topk_with_other(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 3,
) -> DataFrame:
    """The dashboard-table rollup: per group, the top-k keys by row
    count each on their own row, and everything else collapsed into
    one '(other)' residual row — so a report stays k+1 rows per group
    no matter how many distinct keys exist (the long-tail guard every
    BI layer reimplements). One (group, key) count shuffle, one
    per-group rank window over group-cardinality rows, one residual
    re-aggregate. Ties break deterministically (count desc, key asc).
    Output: (group, key, n_rows, rnk) with rnk k+1 on the residual."""
    cnt = df.groupBy(group_col, key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("n_rows"), F.col(key_col).asc()
    )
    ranked = cnt.withColumn("rnk", F.row_number().over(w).cast("long"))
    top = ranked.where(F.col("rnk") <= k)
    other = (
        ranked.where(F.col("rnk") > k)
        .groupBy(group_col)
        .agg(F.sum("n_rows").cast("long").alias("n_rows"))
        .select(
            F.col(group_col),
            F.lit("(other)").alias(key_col),
            "n_rows",
            F.lit(k + 1).cast("long").alias("rnk"),
        )
    )
    return top.select(group_col, key_col, "n_rows", "rnk").unionByName(other)


def epoch_recipe(
    df: DataFrame,
    budget_tokens: int,
    max_epochs: float = 4.0,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget EPOCH planning (X214): given a total training
    budget and a repeat ceiling, decide how many tokens (and therefore
    how many epochs/repeats) each source contributes — the "data
    recipe" step that turns "2T tokens, nothing repeated more than 4x"
    into per-source numbers a mix loader (budget_mix) can execute.
    Scaling-laws practice caps repetition (repeating past ~4 epochs
    yields rapidly diminishing returns — Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"), so small high-quality
    sources repeat up to the cap and the remaining budget spreads over
    the bigger sources.

    Semantics are classic WATER-FILLING with per-source ceilings:
    alloc_s = min(cap_s, lam) where cap_s = max_epochs * n_tokens_s
    and the water level lam makes the allocations sum to the budget
    (every source gets an equal absolute share until its ceiling
    binds). Closed form via one ordered prefix scan — sort sources by
    cap ascending; source r (1-based, n total) is CAPPED iff
    cap_r * (n - r + 1) <= budget - prefix_cap_{r-1}, the capped set
    is a prefix of that order, and lam spreads what they left behind
    over the n - m uncapped sources. If the budget exceeds the total
    ceiling, every source caps and the shortfall is visible as
    epochs = max_epochs everywhere with sum(allocated) < budget.

    Scale shape: ONE per-source aggregate (map-side partial over the
    corpus scan), then windows over the AGGREGATED frame — n_sources
    rows (dozens), so the single-partition window exchange here is a
    few-row driver-scale sort, the same documented exception as
    mixture_report's total join; the corpus itself is touched exactly
    once. Deterministic and engine-replayable: token counts are the
    shared whitespace tokenizer, caps/levels are doubles derived from
    exact bigint sums in a fixed operation order, ties in the cap
    order break on the group value.

    Output: (group, n_tokens, cap_tokens, allocated_tokens, epochs,
    capped), one row per source, epochs <= max_epochs."""
    from .textops import tokens

    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be > 0, got {budget_tokens}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    n_tok = F.size(
        F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    ).cast("long")
    per = df.groupBy(group_col).agg(F.sum(n_tok).alias("n_tokens"))
    cap = F.col("n_tokens").cast("double") * F.lit(float(max_epochs))
    b = F.lit(float(budget_tokens))
    w_ord = Window.orderBy(F.col("cap_tokens").asc(), F.col(group_col).asc())
    w_prefix = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    ranked = (
        per.withColumn("cap_tokens", cap)
        .withColumn("_rn", F.row_number().over(w_ord).cast("long"))
        .withColumn(
            "_prefix", F.coalesce(F.sum("cap_tokens").over(w_prefix), F.lit(0.0))
        )
        .withColumn("_n", F.count(F.lit(1)).over(w_all).cast("long"))
        .withColumn(
            "capped",
            F.col("cap_tokens")
            * (F.col("_n") - F.col("_rn") + 1).cast("double")
            <= b - F.col("_prefix"),
        )
    )
    lam_stats = ranked.withColumn(
        "_capped_cap", F.when(F.col("capped"), F.col("cap_tokens")).otherwise(F.lit(0.0))
    ).withColumn(
        "_capped_n", F.when(F.col("capped"), F.lit(1)).otherwise(F.lit(0)).cast("long")
    )
    lam_stats = lam_stats.withColumn(
        "_sum_capped", F.sum("_capped_cap").over(w_all)
    ).withColumn("_m", F.sum("_capped_n").over(w_all))
    lam = F.when(
        F.col("_n") > F.col("_m"),
        (b - F.col("_sum_capped"))
        / (F.col("_n") - F.col("_m")).cast("double"),
    ).otherwise(F.lit(None).cast("double"))
    alloc = F.when(F.col("capped"), F.col("cap_tokens")).otherwise(lam)
    return (
        lam_stats.withColumn("allocated_tokens", alloc)
        .withColumn(
            "epochs",
            F.when(
                F.col("n_tokens") > 0,
                F.col("allocated_tokens") / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .select(
            group_col, "n_tokens", "cap_tokens",
            "allocated_tokens", "epochs", "capped",
        )
    )


def packing_efficiency(
    df: DataFrame,
    ctx_lens: tuple[int, ...] = (64, 128, 256, 512),
    text_col: str = "text",
) -> DataFrame:
    """Context-length PLANNING sweep (X216): for each candidate context
    length, the cost of doc-aligned packing (every document chunked to
    ctx_len pieces, final partial chunk padded — chunk_documents'
    semantics) against the cross-doc lower bound (ceil(total/ctx), what
    pack_sequences approaches): chunk count, padding tokens, padding
    fraction, and the overhead multiple vs the bound. truncation_loss
    answers "what does a HARD CUT at L lose"; this answers "what does
    PADDING at L cost" — together they are the two numbers a pretrain
    config reads before fixing seq_len, and a pad_frac cliff between
    rows tells you which context length your length distribution
    actually fits.

    ONE corpus scan (per-doc token counts, map-side partial agg into
    one row of sums — sum(ceil(t/L)) computed per L in the same agg),
    then a |ctx_lens|-literal stack on the single aggregate row. Exact
    bigint arithmetic end to end; two double divisions per output row.
    Output: (ctx_len, n_docs, total_tokens, doc_chunks, min_sequences,
    pad_tokens, pad_frac, overhead), one row per candidate length."""
    from .textops import tokens

    if not ctx_lens or any(int(c) <= 0 for c in ctx_lens):
        raise ValueError(f"ctx_lens must be positive, got {ctx_lens!r}")
    lens = [int(c) for c in ctx_lens]
    t = F.size(
        F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    ).cast("long")
    # coalesce: an EMPTY corpus aggregates to NULL sums, which would
    # ripple NULL through every stacked row — zeros are the honest
    # answer (identical output for any non-empty corpus)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(t), F.lit(0)).cast("long").alias("total"),
    ]
    for c in lens:
        # ceil(t/c) for t>0 == floor((t + c - 1) / c); 0-token docs
        # contribute no chunk
        aggs.append(
            F.coalesce(
                F.sum(F.floor((t + F.lit(c - 1)) / F.lit(c))), F.lit(0)
            ).cast("long").alias(f"_ch{c}")
        )
    one = df.agg(*aggs)
    rows = ", ".join(
        f"cast({c} as bigint), n_docs, total, _ch{c},"
        # cross-doc lower bound: ceil(total / c), exact bigints
        f" cast(floor((total + {c - 1}) / {c}) as bigint),"
        f" _ch{c} * {c} - total,"
        f" cast(_ch{c} * {c} - total as double)"
        f" / cast(greatest(_ch{c} * {c}, 1) as double),"
        f" cast(_ch{c} as double)"
        f" / cast(greatest(floor((total + {c - 1}) / {c}), 1) as double)"
        for c in lens
    )
    return one.select(
        F.expr(
            f"stack({len(lens)}, {rows}) as (ctx_len, n_docs, total_tokens,"
            " doc_chunks, min_sequences, pad_tokens, pad_frac, overhead)"
        )
    )


def recipe_mix(
    df: DataFrame,
    budget_tokens: int,
    max_epochs: float = 4.0,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "knuth",
    salt: str = "mix",
) -> DataFrame:
    """Recipe EXECUTION (X218, VERDICT r13 #5): close the loop SURVEY's
    X214 row promises — epoch_recipe's water-filling allocation feeds
    budget_mix the per-source budgets it executes, end-to-end in one
    call. The planner decides "this source contributes N tokens", the
    mixer admits that source's documents in deterministic Knuth-hash
    order until N is spent; what comes back is the materialized first
    epoch of the training mix.

    Composition semantics: budgets are floor(allocated_tokens) (the
    mixer's contract is integer budgets; flooring never over-admits).
    A source whose allocation exceeds one epoch (epochs > 1 — the
    repeat ceiling let it recycle) admits ALL its documents here;
    the repeats themselves are a loader-time concern, visible as
    cum_tokens < budget on the source's last admitted doc. Sources
    allocated less than one epoch cut mid-stream exactly where the
    running total crosses the allocation.

    Scale shape: TWO corpus scans, inherently — the allocation must be
    known before admission can start (plan aggregate, then mix window);
    the handoff between them is an n_sources-row collect (dozens —
    the same bounded-by-construction exception as epoch_recipe's own
    window). Deterministic end-to-end: every stage is hash-ordered /
    exact-arithmetic, so the admitted set is reproducible across
    engines and cluster sizes."""
    import math

    recipe = epoch_recipe(
        df, budget_tokens, max_epochs, group_col=group_col, text_col=text_col
    )
    # n_sources rows — bounded collect by construction
    rows = recipe.select(group_col, "allocated_tokens").collect()
    budgets = {
        r[group_col]: int(math.floor(r["allocated_tokens"]))
        for r in rows
        if r["allocated_tokens"] is not None and r["allocated_tokens"] > 0
    }
    if not budgets:
        raise ValueError("epoch_recipe allocated no tokens to any source")
    return budget_mix(
        df, group_col, budgets, id_col, text_col, method=method, salt=salt
    )


def domain_reweight(
    df: DataFrame,
    loss_col: str,
    group_col: str = "source",
    eta: float = 0.5,
    priors: dict[str, float] | None = None,
) -> DataFrame:
    """Multiplicative-weights domain reweighting (X220) — the
    DoReMi-shaped step that turns per-domain difficulty into an
    updated mixture: domains with higher mean loss (harder, more
    informative for training) get their mixture weight multiplied up,
    easier domains drift down, and the result renormalizes to a
    distribution budget_mix / epoch_recipe can execute. One round of
    the classic MWU update with the LINEAR rule
        w'_i  propto  prior_i * (1 + eta * z_i)
    where z_i is the domain's mean loss min-max normalized to [0, 1]
    across domains. The textbook exponentiated form exp(eta * z) is
    deliberately NOT used in the gate arithmetic: JVM Math.exp and
    DuckDB libm disagree by 1 ulp (the q189 entropy lesson, VERDICT
    r7 #2), while (1 + eta*z) is the standard small-eta MWU variant
    (exp's first-order expansion) and is fully rational — the update
    replays bit-identically cross-engine.

    Exactness: per-domain loss sums accumulate as decimal(38,12)
    (order-insensitive), mean/normalize/update are double ops in a
    fixed order, and the normalizer re-accumulates the raw weights
    through the same decimal cast. Cross-domain stats ride one-row
    broadcast crossJoins (the chisq_independence pattern) — never a
    data-sized single partition. NULL losses are excluded from the
    mean (visible via n_docs); a domain with no non-NULL loss drops.
    `priors` defaults to uniform over the surviving domains; passed
    priors enter as a literal CASE map (no join) and domains missing
    from it are dropped, mirroring budget_mix's contract.

    Scale shape: ONE corpus scan into a partial-agg groupBy(domain) —
    the domains-sized result is PINNED (_pin) because four
    downstream consumers (the prior count, the min/max range, the
    normalizer and the final projection) each re-derive it; unpinned,
    the physical plan read the corpus EIGHT times (plan-audited, the
    q219 lesson). Everything after the pin is domains-sized.
    Output: (group, n_docs, mean_loss, prior_w, weight), weights
    summing to 1."""
    if eta < 0:
        raise ValueError(f"eta must be >= 0, got {eta}")
    d = df.where(F.col(loss_col).isNotNull())
    per = d.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col(loss_col).cast("decimal(38,12)")).alias("_ls"),
    )
    per = _pin(
        per.withColumn(
            "mean_loss",
            F.col("_ls").cast("double") / F.col("n_docs").cast("double"),
        )
    )
    if priors is not None:
        pw = F.create_map(
            *[F.lit(x) for kv in priors.items() for x in (kv[0], float(kv[1]))]
        )[F.col("grp")]
        per = per.withColumn("prior_w", pw).where(F.col("prior_w").isNotNull())
    else:
        n_g = per.agg(F.count(F.lit(1)).cast("long").alias("_ng"))
        per = per.crossJoin(F.broadcast(n_g)).withColumn(
            "prior_w", F.lit(1.0) / F.col("_ng").cast("double")
        )
    rng = per.agg(
        F.min("mean_loss").alias("_lo"), F.max("mean_loss").alias("_hi")
    )
    z = F.when(
        F.col("_hi") > F.col("_lo"),
        (F.col("mean_loss") - F.col("_lo")) / (F.col("_hi") - F.col("_lo")),
    ).otherwise(F.lit(0.0))
    raw = F.col("prior_w") * (F.lit(1.0) + F.lit(float(eta)) * z)
    scored = per.crossJoin(F.broadcast(rng)).withColumn("_raw", raw)
    tot = scored.agg(
        F.sum(F.col("_raw").cast("decimal(38,12)")).alias("_tot")
    )
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "mean_loss",
            "prior_w",
            (F.col("_raw") / F.col("_tot").cast("double")).alias("weight"),
        )
    )


def shuffle_order(
    df: DataFrame,
    id_col: str = "doc_id",
    method: str = "knuth",
    salt: str = "shuffle",
    n_parts: int = 64,
) -> DataFrame:
    """Deterministic global TRAINING ORDER (X222): a dense 1-based rank
    over (hash_bucket(id), id) — the reproducible shuffle every
    training run needs (epoch order must not depend on file layout,
    partition count, or engine, or a rerun trains on a different
    curriculum). The order of a given id never changes as the corpus
    grows within a bucket-stable id space, and two engines replay it
    bit-identically.

    method='knuth' orders by the shared multiplicative-hash bucket
    (split_assign's recipe, BUCKETS-coarse: ids within one of the
    10,000 buckets stay in id order — fine dispersion for epoch
    mixing, and fully oracle-replayable). method='xxhash64' orders by
    the full 64-bit salted hash (essentially tie-free dispersion; not
    DuckDB-replayable, the production default for real runs — the
    same gate-vs-production split as split_assign).

    Scale shape: global_rank's two-phase machinery — one range shuffle
    + per-partition sorts + an n_parts-row offset window; NEVER a
    single-partition global sort. Output: (id, rank)."""
    from .features import global_rank

    if method == "xxhash64":
        key = F.xxhash64(F.lit(salt), F.col(id_col))
    elif method == "knuth":
        key = _bucket(id_col, "knuth", salt)
    else:
        raise ValueError(f"unknown hash method {method!r}")
    return global_rank(
        df.select(F.col(id_col), key.alias("_k")),
        ["_k", id_col],
        "rank",
        n_parts=n_parts,
    ).select(id_col, "rank")


def length_bucket_packing(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batching audit (X223): the padding price of
    batching docs by power-of-two token-length buckets (bucket =
    bit_length(n_tokens), i.e. docs of 2^k..2^(k+1)-1 tokens batch
    together, each batch padded to the bucket's observed max) versus
    naive global batching (everything padded to the corpus max) — the
    planner's number for dynamic batching: pad_global - pad_bucket is
    exactly the compute the bucketing recovers. Complements
    packing_efficiency (X216), which prices CONCATENATIVE packing at a
    fixed context length; this prices PADDED batching at the corpus's
    own length distribution.

    Exact and replayable: the bucket index is length(conv(n, 10, 2)) —
    the binary-string width, pure integer/string ops on both engines
    (floor(log2(n)) would ride libm and can land on the wrong side of
    a power of two); counts/sums/maxes are bigints; the two pad
    fractions are single divisions of exact ints. Tokenless docs (0
    tokens, incl. NULL text) land in bucket 0 and cost nothing.

    Scale shape: one narrow token-count map + ONE partial-agg groupBy
    (<= 64 bucket rows, PINNED — the corpus-max aggregate and the
    final projection both consume it; unpinned the plan read the
    corpus twice, the q219/q224 lesson) + a one-row broadcast corpus
    max. Output per bucket: (bucket_bits, n_docs, total_tokens,
    max_len, pad_bucket, pad_global, pad_frac_bucket).

    Split as STATE (length_bucket_state: count/sum/max per bucket —
    commutative-mergeable) + FINISHER (length_bucket_finish over the
    <=64-row table), the diversity/HLL pattern, so the streaming twin
    (ext/stream.length_bucket_stream) maintains the same state and
    reads the same finisher."""
    return length_bucket_finish(_pin(length_bucket_state(df, text_col)))


def length_bucket_state(df: DataFrame, text_col: str = "text") -> DataFrame:
    """length_bucket_packing's mergeable state: (bucket_bits, n_docs,
    total_tokens, max_len) — count/sum/max are commutative-mergeable,
    so this same expression runs unchanged over a stream in complete
    mode (no watermark); state is <= 64 rows BY CONSTRUCTION (one per
    occupied power-of-two length bucket)."""
    from .textops import tokens

    n_tok = F.size(
        F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    ).cast("long")
    bits = F.when(n_tok > 0, F.length(F.conv(n_tok, 10, 2))).otherwise(
        F.lit(0)
    ).cast("long")
    return (
        df.select(bits.alias("bucket_bits"), n_tok.alias("_n"))
        .groupBy("bucket_bits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n").cast("long").alias("total_tokens"),
            F.max("_n").cast("long").alias("max_len"),
        )
    )


def length_bucket_finish(per: DataFrame) -> DataFrame:
    """Shared finisher over the tiny (bucket_bits, n_docs,
    total_tokens, max_len) state table — both pad accountings and the
    bucket pad fraction. Costs the same at any corpus size."""
    gmax = per.agg(F.max("max_len").alias("_gmax"))
    pad_b = F.col("n_docs") * F.col("max_len") - F.col("total_tokens")
    pad_g = F.col("n_docs") * F.col("_gmax") - F.col("total_tokens")
    return (
        per.crossJoin(F.broadcast(gmax))
        .select(
            "bucket_bits",
            "n_docs",
            "total_tokens",
            "max_len",
            pad_b.alias("pad_bucket"),
            pad_g.alias("pad_global"),
            F.when(
                F.col("n_docs") * F.col("max_len") > 0,
                pad_b.cast("double")
                / (F.col("n_docs") * F.col("max_len")).cast("double"),
            ).otherwise(F.lit(0.0)).alias("pad_frac_bucket"),
        )
    )


def curriculum_stages(
    df: DataFrame,
    signal_col: str,
    id_col: str = "doc_id",
    n_stages: int = 4,
    n_parts: int = 64,
) -> DataFrame:
    """Global curriculum staging (X224): assign every doc its stage in
    an easy-to-hard training schedule — stage s = the s-th global
    n-tile of the difficulty signal's total order (signal asc, id
    tiebreak; hard-first needs a pre-derived negated column). Exact SQL ntile
    semantics, reproduced arithmetically: with n rows and k stages,
    the first n % k stages hold floor(n/k)+1 rows and the rest
    floor(n/k) — so the output is bit-identical to `ntile(k) over
    (order by signal, id)` while the PLAN never sorts the corpus in
    one task: global_rank's two-phase range/offset machinery produces
    the rank, a one-row broadcast count finishes the stage arithmetic
    in pure bigints (ceil(a/b) as (a+b-1) div b).

    NULL signals are excluded (difficulty undefined — visible as
    missing ids, the signal_auc convention); NULL ids sort LAST within
    a signal value (asc_nulls_last — Spark's default NULLS FIRST would
    silently diverge from SQL engines' NULLS LAST, code-review r14).
    For hard-first, pass a pre-derived negated column — a column NAME
    cannot encode descending order. Output: (id, signal, rank, stage),
    1-based; a loader trains stage 1 first."""
    from .features import global_rank, ntile_from_rank

    if n_stages < 1:
        raise ValueError(f"n_stages must be >= 1, got {n_stages}")
    reserved = {"rank", "stage", "_n", "_pid", "_lrank", "_off", "_cnt"}
    for c in (signal_col, id_col):
        if c in reserved:
            raise ValueError(
                f"column name {c!r} collides with curriculum_stages "
                f"internals ({sorted(reserved)}); rename it first"
            )
    # with_total rides global_rank's broadcast counter table — no
    # second pass over the ranked frame just to count it (code-review
    # r14); the stage rule is the SHARED exact ntile_from_rank (X99),
    # not a private re-implementation
    ranked = global_rank(
        df.select(F.col(id_col), F.col(signal_col)).where(
            F.col(signal_col).isNotNull()
        ),
        [F.col(signal_col).asc(), F.col(id_col).asc_nulls_last()],
        "rank",
        n_parts=n_parts,
        with_total="_n",
    )
    stage = ntile_from_rank(F.col("rank"), F.col("_n"), int(n_stages))
    return ranked.select(
        id_col, signal_col, "rank", stage.alias("stage")
    )


def curriculum_order(
    df: DataFrame,
    signal_col: str,
    id_col: str = "doc_id",
    n_stages: int = 4,
    method: str = "knuth",
    salt: str = "shuffle",
    n_parts: int = 64,
) -> DataFrame:
    """The composed curriculum LOADER ARTIFACT (X227, VERDICT r14 #5 —
    X224 assigns stages and X222 orders docs, but a training loader
    consumes ONE table): every doc's global training position,
    stage-major (all of stage 1 before any of stage 2) and
    hash-dispersed within each stage, plus the doc's 1-based rank
    within its stage. The same "SURVEY row promises the composition,
    prove it end-to-end" standard recipe_mix (X218) set for the recipe
    loop.

    Rides exactly the machinery its parts already own: stage = the
    X224 rule (two-phase global_rank over (signal asc, id) + exact
    ntile_from_rank); position = the X222 rule applied stage-major
    (ONE more two-phase global_rank over (stage, hash_bucket(id), id),
    the only shuffle q225 itself costs — never a single-partition sort
    and never a per-stage window, which would sort corpus/k rows in
    ONE task per stage). stage_rank needs NO third pass: stage sizes
    are fully determined by (n, k) — stage s starts at offset
    (s-1)*floor(n/k) + min(s-1, n % k), pure bigint arithmetic off the
    same broadcast total the stage rule already carries (exact_div,
    the remainder-subtracted decimal division).

    NULL signals are excluded and NULL ids sort last, the X224
    conventions; method/salt follow shuffle_order (knuth =
    oracle-replayable bucket order, xxhash64 = production dispersion).
    Output: (id, signal, stage, position, stage_rank), position
    1..n_kept dense."""
    from .features import exact_div, global_rank, ntile_from_rank

    if n_stages < 1:
        raise ValueError(f"n_stages must be >= 1, got {n_stages}")
    reserved = {"rank", "stage", "position", "stage_rank",
                "_n", "_k", "_pid", "_lrank", "_off", "_cnt"}
    for c in (signal_col, id_col):
        if c in reserved:
            raise ValueError(
                f"column name {c!r} collides with curriculum_order "
                f"internals ({sorted(reserved)}); rename it first"
            )
    if method == "xxhash64":
        key = F.xxhash64(F.lit(salt), F.col(id_col))
    elif method == "knuth":
        key = _bucket(id_col, method, salt)
    else:
        raise ValueError(f"unknown hash method {method!r}")
    staged = global_rank(
        df.select(F.col(id_col), F.col(signal_col)).where(
            F.col(signal_col).isNotNull()
        ),
        [F.col(signal_col).asc(), F.col(id_col).asc_nulls_last()],
        "rank",
        n_parts=n_parts,
        with_total="_n",
    ).select(
        id_col,
        signal_col,
        "_n",
        ntile_from_rank(F.col("rank"), F.col("_n"), int(n_stages)).alias(
            "stage"
        ),
    )
    ordered = global_rank(
        staged.select(id_col, signal_col, "_n", "stage", key.alias("_k")),
        ["stage", "_k", id_col],
        "position",
        n_parts=n_parts,
    )
    dec = "decimal(38,0)"
    nd = F.col("_n").cast(dec)
    q = exact_div(nd, F.lit(int(n_stages)).cast(dec))
    r0 = (F.col("_n") - F.lit(int(n_stages)) * q).cast("long")
    prev = (F.col("stage") - F.lit(1)).cast("long")
    offset = prev * q + F.least(prev, r0)
    return ordered.select(
        id_col,
        signal_col,
        "stage",
        "position",
        (F.col("position") - offset).alias("stage_rank"),
    )
