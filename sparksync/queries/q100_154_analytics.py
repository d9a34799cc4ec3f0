"""Analytics/audit band: edit-distance joins, RFM, embedding health, drift, profiling, layout pricing.

Verbatim slice of the pre-split sparksync/queries.py (band q100-q154).
"""

from __future__ import annotations

from ._base import *  # noqa: F401,F403 — shared fixture/session surface
from ._base import _dec, _register_views  # noqa: F401

from .q018_049_llm_ext import ORACLE_Q49  # noqa: F401


def q100_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type equi-width histogram of values
    (ext/features.histogram_by_group): exact min/max edges, narrow
    codegen binning, bit-replayable per-row double arithmetic."""
    from ..ext import features

    return features.histogram_by_group(
        load(spark, sf_dir, "events"), "event_type", "value", nbins=10
    )


ORACLE_Q100 = """
with mm as (
  select event_type, min(cast(value as double)) as lo,
         max(cast(value as double)) as hi
  from events where value is not null group by event_type),
b as (
  select e.event_type,
         case when mm.hi = mm.lo then cast(0 as bigint)
              else least(cast(9 as bigint),
                         cast(floor((cast(e.value as double) - mm.lo) * 10
                                    / (mm.hi - mm.lo)) as bigint))
         end as bin,
         mm.lo, mm.hi
  from events e join mm using (event_type)
  where e.value is not null)
select event_type, bin,
       lo + bin * ((hi - lo) / 10) as bin_lo,
       lo + (bin + 1) * ((hi - lo) / 10) as bin_hi,
       count(*) as cnt
from b group by event_type, bin, lo, hi
"""


def q101_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history (compare.scd2_history): every event becomes a
    per-user version interval [valid_from, valid_to) with is_current —
    the warehouse complement of q80's latest-state merge_cdc."""
    from ..compare import scd2_history

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    return scd2_history(ev, ["user_id"], "ts", "event_id").select(
        "user_id", "event_id", "event_type", "valid_from", "valid_to",
        "is_current",
    )


ORACLE_Q101 = """
select user_id, event_id, event_type,
       ts as valid_from,
       lead(ts) over w as valid_to,
       lead(ts) over w is null as is_current
from events
window w as (partition by user_id order by ts, event_id)
"""


def q102_equidepth_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth deciles of event values per type
    (ext/features.equidepth_buckets): ntile with a full tiebreak, so
    the bucket edges replay across engines."""
    from ..ext import features

    return features.equidepth_buckets(
        load(spark, sf_dir, "events"), "event_type", "value", "event_id"
    )


ORACLE_Q102 = """
with b as (
  select event_type,
         cast(ntile(10) over (partition by event_type
                              order by cast(value as double), event_id)
              as bigint) as bucket,
         cast(value as double) as v
  from events where value is not null)
select event_type, bucket, cast(count(*) as bigint) as cnt,
       min(v) as lo, max(v) as hi
from b group by event_type, bucket
"""


def q103_exact_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Pearson correlation of quantity vs price
    (ext/features.exact_corr): decimal-exact accumulators, double math
    only in the final one-row-per-group formula — the hash-comparable
    answer to builtin corr()."""
    from ..ext import features

    return features.exact_corr(
        load(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
    )


ORACLE_Q103 = """
with agg as (
  select l_returnflag, cast(count(*) as bigint) as n,
         sum(cast(l_quantity as decimal(12,2))) as sx,
         sum(cast(l_extendedprice as decimal(12,2))) as sy,
         sum(cast(l_quantity as decimal(12,2))
             * cast(l_quantity as decimal(12,2))) as sxx,
         sum(cast(l_extendedprice as decimal(12,2))
             * cast(l_extendedprice as decimal(12,2))) as syy,
         sum(cast(l_quantity as decimal(12,2))
             * cast(l_extendedprice as decimal(12,2))) as sxy
  from lineitem
  where l_quantity is not null and l_extendedprice is not null
  group by l_returnflag),
scaled as (
  select l_returnflag, n,
         cast(cast(sx * 100 as bigint) as double) as sx,
         cast(cast(sy * 100 as bigint) as double) as sy,
         cast(cast(sxx * 10000 as bigint) as double) as sxx,
         cast(cast(syy * 10000 as bigint) as double) as syy,
         cast(cast(sxy * 10000 as bigint) as double) as sxy
  from agg)
select l_returnflag, n,
       (cast(n as double) * sxy - sx * sy)
       / sqrt((cast(n as double) * sxx - sx * sx)
              * (cast(n as double) * syy - sy * sy)) as corr
from scaled
"""


def q104_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split assignment (ext/sampling.group_split_assign):
    the SOURCE is hashed, not the doc, so a source's near-duplicates
    can never straddle train and eval."""
    return sampling.group_split_assign(
        load(spark, sf_dir, "documents"), "source"
    ).select("doc_id", "source", "split")


ORACLE_Q104 = """
select doc_id, source,
       case when h % 10000 < 8000 then 'train'
            when h % 10000 < 9000 then 'val'
            else 'test' end as split
from (
  select doc_id, source,
         cast(cast('0x' || substring(md5('gsplit|' || source), 1, 15)
                   as ubigint) as bigint) as h
  from documents)
"""


def q105_star_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema OLAP rollup: revenue by region -> nation -> ship
    year with subtotals, over a broadcast dimension chain (lineitem x
    supplier x nation x region). The fact table shuffles ONCE (into
    the rollup agg); every dimension hop is a broadcast hash join —
    the canonical warehouse plan at any scale."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - _dec("l_discount")
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("year"),
            rev.alias("_rev"),
        )
        .rollup("region", "nation", "year")
        .agg(
            F.sum("_rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


ORACLE_Q105 = """
select r.r_name as region, n.n_name as nation, year(l.l_shipdate) as year,
       cast(sum(cast(l.l_extendedprice as decimal(12,2))
                * (cast(1 as decimal(12,2))
                   - cast(l.l_discount as decimal(12,2)))) as double)
         as revenue,
       count(*) as cnt
from lineitem l
join supplier s on l.l_suppkey = s.s_suppkey
join nation n on s.s_nationkey = n.n_nationkey
join region r on n.n_regionkey = r.r_regionkey
group by rollup (region, nation, year)
"""


def q106_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based score normalization (ext/features.rank_normalize):
    percent_rank of n_chars within source — heterogeneous quality
    scores made comparable before blending."""
    from ..ext import features

    return features.rank_normalize(
        load(spark, sf_dir, "documents"), "source", "n_chars", "doc_id"
    ).select("doc_id", "source", "n_chars", "pct_rank")


ORACLE_Q106 = """
select doc_id, source, n_chars,
       percent_rank() over (partition by source
                            order by cast(n_chars as double), doc_id)
         as pct_rank
from documents
"""


def q107_rolling_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly flags (ext/asof.rolling_deviation):
    events whose value jumps > 2x away from their user's previous-5
    mean — decimal-exact trailing sums, replayable flag test."""
    from ..ext import asof

    return asof.rolling_deviation(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_id", "value"
    )


ORACLE_Q107 = """
with b as (
  select user_id, event_id, ts, cast(value as double) as value,
         cast(sum(cast(value as decimal(12,2))) over w as double)
           / cast(count(value) over w as double) as trail_mean,
         cast(count(value) over w as bigint) as n_prior
  from events where value is not null
  window w as (partition by user_id order by ts, event_id
               rows between 5 preceding and 1 preceding))
select * from b
where n_prior = 5
  and abs(value - trail_mean) > 2.0 * greatest(abs(trail_mean), 1.0)
"""


def q108_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-algebra overlap (ext/skew.kmv_overlap): estimated
    intersection/union/Jaccard of click-users vs purchase-users from
    merged KMV sketches (k=64 so the ESTIMATOR path, not the exact
    small-set path, is what the oracle replays)."""
    from ..ext import skew

    ev = load(spark, sf_dir, "events")
    return skew.kmv_overlap(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        "user_id",
        k=64,
    )


ORACLE_Q108 = """
with ah as (
  select distinct cast(cast('0x' || substring(md5(cast(user_id as varchar)),
                                              1, 15) as ubigint) as bigint) as h
  from events where event_type = 'click' and user_id is not null),
ka as (select h from ah order by h limit 64),
bh as (
  select distinct cast(cast('0x' || substring(md5(cast(user_id as varchar)),
                                              1, 15) as ubigint) as bigint) as h
  from events where event_type = 'purchase' and user_id is not null),
kb as (select h from bh order by h limit 64),
u0 as (
  select h, max(in_a) as in_a, max(in_b) as in_b from (
    select h, 1 as in_a, 0 as in_b from ka
    union all
    select h, 0 as in_a, 1 as in_b from kb) t
  group by h),
u as (select * from u0 order by h limit 64),
sa as (select cast(count(*) as bigint) as na, max(h) as hka from ka),
sb as (select cast(count(*) as bigint) as nb, max(h) as hkb from kb),
su as (select cast(count(*) as bigint) as nu, max(h) as hku,
              cast(sum(case when in_a = 1 and in_b = 1 then 1 else 0 end)
                   as bigint) as nboth
       from u),
est as (
  select
    case when na < 64 then na
         else cast(floor(cast(63 as double) *
                         cast(1152921504606846976 as double)
                         / cast(hka as double)) as bigint) end as n_a_est,
    case when nb < 64 then nb
         else cast(floor(cast(63 as double) *
                         cast(1152921504606846976 as double)
                         / cast(hkb as double)) as bigint) end as n_b_est,
    case when nu < 64 then nu
         else cast(floor(cast(63 as double) *
                         cast(1152921504606846976 as double)
                         / cast(hku as double)) as bigint) end as union_est,
    cast(nboth as double) / cast(nu as double) as jaccard_est
  from su, sa, sb)
select n_a_est, n_b_est, union_est,
       cast(floor(jaccard_est * cast(union_est as double)) as bigint)
         as intersection_est,
       jaccard_est
from est
"""


def q109_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: average event value by (event_type,
    day-of-week, hour) — the heatmap behind load forecasting and
    anomaly baselines. One partial-aggregated groupBy over narrow
    derived keys; the average divides a decimal-exact sum by an exact
    count (one portable division, q15 discipline)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.dayofweek("ts").cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(_dec("value")).alias("_s"),
        )
        .select(
            "event_type",
            "dow",
            "hour",
            "cnt",
            (F.col("_s").cast("double") / F.col("cnt").cast("double")).alias(
                "avg_value"
            ),
        )
    )


ORACLE_Q109 = """
select event_type,
       cast(dayofweek(ts) + 1 as bigint) as dow,
       cast(hour(ts) as bigint) as hour,
       cast(count(*) as bigint) as cnt,
       cast(sum(cast(value as decimal(12,2))) as double)
         / cast(count(*) as double) as avg_value
from events where value is not null
group by 1, 2, 3
"""


def q110_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort value matrix (the LTV complement of q89's retention
    counts): users bucketed by first-seen day, their purchase value
    summed per later day offset. Same shape discipline as retention —
    one per-user min (partial agg), one co-keyed join, sums in
    decimal."""
    ev = load(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    purchases = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("user_id", F.to_date("ts").alias("d"), _dec("value").alias("v"))
    return (
        purchases.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).cast("long").alias(
                "day_offset"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("v").cast("double").alias("total_value"),
        )
    )


ORACLE_Q110 = """
with first as (
  select user_id, min(cast(ts as date)) as cohort_day
  from events group by user_id),
p as (
  select user_id, cast(ts as date) as d, cast(value as decimal(12,2)) as v
  from events where event_type = 'purchase' and value is not null)
select f.cohort_day,
       cast(date_diff('day', f.cohort_day, p.d) as bigint) as day_offset,
       cast(count(*) as bigint) as n_purchases,
       cast(sum(p.v) as double) as total_value
from p join first f using (user_id)
group by 1, 2
"""


def q111_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (ext/features.rfm_segments): global
    recency/frequency/monetary quintiles WITHOUT a global NTILE sort —
    two-phase range-partitioned rank + exact NTILE arithmetic."""
    from ..ext import features

    return features.rfm_segments(
        load(spark, sf_dir, "orders"), "o_custkey", "o_orderdate", "o_totalprice"
    )


ORACLE_Q111 = """
with base as (
  select o_custkey,
         cast(date_diff('day', max(o_orderdate),
                        (select max(o_orderdate) from orders)) as bigint)
           as recency_days,
         cast(count(*) as bigint) as frequency,
         sum(cast(o_totalprice as decimal(12,2))) as mon
  from orders group by o_custkey),
t as (
  select o_custkey, recency_days, frequency, cast(mon as double) as monetary,
         cast(ntile(5) over (order by recency_days, o_custkey) as bigint)
           as r_tile,
         cast(ntile(5) over (order by frequency desc, o_custkey) as bigint)
           as f_tile,
         cast(ntile(5) over (order by mon desc, o_custkey) as bigint)
           as m_tile
  from base)
select *, format('{}{}{}', r_tile, f_tile, m_tile) as segment from t
"""


def q112_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (ext/asof.last_touch): each purchase
    credited to the user's most recent preceding non-purchase event."""
    return asof.last_touch(
        load(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "purchase",
    )


ORACLE_Q112 = """
with a as (
  select user_id, event_id, ts, event_type,
         last_value(case when event_type <> 'purchase' then event_type end
                    ignore nulls)
           over (partition by user_id order by ts, event_id
                 rows between unbounded preceding and 1 preceding) as lt
  from events)
select user_id, event_id, ts, coalesce(lt, '(none)') as attributed
from a where event_type = 'purchase'
"""


def q113_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand co-occurrence with lift (ext/features.cooccurrence_lift)
    over order baskets: lineitem x part (broadcast dim), distinct
    (order, brand), co-partitioned self-join bounded by basket size."""
    from ..ext import features

    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    baskets = li.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        li.l_partkey == p.p_partkey,
    ).select("l_orderkey", "p_brand")
    return features.cooccurrence_lift(baskets, "l_orderkey", "p_brand")


ORACLE_Q113 = """
with items as (
  select distinct l_orderkey, p_brand
  from lineitem join part on l_partkey = p_partkey),
ng as (select count(distinct l_orderkey) as n from items),
marg as (select p_brand, count(*) as cnt from items group by 1),
pairs as (
  select a.p_brand as item_a, b.p_brand as item_b,
         cast(count(*) as bigint) as pair_cnt
  from items a join items b using (l_orderkey)
  where a.p_brand < b.p_brand
  group by 1, 2
  having count(*) >= 2)
select item_a, item_b, pair_cnt,
       (cast(pair_cnt as double) * cast(ng.n as double))
         / (cast(ca.cnt as double) * cast(cb.cnt as double)) as lift
from pairs
join marg ca on ca.p_brand = pairs.item_a
join marg cb on cb.p_brand = pairs.item_b
cross join ng
"""


def q114_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session paths (ext/asof.session_paths): 30-min gap
    sessions rendered as ordered event-type strings, counted,
    distributed top-k (TakeOrderedAndProject)."""
    return asof.session_paths(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_id", "event_type"
    )


ORACLE_Q114 = """
with g as (
  select user_id, ts, event_id, event_type,
         case when lag(ts) over w is null
                   or (epoch_us(ts) - epoch_us(lag(ts) over w)) > 1800000000
              then 1 else 0 end as brk
  from events window w as (partition by user_id order by ts, event_id)),
s as (
  select user_id, ts, event_id, event_type,
         sum(brk) over (partition by user_id order by ts, event_id
                        rows between unbounded preceding and current row)
           as session_id
  from g),
p as (
  select user_id, session_id,
         string_agg(event_type, '>' order by ts, event_id) as path
  from s group by 1, 2)
select path, cast(count(*) as bigint) as n_sessions
from p group by path
order by n_sessions desc, path limit 20
"""


def q115_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (ext/textops.vocab_coverage): corpus
    token share covered by the top-{10,100,1000} tokens — two-phase
    global vocab rank, one conditional aggregate per k."""
    return textops.vocab_coverage(load(spark, sf_dir, "documents"))


ORACLE_Q115 = """
with t as (
  select unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           as tok
  from documents),
c as (select tok, count(*) as cnt from t group by 1),
r as (select cnt, row_number() over (order by cnt desc, tok) as rnk from c),
tot as (select cast(count(*) as bigint) as vocab_size,
               cast(sum(cnt) as bigint) as total_tokens from c)
select cast(k as bigint) as k, vocab_size,
       cast(sum(case when rnk <= k then cnt end) as bigint) as covered_tokens,
       total_tokens,
       cast(sum(case when rnk <= k then cnt end) as double)
         / cast(total_tokens as double) as coverage
from r cross join tot cross join (select unnest([10, 100, 1000]) as k) ks
group by k, vocab_size, total_tokens
"""


def q116_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/size Pareto frontier over parts (ext/features
    .pareto_front_2d): two-phase skyline — hash-bucketed local pass,
    exact rule over survivors only."""
    from ..ext import features

    return features.pareto_front_2d(
        load(spark, sf_dir, "part"), "p_retailprice", "p_size"
    )


ORACLE_Q116 = """
with pts as (
  select distinct cast(p_retailprice as double) as p_retailprice,
                  cast(p_size as double) as p_size
  from part
  where p_retailprice is not null and p_size is not null)
select p_retailprice, p_size from pts p
where not exists (
  select 1 from pts q
  where q.p_retailprice <= p.p_retailprice and q.p_size <= p.p_size
    and (q.p_retailprice < p.p_retailprice or q.p_size < p.p_size))
"""


def q117_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration over the embeddings (ext/similarity
    .kmeans_step): broadcast-centroid argmax assignment + quantized
    integer mean update, bit-replayable in SQL."""
    return similarity.kmeans_step(load(spark, sf_dir, "embeddings"))


ORACLE_Q117 = """
with c as (select vec_id as cid,
                  list_transform(embedding, x -> cast(x as double)) as cv
           from embeddings where vec_id < 8),
v as (select vec_id, list_transform(embedding, x -> cast(x as double)) as vv
      from embeddings),
s as (select v.vec_id, c.cid, list_cosine_similarity(vv, cv) as cos, vv
      from v, c),
r as (select vec_id, cid, vv,
             row_number() over (partition by vec_id
                                order by cos desc, cid) as rn
      from s),
a as (select cid as centroid_id, vv from r where rn = 1),
q as (select centroid_id, d.dim,
             cast(floor(vv[d.dim + 1] * 1e6 + 0.5) as bigint) as qv
      from a cross join (select unnest(range(64)) as dim) d)
select centroid_id, cast(dim as bigint) as dim,
       cast(count(*) as bigint) as n_members,
       cast(sum(qv) as double) / (cast(count(*) as double) * 1e6) as new_val
from q group by 1, 2
"""


def q118_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 for query {data, spark, vector} (ext/textops
    .bm25_topk). The gate runs idf_mode='rational' (the q60 no-libm
    discipline: ln is monotone per term, dropped so even the double
    score replays bit-for-bit); production default is standard ln
    BM25."""
    return textops.bm25_topk(
        load(spark, sf_dir, "documents"),
        ["data", "spark", "vector"],
        k=15,
        idf_mode="rational",
    )


# expression trees below mirror bm25_topk's Python operator order
# EXACTLY (left-associated) so both engines evaluate identical IEEE ops
ORACLE_Q118 = """
with base as (
  select doc_id,
    cast(len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
         as bigint) as dl,
    cast(len(list_filter(string_split(trim(text), ' '), x -> x = 'data'))
         as bigint) as tf0,
    cast(len(list_filter(string_split(trim(text), ' '), x -> x = 'spark'))
         as bigint) as tf1,
    cast(len(list_filter(string_split(trim(text), ' '), x -> x = 'vector'))
         as bigint) as tf2
  from documents),
stats as (
  select cast(count(*) as bigint) as n, cast(sum(dl) as bigint) as sumdl,
         cast(sum(case when tf0 > 0 then 1 else 0 end) as bigint) as df0,
         cast(sum(case when tf1 > 0 then 1 else 0 end) as bigint) as df1,
         cast(sum(case when tf2 > 0 then 1 else 0 end) as bigint) as df2
  from base),
scored as (
  select doc_id, dl,
    (((cast(n - df0 as double) + 0.5) / (cast(df0 as double) + 0.5))
       * (cast(tf0 as double) * 2.2))
      / (cast(tf0 as double)
         + (1.2 * ((1.0 - 0.75)
                   + ((0.75 * cast(dl as double))
                      / (cast(sumdl as double) / cast(n as double))))))
    + (((cast(n - df1 as double) + 0.5) / (cast(df1 as double) + 0.5))
       * (cast(tf1 as double) * 2.2))
      / (cast(tf1 as double)
         + (1.2 * ((1.0 - 0.75)
                   + ((0.75 * cast(dl as double))
                      / (cast(sumdl as double) / cast(n as double))))))
    + (((cast(n - df2 as double) + 0.5) / (cast(df2 as double) + 0.5))
       * (cast(tf2 as double) * 2.2))
      / (cast(tf2 as double)
         + (1.2 * ((1.0 - 0.75)
                   + ((0.75 * cast(dl as double))
                      / (cast(sumdl as double) / cast(n as double))))))
      as score
  from base cross join stats)
select doc_id, dl, score from scored where score > 0
order by score desc, doc_id limit 15
"""


def q119_snapshots_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC time travel (compare.snapshots_at): the q80 change batch
    replayed to two cutoffs — seq 11 (update+delete applied, inserts
    not yet) and seq 14 (insert-then-delete netted out)."""
    from ..compare import snapshots_at

    sup = load(spark, sf_dir, "supplier")
    changes = spark.createDataFrame(
        [
            (1, "UPDATED NAME", "U", 10),
            (2, None, "D", 11),
            (900001, "BRAND NEW", "I", 12),
            (900002, "EPHEMERAL", "I", 13),
            (900002, None, "D", 14),
        ],
        "s_suppkey long, s_name string, op string, seq long",
    )
    return snapshots_at(
        sup.select("s_suppkey", "s_name"),
        changes,
        ["s_suppkey"],
        seqs=[11, 14],
    )


ORACLE_Q119 = """
with changes(s_suppkey, s_name, op, seq) as (values
  (1, 'UPDATED NAME', 'U', 10),
  (2, NULL, 'D', 11),
  (900001, 'BRAND NEW', 'I', 12),
  (900002, 'EPHEMERAL', 'I', 13),
  (900002, NULL, 'D', 14)),
snap as (select unnest([11, 14]) as snap_seq),
latest as (
  select snap_seq, s_suppkey, s_name, op
  from (select c.*, s.snap_seq,
               row_number() over (partition by s.snap_seq, c.s_suppkey
                                  order by c.seq desc) rn
        from changes c cross join snap s where c.seq <= s.snap_seq)
  where rn = 1),
kept as (
  select s.snap_seq, sup.s_suppkey, sup.s_name
  from supplier sup cross join snap s
  where not exists (select 1 from latest l
                    where l.snap_seq = s.snap_seq
                      and l.s_suppkey = sup.s_suppkey))
select cast(snap_seq as bigint) as snap_seq,
       cast(s_suppkey as bigint) as s_suppkey, s_name from kept
union all
select cast(snap_seq as bigint), cast(s_suppkey as bigint), s_name
from latest where op <> 'D'
"""


def q120_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein<=1 record linkage over supplier names (ext/dedup
    .editdist1_pairs): FastSS deletion-neighborhood banding + exact
    verify — catches the insert/delete typos q59's Hamming join cannot."""
    s = load(spark, sf_dir, "supplier")
    return dedup.editdist1_pairs(s, "s_name", "s_suppkey")


ORACLE_Q120 = """
select a.s_suppkey as id_a, b.s_suppkey as id_b,
       a.s_name as a, b.s_name as b,
       cast(levenshtein(a.s_name, b.s_name) as bigint) as dist
from supplier a join supplier b on a.s_suppkey < b.s_suppkey
where levenshtein(a.s_name, b.s_name) <= 1
"""


def q121_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates (ext/textops.bpe_pair_counts):
    adjacent char pairs weighted by word frequency, computed over the
    VOCABULARY (one corpus pass), not the corpus."""
    return textops.bpe_pair_counts(load(spark, sf_dir, "documents"))


ORACLE_Q121 = """
with w as (
  select tok as w, count(*) as wf
  from (select unnest(list_filter(string_split(trim(text), ' '),
                                  x -> x <> '')) as tok
        from documents)
  group by 1),
p as (
  select substring(w, i, 2) as pair, wf
  from w cross join unnest(range(1, length(w))) as t(i)
  where length(w) >= 2)
select pair, cast(sum(wf) as bigint) as cnt
from p group by pair order by cnt desc, pair limit 20
"""


def q122_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-action training pairs (ext/asof.next_event_pairs): the
    previous-3-types context string and the current type as label, one
    per-key window pass."""
    return asof.next_event_pairs(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_id", "event_type"
    )


ORACLE_Q122 = """
with l as (
  select user_id, event_id, ts,
         lag(event_type, 3) over w as l3,
         lag(event_type, 2) over w as l2,
         lag(event_type, 1) over w as l1,
         event_type as label
  from events window w as (partition by user_id order by ts, event_id))
select user_id, event_id, ts,
       l3 || '>' || l2 || '>' || l1 as context, label
from l where l3 is not null
"""


def q123_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health profile (ext/similarity
    .embedding_profile): exact min/max selections + quantized-integer
    means, one posexplode into one dim-keyed aggregate."""
    return similarity.embedding_profile(load(spark, sf_dir, "embeddings"))


ORACLE_Q123 = """
with comp as (
  select d.dim, cast(embedding[d.dim + 1] as double) as c
  from embeddings cross join (select unnest(range(64)) as dim) d)
select cast(dim as bigint) as dim,
       cast(count(*) as bigint) as n,
       cast(sum(case when isnan(c) or c is null then 1 else 0 end) as bigint)
         as n_nan,
       min(case when not isnan(c) and c is not null then c end) as vmin,
       max(case when not isnan(c) and c is not null then c end) as vmax,
       cast(sum(case when not isnan(c) and c is not null
                     then cast(floor(c * 1e6 + 0.5) as bigint) end) as double)
         / (cast(sum(case when not isnan(c) and c is not null then 1 else 0
                          end) as double) * 1e6) as mean_val
from comp group by dim
"""


def q124_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution composed from the library: Levenshtein<=1
    linkage pairs (q120) -> connected components (iterative min-label)
    -> canonical entity id per record. Singleton records resolve to
    themselves."""
    from ..ext import graph

    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    pairs = dedup.editdist1_pairs(s, "s_name", "s_suppkey").select(
        "id_a", "id_b"
    )
    comp = graph.connected_components(pairs, src="id_a", dst="id_b")
    return (
        s.join(comp, s.s_suppkey == comp.node, "left")
        .select(
            "s_suppkey",
            "s_name",
            F.coalesce(F.col("component"), F.col("s_suppkey"))
            .cast("long")
            .alias("entity_id"),
        )
    )


ORACLE_Q124 = """
with recursive
pairs as (
  select a.s_suppkey as id_a, b.s_suppkey as id_b
  from supplier a join supplier b on a.s_suppkey < b.s_suppkey
  where levenshtein(a.s_name, b.s_name) <= 1),
edges as (select id_a as a, id_b as b from pairs
          union all select id_b, id_a from pairs),
reach(a, b) as (
  select a, b from edges
  union
  select r.a, e.b from reach r join edges e on r.b = e.a),
nodes as (select distinct a as node from edges),
comp as (
  select n.node, least(n.node, min(r.b)) as component
  from nodes n left join reach r on r.a = n.node
  group by n.node)
select s.s_suppkey, s.s_name,
       cast(coalesce(c.component, s.s_suppkey) as bigint) as entity_id
from supplier s left join comp c on c.node = s.s_suppkey
"""


def q125_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 prices per brand WITH ties (RANK, not ROW_NUMBER): every
    part tied at a qualifying price survives — the other top-k
    semantics, deterministic without a tiebreak because tied rows share
    a rank. Per-brand window, never global."""
    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return (
        p.withColumn("rnk", F.rank().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rnk")
    )


ORACLE_Q125 = """
select p_brand, p_partkey, p_retailprice, cast(rnk as bigint) as rnk
from (select p_brand, p_partkey, p_retailprice,
             rank() over (partition by p_brand
                          order by p_retailprice desc) as rnk
      from part)
where rnk <= 3
"""


def q126_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total contribution: each nation's order revenue and
    its share of the whole. The total rides on a broadcast single-row
    cross join over the 25-row aggregate — no global window. Cent-scale
    decimal sums stay under 2^53, so the decimal->double casts are the
    same exact IEEE conversion in both engines."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(_dec("o_totalprice")).alias("_rev"))
    )
    total = per_nation.agg(F.sum("_rev").alias("_tot"))
    return per_nation.crossJoin(F.broadcast(total)).select(
        "n_name",
        F.col("_rev").cast("double").alias("revenue"),
        (F.col("_rev").cast("double") / F.col("_tot").cast("double")).alias(
            "share"
        ),
    )


ORACLE_Q126 = """
with per_nation as (
  select n_name, sum(cast(o_totalprice as decimal(12,2))) as rev
  from orders join customer on o_custkey = c_custkey
  join nation on c_nationkey = n_nationkey
  group by n_name),
tot as (select sum(rev) as t from per_nation)
select n_name, cast(rev as double) as revenue,
       cast(rev as double) / cast(t as double) as share
from per_nation cross join tot
"""


def q127_ma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover detection (the 'golden cross' alert):
    per user, flag events where the trailing-3 mean of value rises
    above the trailing-6 mean having been at-or-below it on the
    previous event. Decimal-exact trailing sums; the means are single
    divisions; the signal is a lag of an integer flag — all
    key-partitioned windows."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    wb = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ws = wb.rowsBetween(-2, 0)
    wl = wb.rowsBetween(-5, 0)
    ma = lambda w: (  # noqa: E731
        F.sum(_dec("value")).over(w).cast("double")
        / F.count(F.lit(1)).over(w).cast("double")
    )
    base = ev.select(
        "user_id",
        "event_id",
        "ts",
        ma(ws).alias("ma_s"),
        ma(wl).alias("ma_l"),
        F.count(F.lit(1)).over(wl).cast("long").alias("_nl"),
    ).withColumn(
        "_x",
        F.when(F.col("_nl") == 6, (F.col("ma_s") > F.col("ma_l")).cast("int")),
    )
    return (
        base.withColumn("_px", F.lag("_x").over(wb))
        .where((F.col("_x") == 1) & (F.col("_px") == 0))
        .select("user_id", "event_id", "ts", "ma_s", "ma_l")
    )


ORACLE_Q127 = """
with b as (
  select user_id, event_id, ts,
         cast(sum(cast(value as decimal(12,2))) over ws as double)
           / cast(count(*) over ws as double) as ma_s,
         cast(sum(cast(value as decimal(12,2))) over wl as double)
           / cast(count(*) over wl as double) as ma_l,
         count(*) over wl as nl
  from events where value is not null
  window ws as (partition by user_id order by ts, event_id
                rows between 2 preceding and current row),
         wl as (partition by user_id order by ts, event_id
                rows between 5 preceding and current row)),
x as (
  select *, case when nl = 6 then
                 (case when ma_s > ma_l then 1 else 0 end) end as xf,
         lag(case when nl = 6 then
                  (case when ma_s > ma_l then 1 else 0 end) end)
           over (partition by user_id order by ts, event_id) as pxf
  from b)
select user_id, event_id, ts, ma_s, ma_l from x where xf = 1 and pxf = 0
"""


def q128_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how big the near-dup groups
    are (the dedup analytics view that decides whether clustering is
    boilerplate-driven). Components over the exact-Jaccard pairs, two
    tiny aggregates on top."""
    from ..ext import graph

    pairs = dedup.jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8)
    comp = graph.connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("_sz"))
        .groupBy(F.col("_sz").cast("long").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    )


# same shingle/pair/component CTEs as ORACLE_Q49, then the size rollup
ORACLE_Q128 = """
with recursive
docs as (
  select doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
docs3 as (select * from docs where len(toks) >= 3),
sh as (
  select distinct doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] as shingle
  from docs3, unnest(range(1, len(toks) - 1)) t(i)),
sizes as (select doc_id, count(*) as n from sh group by doc_id),
common as (
  select a.doc_id as d1, b.doc_id as d2, count(*) as c
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2),
pairs as (
  select d1, d2 from common
  join sizes na on na.doc_id = d1
  join sizes nb on nb.doc_id = d2
  where cast(c as double) / cast(na.n + nb.n - c as double) >= 0.8),
edges as (select d1 as a, d2 as b from pairs
          union all select d2, d1 from pairs),
reach(a, b) as (
  select a, b from edges
  union
  select r.a, e.b from reach r join edges e on r.b = e.a),
nodes as (select distinct a as node from edges),
comp as (
  select n.node, least(n.node, min(r.b)) as component
  from nodes n left join reach r on r.a = n.node
  group by n.node),
cs as (select component, count(*) as sz from comp group by component)
select cast(sz as bigint) as cluster_size,
       cast(count(*) as bigint) as n_clusters
from cs group by sz
"""


def q129_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag (ext/features
    .weighted_median): decimal cumulative weights, 2*cum >= total in
    DECIMAL — no float division in the selection."""
    from ..ext import features

    return features.weighted_median(
        load(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        "l_orderkey",
    )


ORACLE_Q129 = """
with o as (
  select l_returnflag,
         cast(l_extendedprice as double) as v,
         sum(cast(l_quantity as decimal(12,2)))
           over (partition by l_returnflag
                 order by cast(l_extendedprice as double), l_orderkey
                 rows between unbounded preceding and current row) as cum,
         sum(cast(l_quantity as decimal(12,2)))
           over (partition by l_returnflag) as tot
  from lineitem)
select l_returnflag, min(v) as wmedian,
       cast(max(tot) as double) as total_weight
from o where cum * 2 >= tot
group by l_returnflag
"""


def q130_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing ONE-HOUR sum per user — a RANGE frame over event-time
    (every event within 3600s, however many rows that is), the frame
    family the rows-frames queries (q45/q107/q127) cannot express.
    Ordered on epoch micros (exact long), decimal-exact sums, one
    key-partitioned window."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(_dec("value")).over(w).cast("double").alias("hour_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("hour_events"),
    )


ORACLE_Q130 = """
select user_id, event_id, ts,
       cast(sum(cast(value as decimal(12,2))) over w as double) as hour_sum,
       cast(count(*) over w as bigint) as hour_events
from events where value is not null
window w as (partition by user_id order by epoch_us(ts)
             range between 3600000000 preceding and current row)
"""


def q131_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id: order totals by
    (status, priority), by status alone, and grand total — the
    irregular-subtotal construct rollup/cube (q12/q33) cannot pick
    freely. One Expand-planned aggregate, no extra scans."""
    _register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        select o_orderstatus, o_orderpriority,
               cast(grouping_id(o_orderstatus, o_orderpriority) as bigint)
                 as gid,
               cast(count(*) as bigint) as n_orders,
               cast(sum(cast(o_totalprice as decimal(12,2)))
                    as decimal(18,2)) as total
        from orders
        group by grouping sets ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    ).select(
        "o_orderstatus",
        "o_orderpriority",
        "gid",
        "n_orders",
        F.col("total").cast("double").alias("total"),
    )


ORACLE_Q131 = """
select o_orderstatus, o_orderpriority,
       cast(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
            as bigint) as gid,
       cast(count(*) as bigint) as n_orders,
       cast(cast(sum(cast(o_totalprice as decimal(12,2))) as decimal(18,2))
            as double) as total
from orders
group by grouping sets ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
"""


def q132_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation in-warehouse: confusion matrix of the
    lang-id heuristic against the fixture's true lang labels, each cell
    row-normalized by the truth class's total (recall-style rates).
    Two tiny aggregates joined back; rates are single divisions of
    exact counts."""
    d = load(spark, sf_dir, "documents")
    j = d.select("doc_id", "lang").join(textops.language_id(d), "doc_id")
    cm = j.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))
    truth = j.groupBy("lang").agg(F.count(F.lit(1)).alias("truth_total"))
    pred = j.groupBy("pred_lang").agg(F.count(F.lit(1)).alias("pred_total"))
    return (
        cm.join(F.broadcast(truth), "lang")
        .join(F.broadcast(pred), "pred_lang")
        .select(
            "lang",
            "pred_lang",
            F.col("n").cast("long").alias("n"),
            F.col("truth_total").cast("long").alias("truth_total"),
            F.col("pred_total").cast("long").alias("pred_total"),
            (F.col("n").cast("double") / F.col("truth_total").cast("double"))
            .alias("recall_rate"),
        )
    )


ORACLE_Q132 = """
with pred as (
  select doc_id,
    case when length(trim(text)) = 0 then 'unknown'
         when text like '% the %' or text like 'the %' or text like '% the'
           then 'en'
         when text like '% data %' or text like 'data %' then 'data-ish'
         else 'other' end as pred_lang
  from documents),
j as (select d.lang, p.pred_lang from documents d join pred p using (doc_id)),
cm as (select lang, pred_lang, cast(count(*) as bigint) as n
       from j group by 1, 2),
t as (select lang, cast(count(*) as bigint) as truth_total
      from j group by 1),
p as (select pred_lang, cast(count(*) as bigint) as pred_total
      from j group by 1)
select cm.lang, cm.pred_lang, cm.n, t.truth_total, p.pred_total,
       cast(cm.n as double) / cast(t.truth_total as double) as recall_rate
from cm join t using (lang) join p using (pred_lang)
"""


def q133_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins: a numeric score (n_chars) against a
    binary outcome (lang = 'en'), 10 equi-width bins over the exact
    global min/max, per-bin positive rate — the calibration profile of
    any scalar quality signal. Binning is per-row IEEE arithmetic
    identical in both engines; rates are single divisions."""
    d = load(spark, sf_dir, "documents")
    mm = d.agg(
        F.min(F.col("n_chars").cast("double")).alias("_lo"),
        F.max(F.col("n_chars").cast("double")).alias("_hi"),
    )
    x = F.col("n_chars").cast("double")
    raw_bin = F.floor((x - F.col("_lo")) * 10 / (F.col("_hi") - F.col("_lo")))
    b = d.crossJoin(F.broadcast(mm)).withColumn(
        "bin",
        F.when(F.col("_hi") == F.col("_lo"), F.lit(0).cast("long"))
        .otherwise(F.least(F.lit(9).cast("long"), raw_bin)),
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("lang") == "en").cast("long")).cast("long").alias("n_pos"),
    ).withColumn(
        "pos_rate", F.col("n_pos").cast("double") / F.col("n").cast("double")
    )


ORACLE_Q133 = """
with mm as (select min(cast(n_chars as double)) as lo,
                   max(cast(n_chars as double)) as hi from documents),
b as (
  select case when hi = lo then 0
              else least(9, cast(floor((cast(n_chars as double) - lo) * 10
                                       / (hi - lo)) as bigint)) end as bin,
         case when lang = 'en' then 1 else 0 end as pos
  from documents cross join mm)
select bin, cast(count(*) as bigint) as n,
       cast(sum(pos) as bigint) as n_pos,
       cast(sum(pos) as double) / cast(count(*) as double) as pos_rate
from b group by bin
"""


def q134_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test straight from the event log: users split
    into variants by user_id parity, conversion = at least 3 high-value
    purchases (value >= 100 — "any purchase" saturates at p = 1 on this
    fixture and the z-statistic's pooled variance degenerates); the z
    statistic is a fixed expression over four exact counts (sqrt is
    correctly rounded IEEE), so even the test statistic hash-matches.
    One per-user aggregate, one 2-row aggregate, one scalar combine."""
    ev = load(spark, sf_dir, "events")
    hi = (F.col("event_type") == "purchase") & (F.col("value") >= 100)
    per_user = ev.groupBy("user_id").agg(
        (F.sum(hi.cast("long")) >= 3).cast("long").alias("_conv")
    )
    counts = (
        per_user.withColumn("variant", F.pmod(F.col("user_id"), F.lit(2)))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_conv").cast("long").alias("conv"),
        )
    )
    a = counts.where(F.col("variant") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a")
    )
    bq = counts.where(F.col("variant") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b")
    )
    j = a.crossJoin(F.broadcast(bq))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ca, cb = F.col("conv_a").cast("double"), F.col("conv_b").cast("double")
    pa, pb = ca / na, cb / nb
    pool = (ca + cb) / (na + nb)
    z = (pa - pb) / F.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))
    return j.select(
        "n_a", "conv_a", "n_b", "conv_b",
        pa.alias("rate_a"), pb.alias("rate_b"), z.alias("z_stat"),
    )


ORACLE_Q134 = """
with per_user as (
  select user_id,
         case when sum(case when event_type = 'purchase' and value >= 100
                            then 1 else 0 end) >= 3
              then 1 else 0 end as conv
  from events group by user_id),
counts as (
  select user_id % 2 as variant, cast(count(*) as bigint) as n,
         cast(sum(conv) as bigint) as conv
  from per_user group by 1),
a as (select n as n_a, conv as conv_a from counts where variant = 0),
b as (select n as n_b, conv as conv_b from counts where variant = 1)
select n_a, conv_a, n_b, conv_b,
  (cast(conv_a as double) / cast(n_a as double)) as rate_a,
  (cast(conv_b as double) / cast(n_b as double)) as rate_b,
  ((cast(conv_a as double) / cast(n_a as double))
   - (cast(conv_b as double) / cast(n_b as double)))
  / sqrt(((cast(conv_a as double) + cast(conv_b as double))
          / (cast(n_a as double) + cast(n_b as double)))
         * (1.0 - ((cast(conv_a as double) + cast(conv_b as double))
                   / (cast(n_a as double) + cast(n_b as double))))
         * (1.0 / cast(n_a as double) + 1.0 / cast(n_b as double)))
    as z_stat
from a cross join b
"""


def q135_hash_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing bridge from text to the vector space: each token
    hashes (portable md5) onto one of the embedding rows, and each
    source's centroid in that hashed-embedding space is an exact
    quantized-integer mean per dimension (the kmeans_step discipline) —
    how a text corpus gets a cheap vector profile with no model at all.
    Shape: explode tokens (one pass), join the embedding table on the
    hash bucket (vector-table-sized side), posexplode components, one
    (source, dim) aggregate."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    n_vec = e.agg(F.count(F.lit(1)).cast("long").alias("_nv"))
    toks = (
        d.select("source", F.explode(textops.tokens("text")).alias("tok"))
        .crossJoin(F.broadcast(n_vec))
        .select(
            "source",
            F.pmod(dedup.md5_token_hash(F.col("tok")), F.col("_nv")).alias(
                "vec_id"
            ),
        )
    )
    comp = toks.join(e, "vec_id").select(
        "source",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("dim", "_c"),
    )
    return (
        comp.groupBy("source", F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum(
                F.floor(F.col("_c") * F.lit(1e6) + F.lit(0.5)).cast("long")
            ).alias("_s"),
        )
        .select(
            "source",
            "dim",
            "n_toks",
            (
                F.col("_s").cast("double")
                / (F.col("n_toks").cast("double") * F.lit(1e6))
            ).alias("centroid"),
        )
    )


ORACLE_Q135 = """
with nv as (select cast(count(*) as bigint) as n from embeddings),
toks as (
  select source,
         cast(cast('0x' || substring(md5(tok), 1, 15) as ubigint) as bigint)
           % (select n from nv) as vec_id
  from (select source,
               unnest(list_filter(string_split(trim(text), ' '),
                                  x -> x <> '')) as tok
        from documents)),
comp as (
  select t.source, d.dim, cast(e.embedding[d.dim + 1] as double) as c
  from toks t join embeddings e using (vec_id)
  cross join (select unnest(range(64)) as dim) d)
select source, cast(dim as bigint) as dim,
       cast(count(*) as bigint) as n_toks,
       cast(sum(cast(floor(c * 1e6 + 0.5) as bigint)) as double)
         / (cast(count(*) as double) * 1e6) as centroid
from comp group by 1, 2
"""


def q136_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete churn-hazard curve: users bucketed by observed lifetime
    (days between first and last event); at_risk(d) = users surviving
    to day d (a suffix cumsum over the TINY lifetime histogram),
    hazard = churned/at_risk — survival analysis from exact counts, no
    float folds. The only window runs over lifetime-cardinality rows
    (constant-keyed, documented tiny)."""
    ev = load(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts")))
        .cast("long")
        .alias("lifetime_days")
    )
    hist = life.groupBy("lifetime_days").agg(
        F.count(F.lit(1)).cast("long").alias("churned")
    )
    w = (
        Window.partitionBy(F.pmod(F.xxhash64("lifetime_days"), F.lit(1)))
        .orderBy(F.col("lifetime_days").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return hist.select(
        "lifetime_days",
        "churned",
        F.sum("churned").over(w).cast("long").alias("at_risk"),
    ).withColumn(
        "hazard", F.col("churned").cast("double") / F.col("at_risk").cast("double")
    )


ORACLE_Q136 = """
with life as (
  select user_id,
         cast(date_diff('day', min(cast(ts as date)), max(cast(ts as date)))
              as bigint) as lifetime_days
  from events group by user_id),
hist as (select lifetime_days, cast(count(*) as bigint) as churned
         from life group by 1)
select lifetime_days, churned,
       cast(sum(churned) over (order by lifetime_days desc
                               rows between unbounded preceding and current row)
            as bigint) as at_risk,
       cast(churned as double)
         / cast(sum(churned) over (order by lifetime_days desc
                                   rows between unbounded preceding
                                   and current row) as double) as hazard
from hist
"""


def q137_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day (ext/asof.max_concurrency):
    sweep-line +1/-1 deltas with a TWO-PHASE global cumulative sum
    (features.global_cumsum) — no single-partition window over the
    event volume."""
    return asof.max_concurrency(load(spark, sf_dir, "events"), "user_id", "ts")


ORACLE_Q137 = """
with g as (
  select user_id, ts,
         case when lag(ts) over w is null
                   or (epoch_us(ts) - epoch_us(lag(ts) over w)) > 1800000000
              then 1 else 0 end as brk
  from events window w as (partition by user_id order by ts)),
s as (
  select user_id, ts,
         sum(brk) over (partition by user_id order by ts
                        rows between unbounded preceding and current row)
           as session_id
  from g),
spans as (
  select user_id, session_id, min(ts) as t_start, max(ts) as t_end
  from s group by 1, 2),
deltas as (
  select t_start as t, cast(1 as bigint) as delta, user_id, session_id
  from spans
  union all
  select t_end, cast(-1 as bigint), user_id, session_id from spans),
cum as (
  select t, delta,
         sum(delta) over (order by t, delta desc, user_id, session_id
                          rows between unbounded preceding and current row)
           as concurrent
  from deltas)
select cast(t as date) as day,
       cast(max(concurrent) as bigint) as max_concurrent,
       cast(sum(case when delta = 1 then 1 else 0 end) as bigint)
         as n_sessions
from cum group by 1
"""


def q138_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand triangle counts in the co-purchase graph (ext/graph
    .triangle_count over q113's basket pairs): degree-ordered
    orientation enumerates each triangle once with hub-bounded join
    fanout; the oracle replays it as the canonical x<y<z triple
    join."""
    from ..ext import features, graph

    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    baskets = li.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        li.l_partkey == p.p_partkey,
    ).select("l_orderkey", "p_brand")
    edges = features.cooccurrence_lift(baskets, "l_orderkey", "p_brand")
    return graph.triangle_count(edges, "item_a", "item_b")


ORACLE_Q138 = """
with items as (
  select distinct l_orderkey, p_brand
  from lineitem join part on l_partkey = p_partkey),
pairs as (
  select a.p_brand as x, b.p_brand as y
  from items a join items b using (l_orderkey)
  where a.p_brand < b.p_brand
  group by 1, 2
  having count(*) >= 2),
tri as (
  select e1.x, e1.y, e2.y as z
  from pairs e1
  join pairs e2 on e1.y = e2.x
  join pairs e3 on e3.x = e1.x and e3.y = e2.y),
corners as (
  select x as node from tri
  union all select y from tri
  union all select z from tri)
select node, cast(count(*) as bigint) as triangles
from corners group by node
"""


def q139_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-subset detection (ext/dedup.containment_pairs, t=0.9):
    |A∩B|/min(|A|,|B|) catches quote/wrapper duplicates whose Jaccard
    is tiny — same inverted-index shape as q19, different ratio."""
    return dedup.containment_pairs(load(spark, sf_dir, "documents"), 0.9)


ORACLE_Q139 = """
with docs as (
  select doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
docs3 as (select * from docs where len(toks) >= 3),
sh as (
  select distinct doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] as shingle
  from docs3, unnest(range(1, len(toks) - 1)) t(i)),
sizes as (select doc_id, count(*) as n from sh group by doc_id),
common as (
  select a.doc_id as d1, b.doc_id as d2, count(*) as c
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2)
select d1, d2,
       cast(c as double) / cast(least(na.n, nb.n) as double) as containment,
       case when na.n < nb.n then 'd1'
            when nb.n < na.n then 'd2' else 'equal' end as direction
from common
join sizes na on na.doc_id = d1
join sizes nb on nb.doc_id = d2
where cast(c as double) / cast(least(na.n, nb.n) as double) >= 0.9
"""


def q140_extract_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction table (ext/textops.extract_matches): every
    5+-letter run in every document as (doc, occurrence, match) rows —
    a narrow codegen map, appearance-order occurrence index."""
    return textops.extract_matches(
        load(spark, sf_dir, "documents"), "[a-z]{5,}"
    )


ORACLE_Q140 = """
select doc_id,
       cast(generate_subscripts(m, 1) - 1 as bigint) as occurrence,
       unnest(m) as match
from (select doc_id, regexp_extract_all(text, '[a-z]{5,}', 0) as m
      from documents)
"""


def q141_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user serving state (ext/asof.latest_state): the 5 most
    recent event types newest-first per user — the feature-store ring
    buffer, built with a per-key top-k window. The library API
    (ext/asof.latest_state) returns `recent` as array<string>; the gate
    query renders it '|'-joined so the driver harness can hash it."""
    return asof.latest_state(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_id", "event_type"
    ).withColumn("recent", F.array_join("recent", "|"))


ORACLE_Q141 = """
with r as (
  select user_id, ts, event_type,
         row_number() over (partition by user_id
                            order by ts desc, event_id desc) as rn
  from events)
select user_id, max(ts) as last_ts,
       cast(count(*) as bigint) as n_recent,
       string_agg(event_type, '|' order by rn) as recent
from r where rn <= 5
group by user_id
"""


def q142_window_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window EXACT distinct users: 2-hour windows every hour
    (each event lands in 2 windows via the built-in window explode),
    epoch-aligned starts so any engine replays the assignment. The
    exact-distinct-per-window cost is the honest one; the approximate
    path at 100 TB is the same shape over KMV sketches (q85/q108)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            F.window(F.col("ts"), "2 hours", "1 hour").alias("w"), "user_id"
        )
        .groupBy(F.col("w.start").alias("win_start"))
        .agg(F.countDistinct("user_id").cast("long").alias("uniq_users"))
    )


ORACLE_Q142 = """
with ev as (select ts, user_id, epoch_us(ts) as us from events),
bounds as (select min(us) as lo, max(us) as hi from ev),
starts as (
  select unnest(range((select lo from bounds) // 3600000000 - 1,
                      (select hi from bounds) // 3600000000 + 1))
           * 3600000000 as s),
j as (
  select s, user_id from ev join starts
  on ev.us >= s and ev.us < s + 7200000000)
select make_timestamp(s) as win_start,
       cast(count(distinct user_id) as bigint) as uniq_users
from j group by s
"""


def q143_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: decimal-exact monthly sums
    (tiny aggregate), lag window over the months, growth one fixed
    double expression — the BI staple. The only window runs over
    month-cardinality rows (constant-keyed tiny partition)."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(F.sum(_dec("o_totalprice")).alias("_rev"))
    w = Window.partitionBy(
        F.pmod(F.xxhash64("month"), F.lit(1))
    ).orderBy("month")
    prev = F.lag("_rev").over(w)
    return monthly.select(
        "month",
        F.col("_rev").cast("double").alias("revenue"),
        F.when(
            prev.isNotNull(),
            (F.col("_rev").cast("double") - prev.cast("double"))
            / prev.cast("double"),
        ).alias("mom_growth"),
    )


ORACLE_Q143 = """
with m as (
  select cast(date_trunc('month', o_orderdate) as date) as month,
         sum(cast(o_totalprice as decimal(12,2))) as rev
  from orders group by 1)
select month, cast(rev as double) as revenue,
       case when lag(rev) over w is not null then
         (cast(rev as double) - cast(lag(rev) over w as double))
           / cast(lag(rev) over w as double) end as mom_growth
from m window w as (order by month)
"""


def q144_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert quartiles: per user, seconds from first click to
    first LATER purchase; exact interpolated percentiles over the
    per-user diffs (Spark percentile == DuckDB quantile_cont, the q47
    equivalence). Two per-user min aggregates, one 1-row percentile
    aggregate — no window over raw events."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = ev.where(F.col("event_type") == "click").groupBy("user_id").agg(
        F.min(us).alias("_c")
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", us.alias("_p")
    )
    diffs = (
        buys.join(clicks, "user_id")
        .where(F.col("_p") >= F.col("_c"))
        .groupBy("user_id")
        .agg(F.min(F.col("_p") - F.col("_c")).alias("_d"))
        .select((F.col("_d").cast("double") / F.lit(1e6)).alias("secs"))
    )
    return diffs.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.expr("percentile(secs, 0.25)").alias("p25"),
        F.expr("percentile(secs, 0.5)").alias("p50"),
        F.expr("percentile(secs, 0.75)").alias("p75"),
    )


ORACLE_Q144 = """
with clicks as (
  select user_id, min(epoch_us(ts)) as c
  from events where event_type = 'click' group by user_id),
diffs as (
  select b.user_id,
         cast(min(epoch_us(b.ts) - c.c) as double) / 1e6 as secs
  from events b join clicks c using (user_id)
  where b.event_type = 'purchase' and epoch_us(b.ts) >= c.c
  group by b.user_id)
select cast(count(*) as bigint) as n_converted,
       quantile_cont(secs, 0.25) as p25,
       quantile_cont(secs, 0.5) as p50,
       quantile_cont(secs, 0.75) as p75
from diffs
"""


def q145_keeper_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup canonicalization: within each near-dup
    component (exact-Jaccard pairs -> connected components), keep the
    HIGHEST-QUALITY member (longest doc, ties to the lowest id) — the
    production alternative to q49's min-id keeper, because the best
    duplicate is rarely the first-crawled one. max_by over a
    (quality, -id) struct picks the keeper per component."""
    from ..ext import graph

    d = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, threshold=0.8)
    comp = graph.connected_components(pairs)
    member = comp.join(
        d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    keeper = member.groupBy("component").agg(
        F.max_by(
            "node", F.struct(F.col("n_chars"), (-F.col("node")).alias("_t"))
        ).alias("keep_id")
    )
    return (
        member.join(keeper, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("keep_id").cast("long").alias("keep_id"),
        )
    )


# same shingle/pair/component CTEs as ORACLE_Q49, then a quality argmax
ORACLE_Q145 = """
with recursive
docs as (
  select doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
docs3 as (select * from docs where len(toks) >= 3),
sh as (
  select distinct doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] as shingle
  from docs3, unnest(range(1, len(toks) - 1)) t(i)),
sizes as (select doc_id, count(*) as n from sh group by doc_id),
common as (
  select a.doc_id as d1, b.doc_id as d2, count(*) as c
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2),
pairs as (
  select d1, d2 from common
  join sizes na on na.doc_id = d1
  join sizes nb on nb.doc_id = d2
  where cast(c as double) / cast(na.n + nb.n - c as double) >= 0.8),
edges as (select d1 as a, d2 as b from pairs
          union all select d2, d1 from pairs),
reach(a, b) as (
  select a, b from edges
  union
  select r.a, e.b from reach r join edges e on r.b = e.a),
nodes as (select distinct a as node from edges),
comp as (
  select n.node, least(n.node, min(r.b)) as component
  from nodes n left join reach r on r.a = n.node
  group by n.node),
member as (
  select c.node, c.component, d.n_chars
  from comp c join documents d on d.doc_id = c.node),
keeper as (
  select component, node as keep_id
  from (select component, node,
               row_number() over (partition by component
                                  order by n_chars desc, node) rn
        from member)
  where rn = 1)
select m.node as doc_id, cast(k.keep_id as bigint) as keep_id
from member m join keeper k using (component)
"""


def q146_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions with exactly one event —
    sessionize, one (user, session) aggregate, one per-day aggregate,
    rate a single division of exact counts."""
    s = asof.sessionize(load(spark, sf_dir, "events"), "user_id", "ts", 30)
    per_sess = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.to_date(F.min("ts")).alias("day"),
    )
    return per_sess.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum((F.col("_n") == 1).cast("long")).cast("long").alias("bounces"),
    ).withColumn(
        "bounce_rate",
        F.col("bounces").cast("double") / F.col("n_sessions").cast("double"),
    )


ORACLE_Q146 = """
with g as (
  select user_id, ts,
         case when lag(ts) over w is null
                   or (epoch_us(ts) - epoch_us(lag(ts) over w)) > 1800000000
              then 1 else 0 end as brk
  from events window w as (partition by user_id order by ts)),
s as (
  select user_id, ts,
         sum(brk) over (partition by user_id order by ts
                        rows between unbounded preceding and current row)
           as session_id
  from g),
per_sess as (
  select user_id, session_id, count(*) as n,
         cast(min(ts) as date) as day
  from s group by 1, 2)
select day, cast(count(*) as bigint) as n_sessions,
       cast(sum(case when n = 1 then 1 else 0 end) as bigint) as bounces,
       cast(sum(case when n = 1 then 1 else 0 end) as double)
         / cast(count(*) as double) as bounce_rate
from per_sess group by day
"""


def q147_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup accounting per source: how many docs and tokens exact
    text-dedup removes (first occurrence by doc id survives), the
    before/after report every pipeline run publishes. One per-text
    window for first-owner, token counts a narrow map, one per-source
    aggregate; pct one division."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("text").orderBy("doc_id")
    flagged = d.select(
        "source",
        F.size(textops.tokens("text")).cast("long").alias("_toks"),
        (F.row_number().over(w) > 1).cast("long").alias("_dup"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("total_docs"),
        F.sum("_dup").cast("long").alias("removed_docs"),
        F.sum("_toks").cast("long").alias("total_tokens"),
        F.sum(F.col("_dup") * F.col("_toks")).cast("long").alias(
            "removed_tokens"
        ),
    ).withColumn(
        "token_savings_pct",
        F.col("removed_tokens").cast("double")
        / F.col("total_tokens").cast("double"),
    )


ORACLE_Q147 = """
with flagged as (
  select source,
         cast(len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
              as bigint) as toks,
         case when row_number() over (partition by text order by doc_id) > 1
              then 1 else 0 end as dup
  from documents)
select source, cast(count(*) as bigint) as total_docs,
       cast(sum(dup) as bigint) as removed_docs,
       cast(sum(toks) as bigint) as total_tokens,
       cast(sum(dup * toks) as bigint) as removed_tokens,
       cast(sum(dup * toks) as double) / cast(sum(toks) as double)
         as token_savings_pct
from flagged group by source
"""


def q148_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table numeric reconciliation: per order status, how many
    orders' header totals EXACTLY equal the decimal-exact sum of their
    line amounts (extprice * (1-disc) * (1+tax)) — the
    invoice-vs-lines audit every finance pipeline runs. Both sides
    stay decimal end-to-end, so 'match' is exact equality, not an
    epsilon; one co-keyed join, two aggregates."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    amt = (
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
        * (F.lit(1).cast("decimal(12,2)") + _dec("l_tax"))
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(amt).cast("decimal(18,2)").alias("_line_total")
    )
    j = o.join(per_order, o.o_orderkey == per_order.l_orderkey, "left")
    match = (
        F.col("_line_total").isNotNull()
        & (F.col("_line_total") == _dec("o_totalprice").cast("decimal(18,2)"))
    ).cast("long")
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(match).cast("long").alias("n_exact_match"),
        F.sum(F.col("_line_total").isNull().cast("long"))
        .cast("long")
        .alias("n_lineless"),
    )


ORACLE_Q148 = """
with per_order as (
  select l_orderkey,
         cast(sum(cast(l_extendedprice as decimal(12,2))
                  * (cast(1 as decimal(12,2))
                     - cast(l_discount as decimal(12,2)))
                  * (cast(1 as decimal(12,2))
                     + cast(l_tax as decimal(12,2)))) as decimal(18,2))
           as line_total
  from lineitem group by l_orderkey)
select o_orderstatus, cast(count(*) as bigint) as n_orders,
       cast(sum(case when line_total is not null
                      and line_total
                          = cast(cast(o_totalprice as decimal(12,2))
                                 as decimal(18,2))
                     then 1 else 0 end) as bigint) as n_exact_match,
       cast(sum(case when line_total is null then 1 else 0 end) as bigint)
         as n_lineless
from orders left join per_order on o_orderkey = l_orderkey
group by o_orderstatus
"""


def q149_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift (ext/textops
    .source_drift_l1): EXACT L1 distance to the corpus distribution —
    every term |cnt_s*T - cnt*T_s| accumulates in longs, one final
    division."""
    return textops.source_drift_l1(load(spark, sf_dir, "documents"))


ORACLE_Q149 = """
with toks as (
  select source,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           as tok
  from documents),
ps as (select source, tok, cast(count(*) as bigint) as cnt_s
       from toks group by 1, 2),
c as (select tok, cast(count(*) as bigint) as cnt from toks group by 1),
ts as (select source, cast(sum(cnt_s) as bigint) as t_s from ps group by 1),
t as (select cast(sum(cnt) as bigint) as t from c),
seen as (
  select ps.source,
         cast(count(*) as bigint) as vocab_seen,
         cast(sum(abs(ps.cnt_s * t.t - c.cnt * ts.t_s)) as bigint) as seen_num,
         cast(sum(c.cnt) as bigint) as seen_cnt,
         max(ts.t_s) as t_s, max(t.t) as t
  from ps join c using (tok) join ts using (source) cross join t
  group by ps.source)
select source, vocab_seen,
       cast(seen_num + (t - seen_cnt) * t_s as double)
         / (cast(t_s as double) * cast(t as double)) as l1_distance
from seen
"""


def q150_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic (ext/features.ks_statistic):
    order-value distributions of priority '1-URGENT' vs '5-LOW' —
    ECDF differences as exact long cross-products over a two-phase
    global cumsum, max'd, one final division."""
    from ..ext import features

    return features.ks_statistic(
        load(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
        "1-URGENT",
        "5-LOW",
    )


ORACLE_Q150 = """
with sub as (
  select cast(o_totalprice as double) as v, o_orderkey as id,
         case when o_orderpriority = '1-URGENT' then 1 else 0 end as ia,
         case when o_orderpriority = '5-LOW' then 1 else 0 end as ib
  from orders where o_orderpriority in ('1-URGENT', '5-LOW')),
cum as (
  select v, sum(ia) over w as ca, sum(ib) over w as cb
  from sub window w as (order by v, id
                        rows between unbounded preceding and current row)),
steps as (select v, max(ca) as ca, max(cb) as cb from cum group by v),
ns as (select cast(sum(ia) as bigint) as n_a,
              cast(sum(ib) as bigint) as n_b from sub)
select n_a, n_b,
       cast(max(abs(ca * n_b - cb * n_a)) as double)
         / (cast(n_a as double) * cast(n_b as double)) as d_stat
from steps cross join ns
group by n_a, n_b
"""


def q151_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Lorenz curve) by customer decile: rank
    customers by exact cent totals via the two-phase global rank +
    exact NTILE, sum cents per decile, cumulative share from a 10-row
    window. Every quantity until the final share divisions is an exact
    long; cent totals stay under 2^53 so the long->double conversions
    are exact in any engine. The inequality profile behind 'top decile
    owns X% of revenue' — and, run over token counts instead of cents,
    the corpus-concentration check of a training mix."""
    from ..ext import features

    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        (F.sum(_dec("o_totalprice")) * 100).cast("long").alias("_cents")
    )
    ranked = features.global_rank(cust, ["_cents", "o_custkey"], "_r")
    n_row = cust.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    dec = ranked.crossJoin(F.broadcast(n_row)).withColumn(
        "decile", features.ntile_from_rank(F.col("_r"), F.col("_n"), 10)
    )
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("_cents").cast("long").alias("_dc"),
    )
    w = (
        Window.partitionBy(F.pmod(F.xxhash64("decile"), F.lit(1)))
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = per.agg(F.sum("_dc").cast("long").alias("_t"))
    return (
        per.withColumn("_cum", F.sum("_dc").over(w).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            (F.col("_dc").cast("double") / F.col("_t").cast("double")).alias(
                "share"
            ),
            (F.col("_cum").cast("double") / F.col("_t").cast("double")).alias(
                "cum_share"
            ),
        )
    )


ORACLE_Q151 = """
with cust as (
  select o_custkey,
         cast(sum(cast(o_totalprice as decimal(12,2))) * 100 as bigint)
           as cents
  from orders group by o_custkey),
r as (select o_custkey, cents,
             ntile(10) over (order by cents, o_custkey) as decile
      from cust),
per as (select decile, cast(count(*) as bigint) as n_customers,
               cast(sum(cents) as bigint) as dc
        from r group by decile),
tot as (select cast(sum(dc) as bigint) as t from per)
select cast(decile as bigint) as decile, n_customers,
       cast(dc as double) / cast(t as double) as share,
       cast(sum(dc) over (order by decile
                          rows between unbounded preceding and current row)
            as double) / cast(t as double) as cum_share
from per cross join tot
"""


def q152_bounded_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion: users whose first purchase lands within
    ONE HOUR of their first click — the deadline-constrained funnel
    (plain ordered funnels have no clock). Two per-user min aggregates
    on exact epoch micros, one join, exact counts, one division."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    first_click = ev.where(F.col("event_type") == "click").groupBy(
        "user_id"
    ).agg(F.min(us).alias("_c"))
    first_buy_after = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", us.alias("_p"))
        .join(first_click, "user_id")
        .where(F.col("_p") >= F.col("_c"))
        .groupBy("user_id")
        .agg(F.min("_p").alias("_p"), F.max("_c").alias("_c"))
    )
    flags = first_click.join(
        first_buy_after.select(
            "user_id",
            (F.col("_p") - F.col("_c") <= 3_600_000_000).cast("long").alias(
                "_in_hour"
            ),
        ),
        "user_id",
        "left",
    )
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_clickers"),
        F.sum(F.coalesce(F.col("_in_hour"), F.lit(0)))
        .cast("long")
        .alias("n_converted_1h"),
    ).withColumn(
        "conversion_1h",
        F.col("n_converted_1h").cast("double")
        / F.col("n_clickers").cast("double"),
    )


ORACLE_Q152 = """
with fc as (
  select user_id, min(epoch_us(ts)) as c
  from events where event_type = 'click' group by user_id),
fb as (
  select e.user_id, min(epoch_us(e.ts)) as p, max(fc.c) as c
  from events e join fc using (user_id)
  where e.event_type = 'purchase' and epoch_us(e.ts) >= fc.c
  group by e.user_id),
flags as (
  select fc.user_id,
         case when fb.p - fb.c <= 3600000000 then 1 else 0 end as in_hour
  from fc left join fb using (user_id))
select cast(count(*) as bigint) as n_clickers,
       cast(sum(coalesce(in_hour, 0)) as bigint) as n_converted_1h,
       cast(sum(coalesce(in_hour, 0)) as double) / cast(count(*) as double)
         as conversion_1h
from flags
"""


def q153_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority order-value trend line (ext/features.ols_by_group):
    exact OLS of cent totals against epoch days — sufficient statistics
    in decimal(38,0), one float expression at the end, bit-replayable
    (DuckDB mirrors with hugeint)."""
    from ..ext import features

    o = load(spark, sf_dir, "orders")
    x = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
    y = (_dec("o_totalprice") * 100).cast("long")
    return features.ols_by_group(o, "o_orderpriority", x, y)


ORACLE_Q153 = """
with base as (
  select o_orderpriority,
         cast(date_diff('day', DATE '1992-01-01', cast(o_orderdate as date))
              as hugeint) as x,
         cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)
              as hugeint) as y
  from orders),
s as (
  select o_orderpriority, cast(count(*) as bigint) as n,
         sum(x) as sx, sum(y) as sy, sum(x*x) as sxx, sum(x*y) as sxy
  from base group by o_orderpriority)
select o_orderpriority, n,
       cast(cast(n as hugeint)*sxy - sx*sy as double)
         / cast(cast(n as hugeint)*sxx - sx*sx as double) as slope,
       (cast(sy as double)
        - (cast(cast(n as hugeint)*sxy - sx*sy as double)
           / cast(cast(n as hugeint)*sxx - sx*sx as double))
          * cast(sx as double)) / cast(n as double) as intercept
from s
where n >= 2 and (cast(n as hugeint)*sxx - sx*sx) <> 0
"""


def q154_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day (ext/asof.
    cumulative_distinct_daily): first-day-per-user aggregate + a
    calendar-sized running window — no running-distinct state, all
    integers."""
    return asof.cumulative_distinct_daily(
        load(spark, sf_dir, "events"), "user_id", "ts"
    )


ORACLE_Q154 = """
with first as (
  select user_id, min(cast(ts as date)) as day from events group by user_id),
per as (select day, cast(count(*) as bigint) as new_keys from first group by day)
select day, new_keys,
       cast(sum(new_keys) over (order by day
                                rows between unbounded preceding and current row)
            as bigint) as cum_distinct
from per
"""
