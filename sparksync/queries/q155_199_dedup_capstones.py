"""Dedup capstones: cluster keepers, survivorship, HLL, z-order, semantic dedup, the composed dedup report.

Verbatim slice of the pre-split sparksync/queries.py (band q155-q199).
"""

from __future__ import annotations

from ._base import *  # noqa: F401,F403 — shared fixture/session surface
from ._base import _dec, _register_views  # noqa: F401

from .q100_154_analytics import ORACLE_Q118  # noqa: F401
from .q018_049_llm_ext import ORACLE_Q19  # noqa: F401


def q155_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives split new vs returning (ext/asof.
    new_vs_returning_daily): one first-day aggregate joined back to
    per-(user, day) activity; integer counts."""
    return asof.new_vs_returning_daily(
        load(spark, sf_dir, "events"), "user_id", "ts"
    )


ORACLE_Q155 = """
with act as (select distinct user_id, cast(ts as date) as day from events),
first as (select user_id, min(day) as f from act group by user_id)
select day, cast(count(*) as bigint) as active,
       cast(sum(case when day = f then 1 else 0 end) as bigint) as new_keys,
       cast(sum(case when day > f then 1 else 0 end) as bigint)
         as returning_keys
from act join first using (user_id) group by day
"""


def q156_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average order value per priority (ext/asof.
    time_weighted_average): each order's cents hold until the group's
    next order; products in decimal(38,0), one final division — DuckDB
    mirrors with hugeint."""
    o = load(spark, sf_dir, "orders")
    cents = (_dec("o_totalprice") * 100).cast("long")
    return asof.time_weighted_average(
        o, "o_orderpriority", "o_orderdate", cents, "o_orderkey"
    )


ORACLE_Q156 = """
with base as (
  select o_orderpriority, o_orderkey,
         epoch_us(o_orderdate) // 1000000 as sec,
         cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint) as v
  from orders),
obs as (
  select o_orderpriority, v,
         lead(sec) over (partition by o_orderpriority
                         order by sec, o_orderkey) - sec as gap
  from base)
select o_orderpriority,
       cast(count(*) as bigint) as n_intervals,
       cast(sum(gap) as bigint) as total_seconds,
       cast(sum(cast(v as hugeint) * cast(gap as hugeint)) as double)
         / cast(sum(gap) as double) as twap
from obs where gap is not null group by o_orderpriority
"""


def q157_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve (ext/textops.
    vocab_growth_curve): distinct tokens after docs 1..k, sampled every
    100 docs — first-appearance aggregate + calendar-style running
    window, all integers."""
    return textops.vocab_growth_curve(
        load(spark, sf_dir, "documents"), every=100
    )


ORACLE_Q157 = """
with toks as (
  select doc_id,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) as tok
  from documents),
first as (select tok, min(doc_id) as d from toks group by tok),
per as (select d, cast(count(*) as bigint) as nw from first group by d),
curve as (
  select d, cast(sum(nw) over (order by d
                               rows between unbounded preceding and current row)
               as bigint) as vocab_size
  from per)
select d as docs_ingested, vocab_size from curve where d % 100 = 0
"""


def q158_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty (ext/textops.ngram_novelty): fraction of a
    doc's shingles that occur nowhere else — inverted-index shape,
    integers until one final division."""
    return textops.ngram_novelty(load(spark, sf_dir, "documents"))


ORACLE_Q158 = """
with docs as (
  select doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
docs3 as (select * from docs where len(toks) >= 3),
sh as (
  select distinct doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] as shingle
  from docs3, unnest(range(1, len(toks) - 1)) t(i)),
dfreq as (select shingle, cast(count(*) as bigint) as df
          from sh group by shingle)
select doc_id, cast(count(*) as bigint) as n_shingles,
       cast(sum(case when df = 1 then 1 else 0 end) as bigint)
         as n_unique_to_doc,
       cast(sum(case when df = 1 then 1 else 0 end) as double)
         / cast(count(*) as double) as novelty
from sh join dfreq using (shingle) group by doc_id
"""


def q159_cluster_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup dedup decision (ext/dedup.
    near_dup_cluster_keeper): MinHash+LSH pairs -> connected components
    -> one keeper per cluster by n_chars quality, ties to the smallest
    id; singletons keep themselves. LSH at threshold 0.8 equals the
    exact-Jaccard pair set on this corpus (the pinned q19==q20
    property), so the oracle clusters the exact pairs."""
    from ..ext import dedup

    return dedup.near_dup_cluster_keeper(
        load(spark, sf_dir, "documents"), "n_chars"
    )


ORACLE_Q159 = """
with recursive
docs as (
  select doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') as toks
  from documents),
docs3 as (select * from docs where len(toks) >= 3),
sh as (
  select distinct doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] as shingle
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
  select n.node as doc_id, least(n.node, min(r.b)) as component
  from nodes n left join reach r on r.a = n.node group by n.node),
labeled as (
  select d.doc_id, cast(d.n_chars as bigint) as quality,
         coalesce(c.component, d.doc_id) as cluster_id
  from documents d left join comp c using (doc_id)),
ranked as (
  select *, row_number() over (partition by cluster_id
                               order by quality desc, doc_id asc) as rn,
         count(*) over (partition by cluster_id) as nm
  from labeled)
select doc_id, cluster_id, quality, cast(nm as bigint) as n_members,
       cast(case when rn = 1 then 1 else 0 end as bigint) as kept
from ranked
"""


def q160_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map synthesis + pruning audit (compare.zone_map_stats /
    pruning_audit): per-1000-orderkey bucket min/max of l_shipdate,
    then the fraction of buckets (and rows) a 1994 ship-date predicate
    could skip on stats alone — parquet row-group pruning as a
    queryable, auditable table."""
    from .. import compare as comparemod

    li = load(spark, sf_dir, "lineitem")
    stats = comparemod.zone_map_stats(li, "l_orderkey", 1000, "l_shipdate")
    return comparemod.pruning_audit(
        stats,
        "l_shipdate",
        F.lit("1994-01-01 00:00:00").cast("timestamp"),
        F.lit("1994-12-31 23:59:59.999999").cast("timestamp"),
    )


ORACLE_Q160 = """
with stats as (
  select cast(floor(l_orderkey / 1000) as bigint) as bucket,
         cast(count(*) as bigint) as n_rows,
         min(l_shipdate) as smin, max(l_shipdate) as smax
  from lineitem group by 1),
flags as (
  select *, (smax < TIMESTAMP '1994-01-01 00:00:00'
             or smin > TIMESTAMP '1994-12-31 23:59:59.999999') as prunable
  from stats)
select cast(count(*) as bigint) as n_buckets,
       cast(sum(case when prunable then 1 else 0 end) as bigint)
         as prunable_buckets,
       cast(sum(n_rows) as bigint) as rows_total,
       cast(sum(case when prunable then n_rows else 0 end) as bigint)
         as rows_skipped,
       cast(sum(case when prunable then n_rows else 0 end) as double)
         / cast(sum(n_rows) as double) as skip_fraction
from flags
"""



def q161_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long UNPIVOT of per-doc quality metrics (n_tokens,
    char_len, stop_cnt) into a tall (doc_id, metric, value) table —
    the melt every metrics store wants; a pure narrow map (Spark's
    native unpivot/Expand, no shuffle)."""
    q = textops.quality_score(load(spark, sf_dir, "documents"))
    return q.select("doc_id", "n_tokens", "char_len", "stop_cnt").unpivot(
        ["doc_id"], ["n_tokens", "char_len", "stop_cnt"], "metric", "value"
    )


ORACLE_Q161 = """
with q as (
  select doc_id,
         cast(len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
              as bigint) as n_tokens,
         cast(length(text) as bigint) as char_len,
         cast(len(list_filter(string_split(trim(text), ' '),
                              x -> x in ('the', 'a', 'of'))) as bigint)
           as stop_cnt
  from documents)
select doc_id, 'n_tokens' as metric, n_tokens as value from q
union all select doc_id, 'char_len', char_len from q
union all select doc_id, 'stop_cnt', stop_cnt from q
"""


def q162_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment + balance audit (ext/sampling.
    shard_balance_audit): portable-md5 sharding of documents weighted
    by n_chars, exact per-shard totals, one share division."""
    from ..ext import sampling

    return sampling.shard_balance_audit(
        load(spark, sf_dir, "documents"), "doc_id", "n_chars", n_shards=8
    )


ORACLE_Q162 = """
with s as (
  select cast(cast('0x' || substring(md5('shard:' || cast(doc_id as varchar)),
                                     1, 15) as ubigint) % 8 as bigint) as shard,
         cast(n_chars as bigint) as w
  from documents),
per as (select shard, cast(count(*) as bigint) as n_rows,
               cast(sum(w) as bigint) as total_weight
        from s group by shard),
tot as (select cast(sum(n_rows) as bigint) as t from per)
select shard, n_rows, total_weight,
       cast(n_rows as double) / cast(t as double) as row_share
from per cross join tot
"""


def q163_bloom_semi_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join audit (ext/skew.bloom_semi_join_audit):
    customers probed against a 256-bit, 3-hash portable bloom built
    from region-2 nations — the measured false-positive cost of a
    runtime filter vs the exact semi-join, as one audit row."""
    from ..ext import skew

    cust = load(spark, sf_dir, "customer")
    dim = load(spark, sf_dir, "nation").where(F.col("n_regionkey") == 2)
    return skew.bloom_semi_join_audit(
        cust, dim, "c_nationkey", "n_nationkey", m_bits=256, k=3
    )


ORACLE_Q163 = """
with bkeys as (
  select distinct n_nationkey as key from nation where n_regionkey = 2),
bpos as (
  select distinct
         cast('0x' || substring(md5('bloom:' || cast(i as varchar) || ':'
                                    || cast(key as varchar)), 1, 15)
              as ubigint) % 256 as pos
  from bkeys, unnest([0, 1, 2]) t(i)),
ppos as (
  select c_custkey, c_nationkey,
         cast('0x' || substring(md5('bloom:' || cast(i as varchar) || ':'
                                    || cast(c_nationkey as varchar)), 1, 15)
              as ubigint) % 256 as pos
  from customer, unnest([0, 1, 2]) t(i)),
flags as (
  select c_custkey,
         min(case when bp.pos is not null then 1 else 0 end) as pass,
         max(case when c_nationkey in (select key from bkeys)
                  then 1 else 0 end) as istrue
  from ppos left join bpos bp using (pos)
  group by c_custkey)
select cast(count(*) as bigint) as n_probe,
       cast(sum(pass) as bigint) as n_bloom_pass,
       cast(sum(istrue) as bigint) as n_true_match,
       cast(sum(case when pass = 1 and istrue = 0 then 1 else 0 end)
            as bigint) as false_positives,
       cast(sum(case when pass = 1 and istrue = 0 then 1 else 0 end)
            as double) / cast(count(*) as double) as fp_rate
from flags
"""



def q164_join_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size forecast (ext/skew.join_size_forecast): predicted
    |orders x lineitem on custkey-side keys| from the two per-key
    count tables — products in decimal(38,0), exact shares, top-10
    contributing keys."""
    from ..ext import skew

    return skew.join_size_forecast(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        "o_orderkey",
        "l_orderkey",
    )


ORACLE_Q164 = """
with ca as (select o_orderkey as key, cast(count(*) as bigint) as cnt_a
            from orders group by 1),
cb as (select l_orderkey as key, cast(count(*) as bigint) as cnt_b
       from lineitem group by 1),
per as (select key, cnt_a, cnt_b,
               cast(cnt_a as hugeint) * cast(cnt_b as hugeint) as o
        from ca join cb using (key)),
tot as (select sum(o) as t from per)
select key, cnt_a, cnt_b, cast(o as bigint) as out_rows,
       cast(t as bigint) as total_out,
       cast(o as double) / cast(t as double) as share
from per cross join tot
order by o desc, key
limit 10
"""


def q165_salting_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting-effectiveness model (ext/skew.salting_effectiveness):
    what splitting every key across 8 salts buys the events
    user-shuffle — hottest-task row count before/after, one speedup
    division."""
    from ..ext import skew

    return skew.salting_effectiveness(
        load(spark, sf_dir, "events"), "user_id", n_salts=8
    )


ORACLE_Q165 = """
with c as (select user_id, cast(count(*) as bigint) as c
           from events group by user_id)
select cast(count(*) as bigint) as n_keys,
       cast(sum(c) as bigint) as rows_total,
       cast(max(c) as bigint) as max_key_rows,
       cast(max(ceil(cast(c as double) / 8)) as bigint) as post_salt_max,
       cast(max(c) as double)
         / cast(max(ceil(cast(c as double) / 8)) as double) as speedup
from c
"""


def q166_partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic materialized-view maintenance (compare.
    partial_daily_aggregates |> merge_partials): month-grain order
    stats REBUILT from day-grain partials — the oracle aggregates the
    raw rows directly, so the hash check IS the merge-correctness
    identity."""
    from .. import compare as comparemod

    o = load(spark, sf_dir, "orders")
    cents = (_dec("o_totalprice") * 100).cast("long")
    daily = comparemod.partial_daily_aggregates(
        o, "o_orderpriority", "o_orderdate", cents
    )
    return comparemod.merge_partials(daily, "o_orderpriority", "month")


ORACLE_Q166 = """
select o_orderpriority,
       cast(date_trunc('month', cast(o_orderdate as date)) as date) as period,
       cast(count(*) as bigint) as cnt,
       cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint))
            as bigint) as sum,
       cast(min(cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint))
            as bigint) as min,
       cast(max(cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint))
            as bigint) as max
from orders
group by 1, 2
"""



def q167_reference_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus score calibration (ext/features.
    reference_percentile): every document's n_chars percentile within
    the lang='en' reference subset — the global_cumsum merge trick, no
    sort of probe-vs-reference, exact until one division."""
    from ..ext import features

    docs = load(spark, sf_dir, "documents")
    return features.reference_percentile(
        docs, docs.where(F.col("lang") == "en"), "n_chars", "doc_id"
    )


ORACLE_Q167 = """
with ref as (select cast(n_chars as bigint) as v from documents
             where lang = 'en'),
refn as (select cast(count(*) as bigint) as n from ref),
cumt as (select v, cast(count(*) as bigint) as c from ref group by v),
probe as (select doc_id, cast(n_chars as bigint) as n_chars from documents)
select p.doc_id, p.n_chars, refn.n as ref_n,
       cast((select coalesce(sum(c), 0) from cumt where cumt.v <= p.n_chars)
            as double) / cast(refn.n as double) as pct
from probe p cross join refn
"""


def q168_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient of the brand co-purchase graph
    (ext/graph.clustering_coefficient over q113's basket pairs):
    triangles / wedges per node, degree-ordered triangle enumeration,
    one exact division."""
    from ..ext import features, graph

    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    baskets = li.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        li.l_partkey == p.p_partkey,
    ).select("l_orderkey", "p_brand")
    edges = features.cooccurrence_lift(baskets, "l_orderkey", "p_brand")
    return graph.clustering_coefficient(edges, "item_a", "item_b")


ORACLE_Q168 = """
with items as (
  select distinct l_orderkey, p_brand
  from lineitem join part on l_partkey = p_partkey),
pairs as (
  select a.p_brand as x, b.p_brand as y
  from items a join items b using (l_orderkey)
  where a.p_brand < b.p_brand
  group by 1, 2
  having count(*) >= 2),
deg as (
  select node, cast(count(*) as bigint) as degree
  from (select x as node from pairs union all select y from pairs)
  group by node),
tri as (
  select e1.x, e1.y, e2.y as z
  from pairs e1
  join pairs e2 on e1.y = e2.x
  join pairs e3 on e3.x = e1.x and e3.y = e2.y),
tcnt as (
  select node, cast(count(*) as bigint) as t
  from (select x as node from tri
        union all select y from tri
        union all select z from tri)
  group by node)
select d.node, d.degree, cast(coalesce(t.t, 0) as bigint) as triangles,
       case when d.degree >= 2
            then cast(coalesce(t.t, 0) as double)
                 / (cast(d.degree as double) * cast(d.degree - 1 as double) / 2)
            else 0.0 end as coefficient
from deg d left join tcnt t on t.node = d.node
"""


def q169_encoding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding / mojibake QA (ext/textops.encoding_profile): printable-
    ASCII vs non-ASCII vs U+FFFD counts per doc, narrow codegen map,
    one division."""
    return textops.encoding_profile(load(spark, sf_dir, "documents"))


ORACLE_Q169 = """
select doc_id,
       cast(length(text) as bigint) as n_chars,
       cast(length(regexp_replace(text, '[^ -~]', '', 'g')) as bigint)
         as ascii_chars,
       cast(length(text) - length(regexp_replace(text, '[^ -~]', '', 'g'))
            as bigint) as non_ascii,
       cast(length(text) - length(replace(text, chr(65533), ''))
            as bigint) as replacement_chars,
       case when length(text) > 0
            then cast(length(regexp_replace(text, '[^ -~]', '', 'g'))
                      as double) / cast(length(text) as double)
            else 1.0 end as ascii_ratio,
       cast(case when (case when length(text) > 0
                  then cast(length(regexp_replace(text, '[^ -~]', '', 'g'))
                            as double) / cast(length(text) as double)
                  else 1.0 end) >= 0.8
             and length(text) = length(replace(text, chr(65533), ''))
            then 1 else 0 end as bigint) as flag_ok
from documents
"""


def q170_quantile_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit (ext/skew.quantile_error_audit): the
    hash-sampled quantile profile's true rank error per event_type and
    quantile, measured exactly against the full events table — the
    companion honesty check to q98's profile itself."""
    from ..ext import skew

    return skew.quantile_error_audit(
        load(spark, sf_dir, "events"), "event_type", "value", "event_id"
    )


ORACLE_Q170 = """
with s as (
  select event_type, cast(value as double) as v
  from events
  where cast(cast('0x' || substring(md5('sq|' || cast(event_id as varchar)),
                                    1, 15) as ubigint) as bigint)
        < 230584300921369408),
prof as (
  select event_type,
         quantile_cont(v, 0.25) as p25, quantile_cont(v, 0.5) as p50,
         quantile_cont(v, 0.75) as p75, quantile_cont(v, 0.95) as p95
  from s group by event_type),
long_form as (
  select event_type, cast(0.25 as double) as p, p25 as edge from prof
  union all select event_type, cast(0.5 as double), p50 from prof
  union all select event_type, cast(0.75 as double), p75 from prof
  union all select event_type, cast(0.95 as double), p95 from prof),
per as (
  select e.event_type, lf.p, lf.edge,
         cast(count(*) as bigint) as n_rows,
         cast(sum(case when cast(e.value as double) <= lf.edge
                       then 1 else 0 end) as bigint) as rank_le
  from events e join long_form lf using (event_type)
  group by 1, 2, 3)
select event_type, p, edge, n_rows, rank_le,
       abs(cast(rank_le as double) / cast(n_rows as double) - p)
         as rank_error
from per
"""


def q171_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-completeness monitor (ext/asof.calendar_gaps): per user,
    every calendar day inside that user's own [first, last] activity
    span with NO events — the silence that means a crawler or
    pipeline stage died. Grouped by user_id (event_type spans are
    gap-free at every SF — a 0-row gate proves nothing); the explode
    is calendar-sized (days in span), never data-sized."""
    from ..ext import asof

    return asof.calendar_gaps(load(spark, sf_dir, "events"), "user_id", "ts")


ORACLE_Q171 = """
with days as (
  select distinct user_id, cast(ts as date) as d from events),
span as (
  select user_id, min(d) as lo, max(d) as hi from days group by 1),
allday as (
  select user_id,
         cast(unnest(generate_series(cast(lo as timestamp),
                                     cast(hi as timestamp),
                                     interval 1 day)) as date) as missing_day
  from span)
select a.user_id, a.missing_day
from allday a
left join days dd
  on a.user_id = dd.user_id and a.missing_day = dd.d
where dd.d is null
"""


def q172_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-release gate (ext/features.k_anonymity_audit): share of
    customer rows sitting in (nation, market-segment) quasi-identifier
    groups smaller than k=5 — the k-anonymity audit run before a
    dataset leaves the boundary. One groupBy + one tiny reduction."""
    from ..ext import features

    return features.k_anonymity_audit(
        load(spark, sf_dir, "customer"), ["c_nationkey", "c_mktsegment"], k=5
    )


ORACLE_Q172 = """
with g as (
  select c_nationkey, c_mktsegment, cast(count(*) as bigint) as _n
  from customer group by 1, 2)
select cast(5 as bigint) as k,
       cast(sum(_n) as bigint) as n_rows,
       cast(count(*) as bigint) as n_groups,
       cast(sum(case when _n < 5 then 1 else 0 end) as bigint)
         as groups_below_k,
       cast(sum(case when _n < 5 then _n else 0 end) as bigint)
         as rows_at_risk,
       cast(sum(case when _n < 5 then _n else 0 end) as double)
         / cast(sum(_n) as double) as at_risk_share
from g
"""


def q173_mode_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode with a deterministic tiebreak
    (ext/features.mode_by_group): the most frequent order status per
    priority, ties broken toward the smallest value — the replayable
    version of engine MODE() aggregates whose tie choice is
    implementation-defined. Two partial-agg shuffles, no window."""
    from ..ext import features

    return features.mode_by_group(
        load(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    )


ORACLE_Q173 = """
with cnt as (
  select o_orderpriority, o_orderstatus, cast(count(*) as bigint) as _c
  from orders group by 1, 2),
r as (
  select *, row_number() over (
    partition by o_orderpriority order by _c desc, o_orderstatus asc) as rn
  from cnt)
select o_orderpriority, o_orderstatus as mode_value, _c as mode_count
from r where rn = 1
"""


def q174_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness (ext/asof.stickiness): per day, distinct
    users active that day vs the trailing 7-day window, exactly — the
    engagement ratio, with the trailing window built by a
    calendar-sized explode instead of a per-day self-join."""
    from ..ext import asof

    return asof.stickiness(load(spark, sf_dir, "events"), "user_id", "ts", 7)


ORACLE_Q174 = """
with days as (
  select distinct cast(ts as date) as day, user_id as u from events),
dau as (
  select day, cast(count(*) as bigint) as dau from days group by 1),
cover as (
  select distinct u,
         cast(unnest(generate_series(cast(day as timestamp),
                                     cast(day as timestamp) + interval 6 day,
                                     interval 1 day)) as date) as day
  from days),
wau as (
  select day, cast(count(*) as bigint) as wau from cover group by 1)
select dau.day, dau.dau, wau.wau,
       cast(dau.dau as double) / cast(wau.wau as double) as stickiness
from dau join wau using (day)
order by dau.day
"""


def q175_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust mean (ext/features.winsorized_stats): per
    event_type, values clipped into the exact [p5, p95] band, mean
    from an exact decimal sum — the repaired aggregate companion to
    q97's MAD outlier flags."""
    from ..ext import features

    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return features.winsorized_stats(ev, "event_type", "value", 0.05, 0.95)


ORACLE_Q175 = """
with e as (
  select event_type, cast(value as double) as v
  from events where value is not null),
b as (
  select event_type,
         quantile_cont(v, 0.05) as p_lo,
         quantile_cont(v, 0.95) as p_hi
  from e group by 1),
j as (
  select e.event_type, b.p_lo, b.p_hi,
         least(greatest(e.v, b.p_lo), b.p_hi) as c,
         (case when e.v < b.p_lo then 1 else 0 end
          + case when e.v > b.p_hi then 1 else 0 end) as clip
  from e join b using (event_type))
select event_type,
       cast(count(*) as bigint) as n,
       min(p_lo) as p_lo,
       min(p_hi) as p_hi,
       cast(sum(clip) as bigint) as n_clipped,
       cast(sum(cast(c as decimal(18,6))) as double)
         / cast(count(*) as double) as winsorized_mean
from j group by event_type
"""


def q176_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time histogram (ext/asof.interarrival_histogram):
    per event_type, how the microsecond-exact gaps between a user's
    consecutive events distribute across fixed CASE buckets — the
    burstiness profile that sizes session windows and watermarks."""
    from ..ext import asof

    return asof.interarrival_histogram(
        load(spark, sf_dir, "events"), "event_type", "user_id", "ts", "event_id"
    )


ORACLE_Q176 = """
with g as (
  select event_type,
         epoch_us(ts) - lag(epoch_us(ts)) over (
           partition by event_type, user_id order by ts, event_id) as gap
  from events)
select event_type,
       case when gap <= 1000000 then '<=1s'
            when gap <= 10000000 then '<=10s'
            when gap <= 60000000 then '<=1m'
            when gap <= 600000000 then '<=10m'
            when gap <= 3600000000 then '<=1h'
            when gap <= 86400000000 then '<=1d'
            else '>1d' end as bucket,
       cast(count(*) as bigint) as n_gaps
from g where gap is not null
group by 1, 2
"""


def q177_fk_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-completeness matrix (compare.fk_completeness_matrix):
    one audit table over every declared FK — the run-this-first report
    before `add constraint` on a loaded target, generalizing q67's
    single-FK audit to the whole schema."""
    from ..catalog import FIXTURE_FOREIGN_KEYS
    from ..compare import fk_completeness_matrix

    pairs = [
        (
            fk.constraint_name,
            load(spark, sf_dir, fk.table),
            fk.columns[0],
            load(spark, sf_dir, fk.ref_table),
            fk.ref_columns[0],
        )
        for fk in FIXTURE_FOREIGN_KEYS
    ]
    return fk_completeness_matrix(pairs)


def _fk_audit_block(fk_name: str, child: str, ckey: str, parent: str, pkey: str) -> str:
    return f"""select '{fk_name}' as fk_name,
       cast(count(*) as bigint) as n_child,
       cast(sum(case when {ckey} is null then 1 else 0 end) as bigint)
         as n_null_key,
       cast(sum(case when {ckey} is not null and not exists
                  (select 1 from {parent} p where p.{pkey} = c.{ckey})
                then 1 else 0 end) as bigint) as n_orphans,
       cast(sum(case when {ckey} is not null and not exists
                  (select 1 from {parent} p where p.{pkey} = c.{ckey})
                then 1 else 0 end) as double)
         / cast(greatest(count(*) - sum(case when {ckey} is null then 1
                                             else 0 end), 1) as double)
         as orphan_share
from {child} c"""


def q178_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup capstone (ext/similarity.semantic_dedup_keeper):
    RP-LSH candidate pairs -> exact-cosine threshold -> connected
    components -> one highest-quality keeper per cluster — the
    embedding-space twin of q159's lexical pipeline, run AFTER minhash
    to catch near-identical meaning in different tokens. Threshold 0.42
    sits inside this synthetic corpus's similarity range so real
    multi-member clusters form at every SF."""
    from ..ext import similarity

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), F.col("n_chars").alias("quality")
    )
    # n_planes PINNED at 32 so ORACLE_Q178's inlined planes replay
    # bit-for-bit at any SF; production callers default to
    # n_planes=None -> rp_lsh_params auto-sizing (VERDICT r10 #1).
    return similarity.semantic_dedup_keeper(
        emb, docs, threshold=0.42, n_planes=32
    )


def _oracle_q178() -> str:
    """DuckDB replay of semantic_dedup_keeper: the q32 plane/band
    inlining (deterministic sha-seeded planes; both engines accumulate
    the dot products sequentially, so buckets and cosines agree
    bit-for-bit), Spark's exact cosine formula
    dot/(sqrt(ss_a)*sqrt(ss_b)) spelled out, then q159's recursive
    transitive closure + keeper. No float column in the output."""
    from ..ext.similarity import _rp_planes

    n_planes, n_bands, dim = 32, 4, 64
    width = n_planes // n_bands
    planes = _rp_planes(n_planes, dim)

    def lit(plane: list) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    def bucket(bi: int) -> str:
        return " + ".join(
            f"(case when list_dot_product(v, {lit(planes[bi * width + i])}) >= 0"
            f" then {2 ** i} else 0 end)"
            for i in range(width)
        )

    keyed = "\nunion all\n".join(
        f"select vec_id, v, {bi} as band, {bucket(bi)} as bucket from e"
        for bi in range(n_bands)
    )
    return f"""
with recursive
e as (select vec_id,
             list_transform(embedding, x -> cast(x as double)) as v
      from embeddings),
keyed as (
{keyed}
),
cand as (
  select distinct a.vec_id as d1, b.vec_id as d2
  from keyed a join keyed b
    on a.band = b.band and a.bucket = b.bucket and a.vec_id < b.vec_id),
pairs as (
  select d1, d2
  from cand join e ea on ea.vec_id = cand.d1 join e eb on eb.vec_id = cand.d2
  where list_dot_product(ea.v, eb.v)
          / (sqrt(list_dot_product(ea.v, ea.v))
             * sqrt(list_dot_product(eb.v, eb.v))) >= 0.42),
edges as (select d1 as a, d2 as b from pairs
          union all select d2, d1 from pairs),
reach(a, b) as (
  select a, b from edges
  union
  select r.a, e2.b from reach r join edges e2 on r.b = e2.a),
nodes as (select distinct a as node from edges),
comp as (
  select n.node as vec_id, least(n.node, min(r.b)) as component
  from nodes n left join reach r on r.a = n.node group by n.node),
labeled as (
  select em.vec_id, cast(d.n_chars as bigint) as quality,
         coalesce(c.component, em.vec_id) as cluster_id
  from embeddings em
  join documents d on d.doc_id = em.vec_id
  left join comp c on c.vec_id = em.vec_id),
ranked as (
  select *, row_number() over (partition by cluster_id
                               order by quality desc, vec_id asc) as rn,
         count(*) over (partition by cluster_id) as nm
  from labeled)
select vec_id, cluster_id, quality, cast(nm as bigint) as n_members,
       cast(case when rn = 1 then 1 else 0 end as bigint) as kept
from ranked
"""


ORACLE_Q178 = _oracle_q178()


def q179_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-concentration profile (ext/sampling.source_concentration):
    per language, Herfindahl index + effective source count from exact
    integer aggregates — 'is this slice of the corpus one mirror site
    in a trenchcoat?' — with no order-dependent float sums anywhere."""
    from ..ext import sampling

    return sampling.source_concentration(
        load(spark, sf_dir, "documents"), "lang", "source"
    )


ORACLE_Q179 = """
with cnt as (
  select lang, source, cast(count(*) as bigint) as c
  from documents group by 1, 2),
a as (
  select lang, cast(sum(c) as bigint) as n_docs,
         cast(count(*) as bigint) as n_sources,
         cast(max(c) as bigint) as top,
         sum(cast(c as hugeint) * cast(c as hugeint)) as ss
  from cnt group by lang)
select lang, n_docs, n_sources,
       cast(top as double) / cast(n_docs as double) as top_share,
       cast(ss as double)
         / (cast(n_docs as double) * cast(n_docs as double)) as hhi,
       1.0 / (cast(ss as double)
              / (cast(n_docs as double) * cast(n_docs as double)))
         as effective_sources
from a
"""


def q180_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (ext/dedup.cross_source_dup_matrix):
    the q20 MinHash+LSH near-dup pairs rolled up to unordered source
    pairs — WHERE the duplication comes from. Oracle = the exact q19
    pair SQL + the same rollup (q20 == q19 set-exactly at gate SFs)."""
    from ..ext import dedup as dd

    return dd.cross_source_dup_matrix(load(spark, sf_dir, "documents"), 0.8)


ORACLE_Q180 = f"""
with p as ({ORACLE_Q19})
select least(da.source, db.source) as source_a,
       greatest(da.source, db.source) as source_b,
       cast(count(*) as bigint) as n_pairs
from p
join documents da on da.doc_id = p.d1
join documents db on db.doc_id = p.d2
group by 1, 2
"""


def q181_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (ext/features.benford_audit): chi2
    distance of o_totalprice's leading-digit distribution from
    Benford's law, per order priority — the synthetic-data / fraud /
    unit-mixup screen for financial columns. Digits come from the
    decimal string rendering; chi2 is a fixed-order expression chain."""
    from ..ext import features

    return features.benford_audit(
        load(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )


def _oracle_q181() -> str:
    """Mirror of benford_audit in SQL: same digit extraction (decimal
    string), same inlined probability literals, same left-associative
    chi2 term order — so every double replays bit-for-bit."""
    from ..ext.features import BENFORD_P

    obs = ",\n         ".join(
        f"cast(sum(case when d = '{i}' then 1 else 0 end) as bigint) as o{i}"
        for i in range(1, 10)
    )
    chi_terms = " + ".join(
        f"((cast(o{i} as double) - nd * {BENFORD_P[i - 1]!r})"
        f" * (cast(o{i} as double) - nd * {BENFORD_P[i - 1]!r})"
        f" / (nd * {BENFORD_P[i - 1]!r}))"
        for i in range(1, 10)
    )
    dev_terms = ", ".join(
        f"abs(cast(o{i} as double) / nd - {BENFORD_P[i - 1]!r})"
        for i in range(1, 10)
    )
    return f"""
with base as (
  select o_orderpriority,
         substring(cast(cast(o_totalprice as decimal(12,2)) as varchar), 1, 1)
           as d
  from orders where cast(o_totalprice as double) >= 1),
agg as (
  select o_orderpriority, cast(count(*) as bigint) as n,
         {obs}
  from base group by o_orderpriority),
x as (select *, cast(n as double) as nd from agg)
select o_orderpriority, n,
       {chi_terms} as chi2,
       greatest({dev_terms}) as max_abs_dev
from x
"""


ORACLE_Q181 = _oracle_q181()


def q182_lag1_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event volume per event_type
    (ext/features.lag1_autocorr) — the trend screen before fitting any
    forecaster, with decimal-exact product sums (q103 discipline)."""
    from ..ext import features

    return features.lag1_autocorr(load(spark, sf_dir, "events"), "event_type", "ts")


ORACLE_Q182 = """
with daily as (
  select event_type, cast(ts as date) as day,
         cast(count(*) as bigint) as c
  from events group by 1, 2),
pairs as (
  select event_type, c,
         lag(c) over (partition by event_type order by day) as p
  from daily),
agg as (
  select event_type,
         cast(count(*) as bigint) as n_pairs,
         cast(sum(c) as bigint) as sx,
         cast(sum(p) as bigint) as sy,
         sum(cast(c as hugeint) * cast(c as hugeint)) as sxx,
         sum(cast(p as hugeint) * cast(p as hugeint)) as syy,
         sum(cast(c as hugeint) * cast(p as hugeint)) as sxy
  from pairs where p is not null group by event_type),
x as (
  select event_type, n_pairs,
         cast(n_pairs as double) as n, cast(sx as double) as dsx,
         cast(sy as double) as dsy, cast(sxx as double) as dsxx,
         cast(syy as double) as dsyy, cast(sxy as double) as dsxy
  from agg)
select event_type, n_pairs,
       case when (n * dsxx - dsx * dsx) * (n * dsyy - dsy * dsy) > 0
            then (n * dsxy - dsx * dsy)
                 / sqrt((n * dsxx - dsx * dsx) * (n * dsyy - dsy * dsy))
            else null end as autocorr
from x
"""


def q183_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval fusion (ext/similarity.rrf_fuse): BM25 lexical
    top-15 for {data, spark, vector} fused with embedding-cosine top-15
    neighbors of vec 0 by reciprocal-rank fusion — the standard hybrid
    search combiner, scores as fixed two-term expressions."""
    from ..ext import similarity as sim
    from ..ext import textops

    docs = load(spark, sf_dir, "documents")
    lex = textops.bm25_topk(
        docs, ["data", "spark", "vector"], k=15, idf_mode="rational"
    )
    lex_r = sim._ranked_topk(
        lex, 15, [F.col("score").desc(), F.col("doc_id")], ["doc_id", "rnk"]
    ).withColumnRenamed("rnk", "rank_a")
    sem_r = (
        sim.knn_brute(load(spark, sf_dir, "embeddings"), query_id=0, k=15)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rnk").alias("rank_b"))
    )
    return sim.rrf_fuse(lex_r, sem_r, id_col="doc_id")


ORACLE_Q183 = f"""
with lex as ({ORACLE_Q118}),
lexr as (
  select doc_id,
         cast(row_number() over (order by score desc, doc_id) as bigint)
           as rank_a
  from lex),
q as (select embedding as qe from embeddings where vec_id = 0),
semscored as (
  select vec_id,
         list_cosine_similarity(list_transform(embedding, x -> cast(x as double)),
                                list_transform(qe,        x -> cast(x as double)))
           as cos
  from embeddings, q where vec_id <> 0),
semr as (
  select vec_id as doc_id,
         cast(row_number() over (order by cos desc, vec_id) as bigint)
           as rank_b
  from semscored order by cos desc, vec_id limit 15),
fused as (
  select coalesce(lexr.doc_id, semr.doc_id) as doc_id,
         lexr.rank_a, semr.rank_b,
         (case when lexr.rank_a is not null
               then 1.0 / (60.0 + cast(lexr.rank_a as double)) else 0.0 end)
         + (case when semr.rank_b is not null
                 then 1.0 / (60.0 + cast(semr.rank_b as double)) else 0.0 end)
           as rrf
  from lexr full outer join semr on lexr.doc_id = semr.doc_id)
select doc_id, rank_a, rank_b, rrf,
       cast(row_number() over (order by rrf desc, doc_id) as bigint)
         as fused_rank
from fused
"""


def q184_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-shortcut audit (ext/dedup.minhash_recall_audit): exact
    jaccard pairs vs the MinHash+LSH pairs, with missed/extra counts
    and recall/precision — the audit family (q160/q163/q170) applied
    to dedup itself. The oracle asserts PERFECT recall at gate SFs:
    the exact-pair SQL supplies n_exact, and any pair the LSH path
    missed (or invented) makes the counts hash-mismatch."""
    from ..ext import dedup as dd

    return dd.minhash_recall_audit(load(spark, sf_dir, "documents"), 0.8)


ORACLE_Q184 = f"""
with p as ({ORACLE_Q19}),
c as (select cast(count(*) as bigint) as n_exact_pairs from p),
d as (select cast(count(*) as bigint) as n_docs from documents)
select d.n_docs, c.n_exact_pairs,
       c.n_exact_pairs as n_lsh_pairs,
       cast(0 as bigint) as n_missed,
       cast(0 as bigint) as n_extra,
       cast(c.n_exact_pairs - 0 as double)
         / cast(greatest(c.n_exact_pairs, 1) as double) as recall,
       cast(c.n_exact_pairs - 0 as double)
         / cast(greatest(c.n_exact_pairs, 1) as double) as precision
from d cross join c
"""


def q185_topk_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k + '(other)' residual rollup (ext/sampling.topk_with_other):
    top-3 event types per user-id decile bucket with the long tail
    collapsed to one row — the k+1-rows-per-group dashboard shape."""
    from ..ext import sampling

    ev = load(spark, sf_dir, "events").withColumn(
        "bucket", F.pmod(F.col("user_id"), F.lit(10)).cast("long")
    )
    return sampling.topk_with_other(ev, "bucket", "event_type", k=3)


ORACLE_Q185 = """
with cnt as (
  select user_id % 10 as bucket, event_type,
         cast(count(*) as bigint) as n_rows
  from events group by 1, 2),
ranked as (
  select *, cast(row_number() over (
    partition by bucket order by n_rows desc, event_type asc) as bigint)
      as rnk
  from cnt)
select bucket, event_type, n_rows, rnk from ranked where rnk <= 3
union all
select bucket, '(other)' as event_type,
       cast(sum(n_rows) as bigint) as n_rows, cast(4 as bigint) as rnk
from ranked where rnk > 3 group by bucket
"""


def q186_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness report (compare.freshness_audit): per event_type, the
    latest event, staleness vs the corpus watermark, and trailing
    1-day/7-day row counts — the is-this-feed-alive table, exact
    integer seconds."""
    from ..compare import freshness_audit

    return freshness_audit(load(spark, sf_dir, "events"), "event_type", "ts")


ORACLE_Q186 = """
with wm as (select max(ts) as w from events)
select event_type,
       max(ts) as last_ts,
       cast((epoch_us(w) - epoch_us(max(ts))) // 1000000
            as bigint) as staleness_s,
       cast(sum(case when (epoch_us(w) - epoch_us(ts)) // 1000000 <= 86400
                     then 1 else 0 end) as bigint) as rows_1d,
       cast(sum(case when (epoch_us(w) - epoch_us(ts)) // 1000000 <= 604800
                     then 1 else 0 end) as bigint) as rows_7d,
       cast(count(*) as bigint) as n_rows
from events cross join wm
group by event_type, w
"""


def q187_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility profile (ext/textops.tokenizer_fertility):
    BPE-ish tokens per whitespace word per language from exact integer
    counts — which languages pay a token-budget premium."""
    from ..ext import textops

    return textops.tokenizer_fertility(load(spark, sf_dir, "documents"), "lang")


ORACLE_Q187 = """
with t as (
  select lang,
         cast(len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
              as bigint) as ws,
         cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
              as bigint) as bpe
  from documents)
select lang, cast(count(*) as bigint) as n_docs,
       cast(sum(ws) as bigint) as ws_tokens,
       cast(sum(bpe) as bigint) as bpe_tokens,
       cast(sum(bpe) as double)
         / cast(greatest(sum(ws), 1) as double) as fertility
from t group by lang
"""


# one block per FIXTURE_FOREIGN_KEYS row (kept literal-in-code so the
# oracle stays independent of compare.py's implementation)
ORACLE_Q177 = "\nunion all\n".join(
    _fk_audit_block(*t)
    for t in [
        ("fk_nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
        ("fk_customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("fk_supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("fk_orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("fk_lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("fk_lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("fk_lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("fk_embeddings_doc", "embeddings", "vec_id", "documents", "doc_id"),
    ]
) + "\norder by fk_name"



def q188_lsh_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RP-LSH candidate precision profile (ext/similarity.
    lsh_precision_audit): every candidate pair bucketed by exact cosine
    (width-0.2 bins) with counts, share, and threshold flag — the
    complement of q184's recall audit, measuring what the verify stage
    PAYS for the banding. Cosines replay bit-for-bit (sequential
    folds), so the floor() binning agrees across engines. Threshold
    sits on a bin edge (0.4): above_threshold means the bin's ENTIRE
    range clears it — round 7's mid-bin 0.42 flagged the straddling
    [0.4, 0.6) bin as below-threshold (ADVICE r7)."""
    from ..ext import similarity

    return similarity.lsh_precision_audit(
        load(spark, sf_dir, "embeddings"), threshold=0.4
    )


def _oracle_q188() -> str:
    """q178's inlined-plane keyed CTE + exact cosine, then the same
    floor(cos*5)/5 binning; share divides exact bigints."""
    from ..ext.similarity import _rp_planes

    n_planes, n_bands, dim = 32, 4, 64
    width = n_planes // n_bands
    planes = _rp_planes(n_planes, dim)

    def lit(plane: list) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    def bucket(bi: int) -> str:
        return " + ".join(
            f"(case when list_dot_product(v, {lit(planes[bi * width + i])}) >= 0"
            f" then {2 ** i} else 0 end)"
            for i in range(width)
        )

    keyed = "\nunion all\n".join(
        f"select vec_id, v, {bi} as band, {bucket(bi)} as bucket from e"
        for bi in range(n_bands)
    )
    return f"""
with e as (select vec_id,
                  list_transform(embedding, x -> cast(x as double)) as v
           from embeddings),
keyed as (
{keyed}
),
cand as (
  select distinct a.vec_id as d1, b.vec_id as d2
  from keyed a join keyed b
    on a.band = b.band and a.bucket = b.bucket and a.vec_id < b.vec_id),
scored as (
  select list_dot_product(ea.v, eb.v)
           / (sqrt(list_dot_product(ea.v, ea.v))
              * sqrt(list_dot_product(eb.v, eb.v))) as cos
  from cand join e ea on ea.vec_id = cand.d1
            join e eb on eb.vec_id = cand.d2),
binned as (
  select cast(floor(cos * 5) as double) / cast(5.0 as double) as cos_bin,
         cast(count(*) as bigint) as n_pairs
  from scored group by 1),
tot as (select cast(sum(n_pairs) as bigint) as t from binned)
select cos_bin, n_pairs,
       cast(n_pairs as double) / cast(t as double) as share,
       cast(case when cos_bin >= cast(0.4 as double) then 1 else 0 end
            as bigint) as above_threshold
from binned, tot
"""


ORACLE_Q188 = _oracle_q188()


def q189_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source
    (ext/textops.charclass_entropy): exact ASCII-class counts + shares
    — the per-feed composition monitor that catches misclassified
    content (all-digit logs, minified code) before it poisons a
    training mix. Round 8 re-gated log-free: the round-7 entropy
    column failed hash parity by 1 ulp of ln() between JVM Math.log
    and DuckDB libm (VERDICT r7 #2); entropy stays available via
    include_entropy=True under a tolerance pytest, while the gate
    hashes only exact bigints and single divisions of them."""
    from ..ext import textops

    return textops.charclass_entropy(load(spark, sf_dir, "documents"), "source")


ORACLE_Q189 = r"""
with t as (
  select source,
         cast(sum(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
              as bigint) as letters,
         cast(sum(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
              as bigint) as digits,
         cast(sum(length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')))
              as bigint) as spaces,
         cast(sum(length(text)) as bigint) as total_chars
  from documents group by source)
select source, letters, digits, spaces,
       cast(total_chars - letters - digits - spaces as bigint) as others,
       total_chars,
       cast(letters as double) / cast(total_chars as double) as letter_share,
       cast(digits as double) / cast(total_chars as double) as digit_share,
       cast(spaces as double) / cast(total_chars as double) as space_share,
       cast(total_chars - letters - digits - spaces as double)
         / cast(total_chars as double) as other_share
from t
"""


def q190_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation audit (ext/textops.truncation_loss):
    per source, docs over 64 whitespace tokens and the token share a
    hard cut would discard — the chunk-or-truncate decision table.
    Exact integer counts; the percentiles use exact interpolation."""
    from ..ext import textops

    return textops.truncation_loss(
        load(spark, sf_dir, "documents"), "source", max_len=64
    )


ORACLE_Q190 = """
with t as (
  select source,
         cast(len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
              as bigint) as ws
  from documents),
a as (
  select source,
         cast(count(*) as bigint) as n_docs,
         cast(sum(ws) as bigint) as total_tokens,
         cast(sum(case when ws > 64 then 1 else 0 end) as bigint)
           as docs_truncated,
         cast(sum(greatest(ws - 64, 0)) as bigint) as tokens_lost,
         quantile_cont(ws, 0.5) as p50_tokens,
         quantile_cont(ws, 0.95) as p95_tokens
  from t group by source)
select source, n_docs, total_tokens, docs_truncated, tokens_lost,
       cast(docs_truncated as double) / cast(n_docs as double)
         as doc_trunc_frac,
       cast(tokens_lost as double)
         / cast(greatest(total_tokens, 1) as double) as token_loss_frac,
       p50_tokens, p95_tokens
from a
"""


def q191_transitions_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day-sliced transition matrices
    (ext/asof.event_transitions_by_hour): the q96 matrix per source-
    event hour bucket, normalized within (hour, prev_type) — the
    diurnal-drift view that catches journey changes confined to one
    shift. Round 8 replaces round 7's q191, which gated the identical
    all-day matrix as q96 under renamed columns (VERDICT r7 #4/#6)."""
    from ..ext import asof as asofmod

    return asofmod.event_transitions_by_hour(load(spark, sf_dir, "events"))


ORACLE_Q191 = """
with l as (
  select event_type as next_type,
         lag(event_type) over w as prev_type,
         lag(cast(extract(hour from ts) as bigint)) over w as hour
  from events
  window w as (partition by user_id order by ts, event_id)),
pairs as (
  select hour, prev_type, next_type, cast(count(*) as bigint) as n
  from l where prev_type is not null group by 1, 2, 3),
tot as (
  select hour, prev_type, cast(sum(n) as bigint) as row_n
  from pairs group by 1, 2)
select p.hour, p.prev_type, p.next_type, p.n,
       cast(p.n as double) / cast(t.row_n as double) as prob
from pairs p join tot t using (hour, prev_type)
"""


def q192_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization error audit (ext/similarity.
    quantization_error_audit): per vector, the MSE and original-vs-
    dequantized cosine under per-dimension [min, max] affine int8
    quantization — the 'is 4x smaller safe for THIS corpus' table. All
    folds are sequential and per-row, so every double replays
    bit-for-bit."""
    from ..ext import similarity

    return similarity.quantization_error_audit(load(spark, sf_dir, "embeddings"))


ORACLE_Q192 = """
with e as (select vec_id,
                  list_transform(embedding, x -> cast(x as double)) as v
           from embeddings),
flat as (select generate_subscripts(v, 1) as pos, unnest(v) as x from e),
dims as (select pos, min(x) as mn, max(x) as mx from flat group by pos),
bounds as (select list(mn order by pos) as mns, list(mx order by pos) as mxs
           from dims),
deq as (
  select vec_id, v,
         list_transform(range(1, 65), i ->
           case when mxs[i] > mns[i] then
             mns[i] + floor((v[i] - mns[i]) / (mxs[i] - mns[i]) * 255
                            + cast(0.5 as double))
                      * (mxs[i] - mns[i]) / 255
           else mns[i] end) as dq
  from e, bounds)
select vec_id,
       list_reduce(list_transform(range(1, 65),
                                  i -> (v[i] - dq[i]) * (v[i] - dq[i])),
                   (a, b) -> a + b) / 64 as mse,
       list_reduce(list_transform(range(1, 65), i -> v[i] * dq[i]),
                   (a, b) -> a + b)
         / (sqrt(list_reduce(list_transform(range(1, 65), i -> v[i] * v[i]),
                             (a, b) -> a + b))
            * sqrt(list_reduce(list_transform(range(1, 65), i -> dq[i] * dq[i]),
                               (a, b) -> a + b))) as cos_orig_deq
from deq
"""


def q193_chisq_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence table for language x source
    (ext/features.chisq_independence): per-cell observed, expected
    under independence, and chi2 contribution — the audit that catches
    a language concentrated in one crawl source before a source drop
    silently drops the language. Expected divides exact bigints once."""
    from ..ext import features

    return features.chisq_independence(
        load(spark, sf_dir, "documents"), "lang", "source"
    )


ORACLE_Q193 = """
with cells as (
  select lang as a, source as b, cast(count(*) as bigint) as observed
  from documents group by 1, 2),
rt as (select a, cast(sum(observed) as bigint) as ra from cells group by a),
ct as (select b, cast(sum(observed) as bigint) as cb from cells group by b),
g as (select cast(sum(observed) as bigint) as n from cells)
select c.a, c.b, c.observed,
       cast(rt.ra * ct.cb as double) / cast(g.n as double) as expected,
       (cast(c.observed as double)
          - cast(rt.ra * ct.cb as double) / cast(g.n as double))
       * (cast(c.observed as double)
          - cast(rt.ra * ct.cb as double) / cast(g.n as double))
       / (cast(rt.ra * ct.cb as double) / cast(g.n as double))
         as contribution
from cells c join rt using (a) join ct using (b), g
"""


def q194_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog distinct users per event type
    (ext/skew.approx_distinct_hll): md5-derived registers, rank via
    length(bin(r)) (never log2), harmonic sum in exact int64 scaled by
    2^53 — the estimate itself hash-matches the oracle, closing the
    sketch family's one rows-only gap (q48 keeps demonstrating Spark's
    native HLL++; q85's KMV is the order-statistics portable sketch,
    this is the register-max one)."""
    from ..ext import skew

    return skew.approx_distinct_hll(load(spark, sf_dir, "events"), "event_type", "user_id")


def _oracle_hll(m: int) -> str:
    """DuckDB replay of approx_distinct_hll at register count m —
    shared by ORACLE_Q194 (m=256, the default) and ORACLE_Q48 (m=64),
    so both accuracy points of the parameterized sketch replay the
    identical constants (alpha, rank base, linear table) the Spark
    expression inlines."""
    from ..ext.skew import _hll_linear_table, hll_alpha, hll_rank_base

    rb = hll_rank_base(m)
    two_rb = 1 << rb
    alpha = hll_alpha(m)
    # e0 suffix forces DuckDB to parse each element as DOUBLE — a bare
    # decimal literal becomes DECIMAL and re-rounds differently
    table = "[" + ", ".join(f"{x!r}e0" for x in _hll_linear_table(m)) + "]"
    return f"""
with h as (
  select event_type as grp,
         cast(cast('0x' || substring(md5(cast(user_id as varchar)), 1, 15)
                   as ubigint) as bigint) as h
  from events where user_id is not null),
rj as (
  select grp, h % {m} as j,
         case when h // {m} > 0 then {rb} - length(bin(h // {m}))
              else {rb} end as rank
  from h),
regs as (select grp, j, max(rank) as m from rj group by 1, 2),
agg as (select grp, cast(count(*) as bigint) as nreg,
               cast(sum(1::bigint << ({rb} - m)) as bigint) as sne
        from regs group by 1),
est as (
  select grp, nreg, {m} - nreg as zeros,
         cast({alpha!r} as double) * cast({m * m} as double)
           * cast({two_rb} as double)
           / cast(({m} - nreg) * {two_rb}::bigint + sne as double) as raw
  from agg)
select grp as event_type, nreg as nonzero_registers,
       case when raw <= cast({2.5 * m!r} as double) and zeros > 0
            then ({table})[greatest(zeros, 1)]
            else raw end as hll_est
from est
"""


ORACLE_Q194 = _oracle_hll(256)
ORACLE_Q48 = _oracle_hll(64)


# the q49 recursive-CTE cluster derivation (exact-Jaccard pair graph ->
# min-label transitive closure), shared by the q195/q196 oracles
_CC_CTE = """
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
cc as (
  select n.node as doc_id, least(n.node, min(r.b)) as keep_id
  from nodes n left join reach r on r.a = n.node
  group by n.node)
"""


def q195_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup impact (ext/dedup.dedup_survivorship): docs
    contributed, docs in any near-dup cluster, docs the canonical-
    keeper rule drops, and the drop share — who PAYS for dedup, the
    sign-off table before a corpus cut (q180 shows where duplication
    flows between sources; this shows the cost per source). Round 9
    (VERDICT r8 #1): pair discovery is the banded MinHash+LSH scale
    path via pairs= — q159's precedent: LSH pairs against the
    exact-Jaccard oracle, bit-identical at gate SF
    (test_minhash_equals_exact_jaccard); exact discovery stays the
    function DEFAULT for oracle replay."""
    docs = load(spark, sf_dir, "documents")
    return dedup.dedup_survivorship(
        docs, pairs=dedup.minhash_dedup_pairs(docs)
    )


ORACLE_Q195 = _CC_CTE + """
select d.source,
       cast(count(*) as bigint) as n_docs,
       cast(sum(case when cc.doc_id is not null then 1 else 0 end)
            as bigint) as dup_members,
       cast(sum(case when cc.keep_id is not null and cc.keep_id <> d.doc_id
                     then 1 else 0 end) as bigint) as dropped,
       cast(sum(case when cc.keep_id is not null and cc.keep_id <> d.doc_id
                     then 1 else 0 end) as double)
         / cast(count(*) as double) as drop_share
from documents d left join cc on cc.doc_id = d.doc_id
group by 1
"""


def q196_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram (ext/dedup.
    dup_cluster_histogram): clusters and docs per size bucket
    (2, 3-5, 6-10, >10) — is duplication a trim or a template-spam
    rescue; the >10 bucket is the one _cap_buckets exists for. LSH
    pair discovery via pairs= as in q195 (exact-Jaccard oracle is
    bit-identical at gate SF)."""
    docs = load(spark, sf_dir, "documents")
    return dedup.dup_cluster_histogram(
        docs, pairs=dedup.minhash_dedup_pairs(docs)
    )


ORACLE_Q196 = _CC_CTE + """
, csz as (select keep_id, cast(count(*) as bigint) as sz from cc group by 1)
select case when sz <= 2 then '2' when sz <= 5 then '3-5'
            when sz <= 10 then '6-10' else '>10' end as size_bucket,
       cast(count(*) as bigint) as n_clusters,
       cast(sum(sz) as bigint) as n_docs
from csz group by 1
"""


def q197_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout keys over events (ext/layout.zorder_key):
    user_id x event-time bucketed to 2^16 cells and Morton-interleaved
    — the clustering key behind multi-dimension row-group pruning
    (Delta/Iceberg's OPTIMIZE ZORDER BY, composed from one min/max
    broadcast + pure integer bit math). Exact integers end to end."""
    from ..ext import layout

    ev = load(spark, sf_dir, "events")
    ysec = F.expr(
        "timestampdiff(SECOND, timestamp_ntz '1970-01-01 00:00:00', ts)"
    )
    return layout.zorder_key(ev, "user_id", ysec).select(
        "event_id",
        F.col("_bx").alias("bx"),
        F.col("_by").alias("by"),
        "zval",
    )


def _zorder_interleave_sql(bx: str, by: str, bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({bx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({by} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _oracle_q197() -> str:
    return f"""
with base as (
  select event_id, cast(user_id as bigint) as zx,
         date_diff('second', timestamp '1970-01-01 00:00:00', ts) as zy
  from events),
mm as (select min(zx) as ux, max(zx) as vx,
              min(zy) as uy, max(zy) as vy from base),
b as (
  select event_id,
         ((zx - ux) * 65536) // (vx - ux + 1) as bx,
         ((zy - uy) * 65536) // (vy - uy + 1) as by
  from base, mm)
select event_id, bx, by,
       cast({_zorder_interleave_sql("bx", "by")} as bigint) as zval
from b
"""


ORACLE_Q197 = _oracle_q197()


def q198_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout decision PRICED from zone maps
    (ext/layout.zorder_layout_audit): the same events laid into
    256-row files under a linear user_id sort vs the z-order key, and
    the files a 2-D (user x time) range predicate skips under each —
    measure the layout before rewriting 100 TB (the measure-the-
    shortcut family applied to data layout)."""
    from ..ext import layout

    ev = load(spark, sf_dir, "events")
    ysec = F.expr(
        "timestampdiff(SECOND, timestamp_ntz '1970-01-01 00:00:00', ts)"
    )
    return layout.zorder_layout_audit(
        ev, "user_id", ysec, "event_id", rows_per_file=256
    )


def _oracle_q198() -> str:
    cells = 1 << 16
    lo_x, hi_x, lo_y, hi_y = (
        cells * 25 // 100, cells * 35 // 100,
        cells * 30 // 100, cells * 50 // 100,
    )
    body = f"""
with base as (
  select event_id, cast(user_id as bigint) as zx,
         date_diff('second', timestamp '1970-01-01 00:00:00', ts) as zy
  from events),
mm as (select min(zx) as ux, max(zx) as vx,
              min(zy) as uy, max(zy) as vy from base),
b as (
  select event_id,
         ((zx - ux) * 65536) // (vx - ux + 1) as bx,
         ((zy - uy) * 65536) // (vy - uy + 1) as by
  from base, mm),
k as (select event_id, bx, by,
             cast({_zorder_interleave_sql("bx", "by")} as bigint) as zval
      from b)
"""

    def one(name: str, order: str) -> str:
        return f"""
select '{name}' as layout,
       cast(count(*) as bigint) as n_files,
       cast(sum(case when pr then 0 else 1 end) as bigint) as files_scanned,
       cast(sum(n) as bigint) as rows_total,
       cast(sum(case when pr then 0 else n end) as bigint) as rows_scanned,
       cast(sum(n) - sum(case when pr then 0 else n end) as double)
         / cast(sum(n) as double) as skip_fraction
from (
  select f, count(*) as n,
         (max(bx) < {lo_x} or min(bx) > {hi_x}
          or max(by) < {lo_y} or min(by) > {hi_y}) as pr
  from (select *, (row_number() over (order by {order}) - 1) // 256 as f
        from k)
  group by f)
"""

    return (
        body
        + one("linear_x", "bx, event_id")
        + "union all"
        + one("zorder", "zval, event_id")
    )


ORACLE_Q198 = _oracle_q198()


def q199_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed dedup sign-off report (ext/dedup.dedup_report,
    VERDICT r8 #1): corpus topline + per-source survivorship +
    cluster-size histogram + cross-source matrix from ONE MinHash+LSH
    pair discovery and ONE connected-components pass — what q159-shape
    keeper + q195 + q196 + q180 used to pay three discoveries for.
    Long format (section, key_a, key_b, n1, n2, n3, share)."""
    return dedup.dedup_report(load(spark, sf_dir, "documents"))


ORACLE_Q199 = _CC_CTE + """
, base as (
  select d.doc_id, d.source, cc.keep_id
  from documents d left join cc on cc.doc_id = d.doc_id),
surv as (
  select source as key_a,
         cast(count(*) as bigint) as n1,
         cast(sum(case when keep_id is not null then 1 else 0 end)
              as bigint) as n2,
         cast(sum(case when keep_id is not null and keep_id <> doc_id
                       then 1 else 0 end) as bigint) as n3
  from base group by 1),
csz as (select keep_id, cast(count(*) as bigint) as sz from cc group by 1),
hist as (
  select case when sz <= 2 then '2' when sz <= 5 then '3-5'
              when sz <= 10 then '6-10' else '>10' end as key_a,
         cast(count(*) as bigint) as n1,
         cast(sum(sz) as bigint) as n2
  from csz group by 1),
xs as (
  select least(s1.source, s2.source) as key_a,
         greatest(s1.source, s2.source) as key_b,
         cast(count(*) as bigint) as n1
  from pairs p
  join documents s1 on s1.doc_id = p.d1
  join documents s2 on s2.doc_id = p.d2
  group by 1, 2)
select 'topline' as section, 'corpus' as key_a,
       cast(null as varchar) as key_b,
       cast(sum(n1) as bigint) as n1, cast(sum(n2) as bigint) as n2,
       cast(sum(n3) as bigint) as n3,
       cast(sum(n3) as double) / cast(sum(n1) as double) as share
from surv
union all
select 'survivorship', key_a, cast(null as varchar), n1, n2, n3,
       cast(n3 as double) / cast(n1 as double)
from surv
union all
select 'cluster_histogram', key_a, cast(null as varchar), n1, n2,
       cast(null as bigint), cast(null as double)
from hist
union all
select 'cross_source', key_a, key_b, n1, cast(null as bigint),
       cast(null as bigint), cast(null as double)
from xs
"""
