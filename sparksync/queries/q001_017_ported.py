"""Ported surface: the reference's emitted-SQL semantics (SURVEY 2.5 Q1-Q15) re-expressed as DataFrame plans.

Verbatim slice of the pre-split sparksync/queries.py (band q001-q017).
"""

from __future__ import annotations

from ._base import *  # noqa: F401,F403 — shared fixture/session surface
from ._base import _dec, _register_views  # noqa: F401



# --------------------------------------------------------------------------
# ported surface: the reference's emitted-SQL semantics (SURVEY 2.5 Q1-Q15)
# --------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped aggregate over lineitem (projection Q1,
    filter Q3, groupBy Q8, aggregates Q5, sort Q14). Single shuffle on
    the 6-value group key; partial aggregation is map-side."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - _dec("l_discount")
    )
    return (
        li.where(F.col("l_shipdate") <= F.lit("1999-12-31 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            (
                F.sum(_dec("l_quantity")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q01 = """
select l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity as decimal(12,2))) as double) as sum_qty,
  cast(sum(cast(l_extendedprice as decimal(12,2))) as double) as sum_base_price,
  cast(sum(cast(l_extendedprice as decimal(12,2)) *
       (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))) as double)
       as sum_disc_price,
  cast(sum(cast(l_quantity as decimal(12,2))) as double) / cast(count(*) as double) as avg_qty,
  count(*) as count_order
from lineitem
where l_shipdate <= timestamp '1999-12-31 00:00:00'
group by l_returnflag, l_linestatus
order by l_returnflag, l_linestatus
"""


def q02_notin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1's exclude-list semantics (NOT IN, cmd/root.go:215-224) as a
    Spark filter + aggregate."""
    c = load(spark, sf_dir, "customer")
    return (
        c.where(~F.col("c_mktsegment").isin("MACHINERY", "AUTOMOBILE"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_bal"),
        )
    )


ORACLE_Q02 = """
select c_mktsegment, count(*) as cnt,
  cast(sum(cast(c_acctbal as decimal(12,2))) as double) as sum_bal
from customer
where c_mktsegment not in ('MACHINERY','AUTOMOBILE')
group by c_mktsegment
"""


def q03_paged_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/Q4: the reference's ROWNUM page window (cmd/root.go:336) made
    deterministic with an explicit order. Page 3 @ pageSize=1000. On the
    JDBC path this becomes partitioned predicates (source.py) — the
    window here exists to prove page semantics, not to scale."""
    o = load(spark, sf_dir, "orders")
    w = Window.orderBy("o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .where((F.col("rn") >= 2001) & (F.col("rn") <= 3000))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "rn")
    )


ORACLE_Q03 = """
select o_orderkey, o_custkey, o_orderstatus, rn from (
  select o_orderkey, o_custkey, o_orderstatus,
         row_number() over (order by o_orderkey) as rn
  from orders) t
where rn >= 2001 and rn <= 3000
"""


def q04_page_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 page math (ceil(count/pageSize), cmd/root.go:320-322) computed
    by the engine's planner for the two big tables."""
    rows = []
    for t in ("lineitem", "orders"):
        n = load(spark, sf_dir, t).count()
        plan = plan_pages(n, t, page_size=10_000)
        rows.append((t, n, plan.num_pages))
    return local_frame(
        spark, rows, "table_name string, row_count bigint, num_pages bigint"
    )


ORACLE_Q04 = """
select 'lineitem' as table_name, count(*) as row_count,
       greatest(1, cast(ceil(count(*) / 10000.0) as bigint)) as num_pages from lineitem
union all
select 'orders', count(*), greatest(1, cast(ceil(count(*) / 10000.0) as bigint)) from orders
"""


def q05_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7/S5: the ordered string aggregation the reference pushes to
    Oracle as xmlagg/listagg (cmd/root.go:313, tablemeta.go:194).
    Recipe: collect_list(struct) -> array_sort -> transform -> join.
    nation is a dim -> broadcast join, no shuffle on region."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    agg = n.groupBy("n_regionkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("n_nationkey", "n_name"))),
                lambda s: s["n_name"],
            ),
            ",",
        ).alias("nations")
    )
    return (
        agg.join(F.broadcast(r), agg["n_regionkey"] == r["r_regionkey"])
        .select("r_name", "nations")
    )


ORACLE_Q05 = """
select r_name, string_agg(n_name, ',' order by n_nationkey) as nations
from nation join region on n_regionkey = r_regionkey
group by r_name
"""


def q06_meta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6's shape (tablemeta.go:74): left join + coalesce/NVL + CASE +
    LEAST (Q9/Q12). Dim side broadcast."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "left")
    return j.select(
        "c_custkey",
        F.coalesce(F.col("n_name"), F.lit("UNKNOWN")).alias("nation_name"),
        F.when(_dec("c_acctbal") < 0, F.lit("NEG")).otherwise(F.lit("POS")).alias("bal_class"),
        F.least(F.col("c_nationkey"), F.lit(12)).alias("least_key"),
    )


ORACLE_Q06 = """
select c_custkey,
  coalesce(n_name, 'UNKNOWN') as nation_name,
  case when cast(c_acctbal as decimal(12,2)) < 0 then 'NEG' else 'POS' end as bal_class,
  least(c_nationkey, 12) as least_key
from customer left join nation on c_nationkey = n_nationkey
"""


def q07_index_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9's shape (tablemeta.go:194): groupBy + ordered listagg + nested
    CASE synthesizing an 'index DDL' per order."""
    li = load(spark, sf_dir, "lineitem")
    cnt = F.count(F.lit(1))
    return li.groupBy("l_orderkey").agg(
        F.concat(F.lit("idx_"), F.col("l_orderkey").cast("string")).alias("index_name"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("l_linenumber"))),
                lambda s: s["l_linenumber"].cast("string"),
            ),
            ",",
        ).alias("cols"),
        F.when(cnt > 5, F.lit("WIDE"))
        .when(cnt > 2, F.lit("MULTI"))
        .otherwise(F.lit("SIMPLE"))
        .alias("kind"),
    )


ORACLE_Q07 = """
select l_orderkey,
  'idx_' || cast(l_orderkey as varchar) as index_name,
  string_agg(cast(l_linenumber as varchar), ',' order by l_linenumber) as cols,
  case when count(*) > 5 then 'WIDE'
       when count(*) > 2 then 'MULTI'
       else 'SIMPLE' end as kind
from lineitem group by l_orderkey
"""


def q08_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/Q11: correlated scalar subqueries (tablemeta.go:289), written
    multiplicatively so the math stays exact decimal (no avg rounding).
    Catalyst decorrelates both subqueries into aggregated joins."""
    _register_views(spark, sf_dir, ["customer"])
    return spark.sql(ORACLE_Q08)


ORACLE_Q08 = """
select c.c_custkey, c.c_nationkey
from customer c
where cast(c.c_acctbal as decimal(12,2)) *
      (select count(*) from customer c2 where c2.c_nationkey = c.c_nationkey)
      >
      (select cast(sum(cast(c3.c_acctbal as decimal(12,2))) as decimal(38,2))
       from customer c3 where c3.c_nationkey = c.c_nationkey)
"""


def q09_count_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15/EP2 (compare.go:102-132): per-table row counts, the
    reference's only correctness check, across all ten tables."""
    dfs = [
        load(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"), F.count(F.lit(1)).alias("cnt")
        )
        for t in Tables
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionAll(d)
    return out


ORACLE_Q09 = "\nunion all\n".join(
    f"select '{t}' as table_name, count(*) as cnt from {t}" for t in Tables
)


def q10_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An order-insensitive digest in the shape of compare.py's checksum
    (count + min/max of a per-row hash) on three tables — the row-level
    strengthening of EP2. It builds its own sha2 over '|'-joined string
    cells, not compare.py's xxhash64, so DuckDB can replay it exactly.
    One partial-aggregable pass per table, no row shuffle."""
    parts = []
    specs = {
        "region": ["r_regionkey", "r_name"],
        "nation": ["n_nationkey", "n_name", "n_regionkey"],
        "supplier": ["s_suppkey", "s_name", "s_nationkey"],
    }
    for t, cols in specs.items():
        df = load(spark, sf_dir, t)
        h = F.sha2(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]), 256)
        parts.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).alias("cnt"),
                F.min(h).alias("hmin"),
                F.max(h).alias("hmax"),
            )
        )
    out = parts[0]
    for d in parts[1:]:
        out = out.unionAll(d)
    return out


ORACLE_Q10 = """
select 'region' as table_name, count(*) as cnt,
  min(sha256(concat_ws('|', cast(r_regionkey as varchar), r_name))) as hmin,
  max(sha256(concat_ws('|', cast(r_regionkey as varchar), r_name))) as hmax
from region
union all
select 'nation', count(*),
  min(sha256(concat_ws('|', cast(n_nationkey as varchar), n_name, cast(n_regionkey as varchar)))),
  max(sha256(concat_ws('|', cast(n_nationkey as varchar), n_name, cast(n_regionkey as varchar))))
from nation
union all
select 'supplier', count(*),
  min(sha256(concat_ws('|', cast(s_suppkey as varchar), s_name, cast(s_nationkey as varchar)))),
  max(sha256(concat_ws('|', cast(s_suppkey as varchar), s_name, cast(s_nationkey as varchar))))
from supplier
"""


# --------------------------------------------------------------------------
# extension surface: analytics the reference lacks (SURVEY 2.5 'not present')
# --------------------------------------------------------------------------


def q11_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking: top-3 orders per customer. Partitioned window ->
    single shuffle on o_custkey; deterministic tie-break."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


ORACLE_Q11 = """
select o_custkey, o_orderkey, rnk from (
  select o_custkey, o_orderkey,
    row_number() over (partition by o_custkey
                       order by o_totalprice desc, o_orderkey) as rnk
  from orders) t
where rnk <= 3
"""


def q12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: ROLLUP over (returnflag, linestatus)."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


ORACLE_Q12 = """
select l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity as decimal(12,2))) as double) as sum_qty,
  count(*) as cnt
from lineitem group by rollup (l_returnflag, l_linestatus)
"""


def q13_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: customers with open orders EXCEPT customers with
    finished orders."""
    o = load(spark, sf_dir, "orders")
    open_c = o.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    fin_c = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_c.subtract(fin_c)


ORACLE_Q13 = """
select distinct o_custkey from orders where o_orderstatus = 'O'
except
select o_custkey from orders where o_orderstatus = 'F'
"""


def q14_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON ops on the CLOB-typed events.props (ext/jsonops.py)."""
    return jsonops.k_stats_by_type(load(spark, sf_dir, "events"))


ORACLE_Q14 = """
select event_type, count(*) as cnt,
  cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint) as sum_k,
  min(cast(json_extract_string(props, '$.k') as bigint)) as min_k,
  max(cast(json_extract_string(props, '$.k') as bigint)) as max_k
from events group by event_type
"""


def q15_ts_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation in batch form (the streaming variant
    with watermark lives in ext/stream.py; same grouping logic)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(_dec("value")).cast("double").alias("sum_value"),
    )


ORACLE_Q15 = """
select date_trunc('hour', ts) as bucket_ts, event_type, count(*) as cnt,
  cast(sum(cast(value as decimal(12,2))) as double) as sum_value
from events group by 1, 2
"""


def q16_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join: big-big shuffle join on orderkey,
    broadcast-filtered customer side; deterministic top-10."""
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )
    return joined.orderBy(F.col("revenue").desc(), F.col("o_orderkey")).limit(10)


ORACLE_Q16 = """
select o_orderkey, o_orderdate,
  cast(sum(cast(l_extendedprice as decimal(12,2)) *
       (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))) as double)
       as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
where c_mktsegment = 'BUILDING'
  and o_orderdate < timestamp '1998-01-01 00:00:00'
  and l_shipdate > timestamp '1998-01-01 00:00:00'
group by o_orderkey, o_orderdate
order by revenue desc, o_orderkey
limit 10
"""


def q17_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: dims broadcast, facts shuffle on
    orderkey only (one co-partitioned join chain)."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(
            F.broadcast(c),
            (o["o_custkey"] == c["c_custkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


ORACLE_Q17 = """
select n_name,
  cast(sum(cast(l_extendedprice as decimal(12,2)) *
       (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))) as double)
       as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join supplier on l_suppkey = s_suppkey
join customer on o_custkey = c_custkey and c_nationkey = s_nationkey
join nation on c_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
group by n_name
"""
