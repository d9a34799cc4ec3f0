"""End-to-end sync tests (SURVEY section 5 item 3): parquet source ->
engine -> parquet sink; count + checksum compare; empty-table
semantics; DDL dump; config parsing; fixture catalog."""

from __future__ import annotations

import datetime
import os
import re

import pytest

from sparksync.catalog import FixtureCatalog
from sparksync.compare import compare_checksum, row_diff
from sparksync.config import load_config
from sparksync.sync import SyncJob

from .conftest import SF_SMOKE


def test_full_sync_roundtrip(spark, tmp_path):
    out = str(tmp_path / "out")
    job = SyncJob(spark, SF_SMOKE, out, max_parallel=4,
                  exclude=["lineitem", "events", "documents", "embeddings",
                           "orders", "part", "customer"])
    rep = job.run(checksum=True, ddl_script=str(tmp_path / "ddl.sql"))
    assert rep.ok(), [c.__dict__ for c in rep.compare]
    assert {c.table for c in rep.compare} == {"region", "nation", "supplier"}
    ddl = (tmp_path / "ddl.sql").read_text()
    assert "create table `region`" in ddl
    assert "`r_regionkey` int" in ddl  # avg_col_len<6 branch via int32


def test_checksum_detects_row_loss(spark, tmp_path):
    out = str(tmp_path / "out")
    job = SyncJob(spark, SF_SMOKE, out,
                  exclude=[t for t in FixtureCatalog(spark, SF_SMOKE).list_tables()
                           if t != "supplier"])
    job.data_phase(["supplier"])
    # tamper: drop a row from the sink copy
    tampered = job.sink.read("supplier").where("s_suppkey <> 3")
    tampered.write.mode("overwrite").parquet(str(tmp_path / "tampered"))
    bad = spark.read.parquet(str(tmp_path / "tampered"))
    res = compare_checksum(job.source.read("supplier"), bad, "supplier")
    assert not res.is_ok
    missing, extra = row_diff(job.source.read("supplier"), bad)
    assert missing.count() == 1 and extra.count() == 0


_ROWS = [(1, "a"), (2, "b"), (3, "c")]
_TS = datetime.datetime(2024, 1, 2, 3, 4, 5, 6)


@pytest.mark.parametrize(
    "src_rows, src_schema, dst_rows, dst_schema, ok",
    [
        pytest.param([(1, None, "x")], "k int, a string, b string",
                     [(1, "x", None)], "k int, a string, b string", False,
                     id="null-moved-to-other-column"),
        pytest.param([(1, chr(0))], "k int, s string",
                     [(1, None)], "k int, s string", False, id="nul-char-vs-null"),
        pytest.param(_ROWS, "k int, s string", _ROWS[:2], "k int, s string", False,
                     id="missing-row"),
        pytest.param(_ROWS, "k int, s string", _ROWS + _ROWS[-1:], "k int, s string",
                     False, id="duplicated-row"),
        pytest.param([(1, 1.5), (2, 2.5)], "k int, d double",
                     [(1, 1.5), (2, 2.5000000000000004)], "k int, d double", False,
                     id="changed-double"),
        pytest.param([(1, _TS)], "k int, t timestamp",
                     [(1, _TS + datetime.timedelta(microseconds=1))], "k int, t timestamp",
                     False, id="changed-timestamp"),
        pytest.param([(1, [None, 1])], "k int, a array<int>",
                     [(1, [1, None])], "k int, a array<int>", False,
                     id="array-null-position"),
        pytest.param([(1, 10), (2, None)], "k int, v int",
                     [(1, 10), (2, None)], "k int, v bigint", True, id="int-vs-bigint"),
        pytest.param([(1, _TS)], "k int, t timestamp_ntz",
                     [(1, _TS)], "k int, t timestamp", True, id="ntz-vs-ltz-utc"),
    ],
)
def test_compare_checksum_cases(spark, src_rows, src_schema, dst_rows, dst_schema, ok):
    """Each case is a small source/destination pair: the changed ones
    must fail the checksum, the type-drifted but equal ones must pass
    (the string rendering both sides fall back to under UTC)."""
    src = spark.createDataFrame(src_rows, src_schema)
    dst = spark.createDataFrame(dst_rows, dst_schema)
    r = compare_checksum(src, dst, "t")
    assert r.checksum_ok is ok and r.is_ok is ok


def test_checksum_renders_variant_columns(spark):
    """xxhash64 rejects VARIANT input, so a variant column is hashed as
    its rendered JSON: equal values compare OK, a changed one does not."""
    df = spark.sql("""select 1 as k, parse_json('{"a":1}') as v""")
    changed = spark.sql("""select 1 as k, parse_json('{"a":2}') as v""")
    assert compare_checksum(df, df, "t").is_ok
    assert compare_checksum(df, changed, "t").checksum_ok is False


def test_checksum_takes_column_names_literally(spark):
    """A column named `a.b` is hashed as a column, not resolved as field
    b of a struct a (which raised and made compare_phase report the
    destination missing)."""
    from sparksync.compare import changed_partitions, partition_checksums, table_checksum

    df = spark.createDataFrame([(1, "x", 0), (2, None, 0)], "`a.b` int, c string, p int")
    assert table_checksum(df)["cnt"] == 2
    assert compare_checksum(df, df, "t").is_ok
    for algo in ("xxhash64", "md5"):
        assert partition_checksums(df, ["p"], algo).collect()[0]["cnt"] == 2
        assert changed_partitions(df, df, ["p"], algo).count() == 0


def test_checksum_plan_hashes_native_values(spark, monkeypatch):
    """Guard on the cost: over lineitem (atomic columns, the same types
    on both sides) the analyzed plan table_checksum runs renders no
    column to string; one type-mismatched column renders exactly that
    one."""
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame

    from sparksync.compare import _string_positions, table_checksum
    from sparksync.source import load_table

    collected = []
    collect = DataFrame.collect
    monkeypatch.setattr(DataFrame, "collect", lambda self: collected.append(self) or collect(self))

    def plan_of(src, dst) -> str:
        table_checksum(src, _string_positions(src, dst))
        return collected[-1]._jdf.queryExecution().analyzed().toString()

    li = load_table(spark, SF_SMOKE, "lineitem")
    assert " as string)" not in plan_of(li, li)
    plan = plan_of(li, li.withColumn("l_linenumber", F.col("l_linenumber").cast("string")))
    assert plan.count(" as string)") == 1
    assert re.search(r"cast\(l_linenumber#\w+ as string\)", plan)


def test_empty_table_synced_and_created(spark, tmp_path):
    # FIXTURES.md: a synced empty table must still be created at the sink
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").limit(0).write.parquet(
        f"{src_dir}/region.parquet"
    )
    job = SyncJob(spark, src_dir, str(tmp_path / "out"))
    rep = job.run(checksum=True)
    assert rep.ok()
    assert job.sink.exists("region")
    assert job.sink.read("region").count() == 0


def test_config_parsing(tmp_path):
    yml = tmp_path / "cfg.yml"
    yml.write_text(
        "src:\n  host: o.example\n  port: 1521\n  username: scott\n"
        "  password: tiger\n  database: orcl\n"
        "dest:\n  host: m.example\n  port: 3306\n  username: root\n"
        "  password: pw\n  database: db\n"
        "pageSize: 50000\nmaxParallel: 10\nbatchRowSize: 500\n"
        "exclude:\n  - t1\n  - t2\n"
        "tables:\n  emp: select * from emp where id > 0\n"
    )
    cfg = load_config(str(yml))
    assert cfg.src.oracle_url() == "jdbc:oracle:thin:@//o.example:1521/orcl"
    assert "jdbc:mysql://m.example:3306/db" in cfg.dest.mysql_url()
    assert cfg.page_size == 50_000
    assert cfg.exclude == ["t1", "t2"]
    assert cfg.tables == {"EMP": "select * from emp where id > 0"}  # upper-cased keys
    assert cfg.clamped_batch == 500


def test_fixture_catalog(spark):
    cat = FixtureCatalog(spark, SF_SMOKE)
    tables = cat.list_tables(exclude=["events"])
    assert "region" in tables and "events" not in tables
    spec = cat.table_spec("customer")
    by_name = {c.name: c for c in spec.columns}
    assert by_name["c_custkey"].data_type == "NUMBER" and by_name["c_custkey"].avg_col_len >= 6
    assert by_name["c_acctbal"].precision == 12 and by_name["c_acctbal"].scale == 2
    # S5 ordered projection list through the Spark string-agg recipe
    cols = cat.ordered_column_list("region")
    assert cols == '"R_REGIONKEY","R_NAME"'


def test_objects_phase_synthesis(spark, tmp_path):
    """EP1 objects (cmd/root.go:146-175): every object class present,
    reference execution order, count-and-continue reporting."""
    job = SyncJob(spark, SF_SMOKE, str(tmp_path / "out"))
    objs = job.synthesize_objects(job.plan())
    classes = [c for c, _, _ in objs]
    # reference order: indexes -> sequences -> FKs -> function-index
    # cleanup -> comments -> views
    order = ["index", "sequence", "fk", "function_index", "comment", "view"]
    assert [c for c in order if c in classes] == order
    firsts = {c: classes.index(c) for c in order}
    assert sorted(firsts, key=firsts.get) == order
    stmts = {c: [s for cc, _, s in objs if cc == c] for c in order}
    assert any("add primary key" in s for s in stmts["index"])
    assert any("create unique index" in s for s in stmts["index"])
    assert any("auto_increment" in s for s in stmts["sequence"])
    assert all("foreign key" in s for s in stmts["fk"])
    assert all("PCTFREE" not in s for s in stmts["function_index"])
    assert all("comment = " in s for s in stmts["comment"])
    assert any("IFNULL" in s for s in stmts["view"])

    reports = job.objects_phase(job.plan())
    assert {r.phase for r in reports} == {f"{c} create" for c in order}
    assert all(r.failed == 0 for r in reports)


def test_view_revalidation_compile_analogue(spark, tmp_path, monkeypatch):
    """The reference runs `alter view X compile` before fetching view
    DDL (tablemeta.go:402,414) so invalidated views surface instead of
    shipping broken DDL. Our analogue analyzes each view body against
    the source tables: a view referencing a dropped column must come
    back flagged __invalid__ from Catalog.views(revalidate=True) and be
    counted as a failed view (never executed) by objects_phase."""
    from sparksync import catalog as catmod

    monkeypatch.setitem(
        catmod.FIXTURE_VIEWS,
        "v_broken",
        'select no_such_column from "orders"',
    )
    job = SyncJob(spark, SF_SMOKE, str(tmp_path / "out"))
    tables = job.plan()
    job._register_source_views(tables)
    views = job.catalog.views(revalidate=True)
    assert "v_order_revenue" in views  # valid view passes through
    assert "__invalid__:v_broken" in views
    assert "no_such_column" in views["__invalid__:v_broken"].lower() or "UNRESOLVED" in views["__invalid__:v_broken"].upper()

    reports = job.objects_phase(tables)
    view_rep = next(r for r in reports if r.phase == "view create")
    assert view_rep.tables == 2 and view_rep.failed == 1


def test_full_sync_runs_objects_and_dumps_ddl(spark, tmp_path):
    out = str(tmp_path / "out")
    script = str(tmp_path / "createSql.log")
    job = SyncJob(spark, SF_SMOKE, out, max_parallel=4)
    rep = job.run(ddl_script=script)
    assert rep.ok()
    phases = {p.phase for p in rep.phases}
    assert {"create table", "data sync", "index create", "fk create",
            "view create"} <= phases
    text = open(script).read()
    for needle in ("create table", "add primary key", "foreign key",
                   "auto_increment", "create or replace view"):
        assert needle in text, needle


def test_table_as_sql_mode(spark, tmp_path):
    """-s mode (cmd/root.go:84-85): a YAML-mapped SELECT replaces the
    full-table read for that table, on both sync and compare."""
    out = str(tmp_path / "out")
    job = SyncJob(
        spark, SF_SMOKE, out, max_parallel=2,
        exclude=[t for t in
                 "region nation customer supplier part lineitem events documents embeddings".split()],
        table_sql={"orders": "select * from orders where o_orderkey <= 100"},
    )
    rep = job.run()
    assert rep.ok(), [p.__dict__ for p in rep.phases]
    synced = spark.read.parquet(f"{out}/orders.parquet")
    assert synced.count() == synced.where("o_orderkey <= 100").count()
    assert 0 < synced.count() < 1500  # the predicate actually applied
    # -s runs skip the objects phase entirely (cmd/root.go:145): a custom
    # SELECT has no index/FK/view set to carry over
    phases = {p.phase for p in rep.phases}
    assert phases == {"create table", "data sync"}


def test_table_as_sql_skips_objects_in_dump_mode(spark, tmp_path):
    """-s + -m: the dumped script carries table DDL only — no index, FK,
    comment, or view statements (cmd/root.go:145)."""
    out = str(tmp_path / "out")
    script = str(tmp_path / "createSql.log")
    job = SyncJob(
        spark, SF_SMOKE, out, max_parallel=2,
        exclude=[t for t in
                 "region nation customer supplier part lineitem events documents embeddings".split()],
        table_sql={"orders": "select * from orders where o_orderkey <= 100"},
    )
    rep = job.run(ddl_script=script)
    assert rep.ok(), [p.__dict__ for p in rep.phases]
    assert {p.phase for p in rep.phases} == {"create table", "data sync"}
    text = open(script).read()
    assert "create table" in text
    for needle in ("add primary key", "foreign key", "create or replace view"):
        assert needle not in text, needle


def test_cancel_sets_job_group(spark, tmp_path):
    """C3: every sync job runs tagged so cancel() can revoke it
    (cmd/app.go:213-243 analogue)."""
    job = SyncJob(spark, SF_SMOKE, str(tmp_path / "out"))
    job._tag_jobs("probe")
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") == SyncJob.JOB_GROUP
    assert sc.getLocalProperty("spark.job.interruptOnCancel") == "true"
    job.cancel()  # no running jobs: must be a no-op, not an error
    sc.setJobGroup("", "")


def test_write_report(spark, tmp_path):
    import json

    from sparksync.sync import render_report, write_report

    job = SyncJob(spark, SF_SMOKE, str(tmp_path / "out"), max_parallel=4,
                  exclude=["lineitem", "events", "documents", "embeddings"])
    rep = job.run()
    txt = render_report(rep)
    assert "create table" in txt and "result: ok" in txt
    # the reference's two compare tables (cmd/compare.go:71-98): all rows,
    # then failures only — empty here since the run is green
    assert "Table Compare Total Result" in txt
    assert "Table Compare Result (Only Not Ok Displayed)" in txt
    total_sec = txt.split("Table Compare Total Result")[1]
    failed_sec = txt.split("Only Not Ok Displayed)")[1]
    assert "region" in total_sec and "region" not in failed_sec
    d1 = write_report(rep, str(tmp_path / "logs"))
    d2 = write_report(rep, str(tmp_path / "logs"))
    assert d1.endswith("run_0000") and d2.endswith("run_0001")
    payload = json.loads(open(f"{d1}/report.json").read())
    assert payload["ok"] is True and payload["phases"]
    # a failing row appears in BOTH compare tables and flips the result
    from sparksync.compare import CompareResult

    rep.compare.append(CompareResult(table="ghost", src_count=5, dst_count=0,
                                     dest_exists=False))
    txt2 = render_report(rep)
    assert txt2.split("Only Not Ok Displayed)")[1].count("ghost") == 1
    assert txt2.count("ghost") == 2 and "result: FAILED" in txt2


def test_current_user(spark):
    from sparksync.catalog import FixtureCatalog

    u = FixtureCatalog(spark, SF_SMOKE).current_user()
    assert isinstance(u, str) and u


def test_dialect_knobs(spark, tmp_path):
    """7 MySQL-family flavors (readme.md:10) + the ansi/Derby live-exec
    target: URL shape + object-class capability differences actually
    change the emitted plan."""
    from sparksync.config import ConnInfo
    from sparksync.dialect import DIALECTS, get_dialect

    assert len(DIALECTS) == 8
    assert get_dialect("ansi").ddl_dialect == "ansi"
    assert get_dialect("mysql").ddl_dialect == "mysql"
    assert "4000" in ConnInfo(host="h", database="d", db_type="tidb").mysql_url()
    assert "2881" in ConnInfo(host="h", database="d", db_type="oceanbase").mysql_url()
    assert "3306" in ConnInfo(host="h", database="d").mysql_url()

    mysql_job = SyncJob(spark, SF_SMOKE, str(tmp_path / "a"))
    tidb_job = SyncJob(spark, SF_SMOKE, str(tmp_path / "b"), dest_flavor="tidb")
    tables = mysql_job.plan()
    m = mysql_job.synthesize_objects(tables)
    t = tidb_job.synthesize_objects(tables)
    m_classes = {c for c, _, _ in m}
    t_classes = {c for c, _, _ in t}
    assert "fk" in m_classes and "sequence" in m_classes
    assert "fk" not in t_classes and "sequence" not in t_classes
    assert "index" in t_classes and "view" in t_classes

    import pytest as _pytest

    with _pytest.raises(ValueError):
        get_dialect("oracle")


def test_bucketed_write_joins_without_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key: the join plan has no
    Exchange on either side — the 100 TB co-located-join path."""
    from sparksync.sink import ParquetSink
    from sparksync.source import load_table

    sink = ParquetSink(spark, str(tmp_path / "out"))
    li = load_table(spark, SF_SMOKE, "lineitem")
    o = load_table(spark, SF_SMOKE, "orders")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast: at fixture scale the dim side would
        # broadcast, hiding the shuffle this test is about
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        sink.write_bucketed(li, "li_b", ["l_orderkey"], n_buckets=8)
        sink.write_bucketed(
            o.withColumnRenamed("o_orderkey", "l_orderkey"), "o_b",
            ["l_orderkey"], n_buckets=8,
        )
        j = sink.read_bucketed("li_b").join(sink.read_bucketed("o_b"), "l_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert j.count() == li.count()
        # same join against the unbucketed write DOES shuffle
        sink.write(li, "li_plain")
        plain = sink.read("li_plain").join(
            sink.read_bucketed("o_b"), "l_orderkey"
        )
        plan2 = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("drop table if exists li_b")
        spark.sql("drop table if exists o_b")


def test_render_value():
    import datetime
    import decimal

    from sparksync.render import render_value

    assert render_value(None) == "NULL"
    assert render_value(True) == "true"
    assert render_value(b"\x01\xff") == "0x01ff"
    assert render_value(decimal.Decimal("17536.00")) == "17536.00"
    assert render_value(1.5) == "1.5"
    assert render_value(datetime.date(2024, 1, 2)) == "2024-01-02"
    assert render_value([1, "a"]) == '[1,"a"]'


def test_code_object_dump(spark, tmp_path):
    from sparksync.sink import SqlScriptSink

    job = SyncJob(spark, SF_SMOKE, str(tmp_path / "out"))
    path = str(tmp_path / "code.sql")
    with SqlScriptSink(path) as s:
        rep = job.dump_code_objects(s)
    assert rep.tables == 2 and rep.failed == 0
    text = open(path).read()
    assert "PROCEDURE refresh_order_stats" in text
    assert "dump only, not executed" in text


def test_partitioned_write_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparksync.sink import ParquetSink
    from sparksync.source import load_table

    sink = ParquetSink(spark, str(tmp_path / "out"))
    e = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts")
    )
    sink.write_partitioned(e, "events_byday", ["day"])
    days = [r["day"] for r in
            spark.read.parquet(sink.path("events_byday"))
            .select("day").distinct().orderBy("day").collect()]
    assert len(days) > 1
    q = spark.read.parquet(sink.path("events_byday")).where(
        F.col("day") == days[0]
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    assert q.count() > 0


def test_column_count_probe(spark):
    cat = FixtureCatalog(spark, SF_SMOKE)
    assert cat.column_count("region") == 2
    assert cat.column_count("no_such_table") == 0


def test_align_to_target_superset(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparksync.sink import ParquetSink
    from sparksync.source import load_table

    sink = ParquetSink(spark, str(tmp_path / "out"))
    r = load_table(spark, SF_SMOKE, "region")
    # target created with an EXTRA column
    sink.write(r.withColumn("created_at", F.lit(None).cast("timestamp")), "region")
    aligned = sink.align_to_target(r, "region")
    assert aligned.columns == ["r_regionkey", "r_name", "created_at"]
    assert aligned.where("created_at is not null").count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sink.align_to_target(r.withColumn("rogue", F.lit(1)), "region")


def test_data_phase_error_detail(spark, tmp_path):
    job = SyncJob(spark, SF_SMOKE, str(tmp_path / "out"))
    rep = job.data_phase(["no_such_table"])
    assert rep.failed == 1
    assert rep.errors and "no_such_table" in rep.errors[0]


def test_changed_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparksync.compare import changed_partitions
    from sparksync.source import load_table

    e = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    days = sorted(r["day"] for r in e.select("day").distinct().collect())
    tampered = e.where(
        ~((F.col("day") == days[0]) & (F.col("event_id") % 50 == 0))
    )
    got = sorted(
        r["day"] for r in changed_partitions(e, tampered, ["day"]).collect()
    )
    assert got == [days[0]]
    assert changed_partitions(e, e, ["day"]).count() == 0


def test_changed_partitions_in_place_update(spark):
    """An in-place update that keeps the row count AND does not move the
    partition's min/max digest must still be caught (via the commutative
    hsum fold) — this was a real blind spot: min/max move with prob ~2/n."""
    from pyspark.sql import functions as F

    from sparksync.compare import changed_partitions, partition_checksums
    from sparksync.source import load_table

    e = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    day0 = e.select(F.min("day").alias("d")).collect()[0]["d"]
    # rewrite ONE row's payload in day0, count unchanged
    victim = (
        e.where(F.col("day") == F.lit(day0))
        .select(F.min("event_id").alias("v"))
        .collect()[0]["v"]
    )
    tampered = e.withColumn(
        "event_type",
        F.when(
            (F.col("day") == F.lit(day0)) & (F.col("event_id") == victim),
            F.lit("__tampered__"),
        ).otherwise(F.col("event_type")),
    )
    # precondition for the interesting case: extremes did not move
    cs = {r["day"]: r for r in partition_checksums(e, ["day"]).collect()}
    cd = {r["day"]: r for r in partition_checksums(tampered, ["day"]).collect()}
    assert cs[day0]["cnt"] == cd[day0]["cnt"]
    got = [r["day"] for r in changed_partitions(e, tampered, ["day"]).collect()]
    assert got == [day0]


def test_changed_partitions_null_key(spark):
    """A NULL-valued partition key identical on both sides must NOT be
    flagged (eqNullSafe join); a changed null-keyed partition must be."""
    from pyspark.sql import functions as F

    from sparksync.compare import changed_partitions

    df = spark.createDataFrame(
        [(None, 1, "a"), (None, 2, "b"), ("p1", 3, "c")], ["k", "id", "v"]
    )
    assert changed_partitions(df, df, ["k"]).count() == 0
    tampered = df.withColumn(
        "v", F.when(F.col("id") == 2, F.lit("B")).otherwise(F.col("v"))
    )
    got = [r["k"] for r in changed_partitions(df, tampered, ["k"]).collect()]
    assert got == [None]


class _StubJdbcSource:
    """Stands in for JdbcSource: same surface (list_tables/read), no
    database — what SyncJob sees when cli.py wires a jdbc: src URL."""

    def __init__(self, spark, url="jdbc:stub", user="u", password="p"):
        self.spark = spark
        self.url = url

    def list_tables(self, exclude=None):
        ex = {e.upper() for e in (exclude or [])}
        return [t for t in ("t1", "t2") if t.upper() not in ex]

    def read(self, table):
        base = {"t1": [(1, "a"), (2, "b")], "t2": [(3, "c")]}[table]
        return self.spark.createDataFrame(base, "id long, v string")


class _StubJdbcSink:
    """JdbcSink surface (write/read/execute_ddl) over an in-memory map."""

    def __init__(self):
        self.tables = {}
        self.ddl = []

    def write(self, df, table, mode="overwrite", **kw):
        self.tables[table] = df.collect()

    def read(self, table):
        rows = self.tables[table]
        spark = __import__("pyspark").sql.SparkSession.getActiveSession()
        return spark.createDataFrame(rows, "id long, v string")

    def execute_ddl(self, statements):
        from sparksync.sink import DdlResult

        self.ddl.extend(statements)
        return DdlResult(executed=list(statements))


def test_jdbc_endpoints_via_library(spark):
    """SyncJob over JDBC-shaped endpoints: table list from the source's
    dictionary scan, data+compare phases run, DDL phases (which need
    catalog metadata a JDBC source doesn't expose) degrade/refuse."""
    import pytest

    src, dst = _StubJdbcSource(spark), _StubJdbcSink()
    job = SyncJob(spark, None, None, max_parallel=2, source=src, sink=dst,
                  exclude=["t2"])
    assert job.plan() == ["t1"]
    rep = job.run(checksum=True)
    assert rep.ok(), [p.__dict__ for p in rep.phases]
    assert {p.phase for p in rep.phases} == {"data sync"}
    assert set(dst.tables) == {"t1"}
    with pytest.raises(RuntimeError, match="catalog metadata"):
        job.ddl_phase(["t1"])
    with pytest.raises(RuntimeError, match="catalog metadata"):
        job.objects_phase(["t1"])


def test_jdbc_sink_executes_ddl_phases(spark, tmp_path):
    """With a fixture catalog and a DDL-capable sink, create-table and
    objects statements are EXECUTED on the sink (K5), not just
    synthesized."""
    dst = _StubJdbcSink()
    job = SyncJob(spark, SF_SMOKE, None, max_parallel=2, sink=dst,
                  exclude=[t for t in
                           "region nation customer supplier part lineitem "
                           "events documents embeddings".split()])
    tables = job.plan()
    rep = job.ddl_phase(tables)
    assert rep.failed == 0, rep.errors
    assert any("create table" in s for s in dst.ddl)
    job.objects_phase(tables)
    assert any("add primary key" in s or "create index" in s for s in dst.ddl)


def test_cli_jdbc_requires_config(tmp_path, capsys):
    """jdbc: URLs are wired, but credentials only travel via --config —
    a bare jdbc URL is a usage error, not a 'not wired' refusal."""
    import pytest

    from sparksync.cli import main

    with pytest.raises(SystemExit):
        main(["--src", "jdbc:oracle:thin:@//h:1521/X",
              "--dest", str(tmp_path), "sync-data"])
    err = capsys.readouterr().err
    assert "--config" in err and "not wired" not in err


def test_cli_jdbc_src_sync_data(monkeypatch, spark, tmp_path):
    """jdbc: src end-to-end through the CLI with the source stubbed at
    the module seam cli.py imports from: table list + reads come from
    the 'jdbc' source, parquet lands in --dest."""
    import sparksync.source as source_mod
    from sparksync.cli import main

    monkeypatch.setattr(source_mod, "JdbcSource", _StubJdbcSource)
    cfgf = tmp_path / "cfg.yml"
    cfgf.write_text(
        "src:\n  host: h\n  username: u\n  password: pw\n"
        "dest:\n  host: d\n", encoding="utf-8"
    )
    out = tmp_path / "out"
    rc = main(["--src", "jdbc:oracle:thin:@//h:1521/X", "--dest", str(out),
               "--config", str(cfgf), "sync-data"])
    assert rc == 0
    got = spark.read.parquet(str(out / "t1.parquet"))
    assert got.count() == 2


def test_write_sized_and_compact(spark, tmp_path):
    """write_sized targets ~target_mb per file; compact rewrites many
    small files into few."""
    import glob

    from sparksync.sink import ParquetSink
    from sparksync.source import load_table

    sink = ParquetSink(spark, str(tmp_path / "out"))
    li = load_table(spark, SF_SMOKE, "lineitem")

    # tiny target -> several files; huge target -> one file
    sink.write_sized(li, "li_small", target_mb=0.05)
    small = glob.glob(sink.path("li_small") + "/part-*")
    sink.write_sized(li, "li_one", target_mb=10_000)
    one = glob.glob(sink.path("li_one") + "/part-*")
    assert len(small) > 1
    assert len(one) == 1

    # fragment: 32-partition write, then compact back down
    sink.write(li.repartition(32), "li_frag")
    frag = glob.glob(sink.path("li_frag") + "/part-*")
    assert len(frag) >= 32
    before = sink.read("li_frag").count()
    sink.compact("li_frag", target_mb=10_000)
    after_files = glob.glob(sink.path("li_frag") + "/part-*")
    assert len(after_files) == 1
    assert sink.read("li_frag").count() == before


def test_merge_snapshot_semantics(spark):
    """updates win on collision, inserts append, untouched rows pass."""
    from sparksync.compare import merge_snapshot

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "val"]
    )
    updates = spark.createDataFrame(
        [(2, "B2"), (9, "new")], ["id", "val"]
    )
    got = {(r["id"], r["val"]) for r in merge_snapshot(target, updates, ["id"]).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (9, "new")}


def test_schema_diff_statuses(spark):
    """added/removed/retyped/ok all reported; names case-insensitive."""
    from sparksync.compare import schema_diff

    src = spark.createDataFrame([], "a long, b string, C double")
    dst = spark.createDataFrame([], "A long, b long, d string")
    got = {r["col_name"]: r["status"] for r in schema_diff(src, dst).collect()}
    assert got == {"a": "ok", "b": "retyped", "c": "removed", "d": "added"}


def test_schema_diff_case_fold_collision(spark):
    """Columns differing only in case cannot survive the lowercasing
    pipeline; schema_diff must report them as dup_name, not silently
    keep the last one (ADVICE r3)."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType
    from sparksync.compare import schema_diff

    src = spark.createDataFrame(
        [],
        StructType(
            [
                StructField("Id", LongType()),
                StructField("id", DoubleType()),
                StructField("ok_col", LongType()),
            ]
        ),
    )
    dst = spark.createDataFrame([], "id long, ok_col long")
    got = {r["col_name"]: r["status"] for r in schema_diff(src, dst).collect()}
    assert got == {"id": "dup_name", "ok_col": "ok"}


def test_cli_audit_subcommands(spark, tmp_path, capsys):
    """profile / schema-diff / audit-fk / skew run end-to-end against a
    synced dest; schema-diff flags drift with exit 1."""
    import json as _json

    from sparksync.cli import main

    out = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(out), "sync-data"]) == 0
    capsys.readouterr()

    assert main(["--src", SF_SMOKE, "--dest", str(out),
                 "profile", "--table", "region"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert {r["col_name"] for r in rows} >= {"r_regionkey", "r_name"}
    assert all(r["n_nulls"] == 0 for r in rows)

    assert main(["--src", SF_SMOKE, "--dest", str(out),
                 "schema-diff", "--table", "orders"]) == 0
    capsys.readouterr()

    # drift: rewrite dest orders without one column -> exit 1
    # (materialize before overwriting: writing a lazy read of the same
    # path would delete the files mid-scan)
    dst = spark.read.parquet(str(out / "orders.parquet")).drop("o_orderpriority")
    dropped = spark.createDataFrame(dst.collect(), dst.schema)
    dropped.write.mode("overwrite").parquet(str(out / "orders.parquet"))
    assert main(["--src", SF_SMOKE, "--dest", str(out),
                 "schema-diff", "--table", "orders"]) == 1
    drift = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert any(r["status"] == "removed" for r in drift)

    assert main(["--src", SF_SMOKE, "--dest", str(out), "audit-fk",
                 "--child", "lineitem", "--parent", "orders",
                 "--child-key", "l_orderkey", "--parent-key", "o_orderkey"]) == 0
    capsys.readouterr()

    assert main(["--src", SF_SMOKE, "--dest", str(out),
                 "skew", "--table", "orders", "--key", "o_custkey",
                 "--top-k", "3"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(rows) == 3 and rows[0]["cnt"] >= rows[1]["cnt"] >= rows[2]["cnt"]


def test_cli_prep_subcommand(spark, tmp_path, capsys):
    """prep writes one parquet per split plus summary lines; split
    totals equal the written row counts; '' lang keeps all languages."""
    import json as _json

    from sparksync.cli import main

    out = tmp_path / "prep_out"
    assert main(["--src", SF_SMOKE, "--dest", str(out), "prep"]) == 0
    lines = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
        if line.startswith("{")
    ]
    by_split = {r["split"]: r for r in lines}
    assert set(by_split) == {"train", "val", "test"}
    for name, row in by_split.items():
        got = spark.read.parquet(str(out / f"documents_{name}.parquet"))
        assert got.count() == row["n_docs"] > 0
        assert set(got.columns) == {"doc_id", "text", "n_tokens"}


def test_cli_prep_trim_and_decontaminate_stages(spark, tmp_path, capsys):
    """prep with the round-11 removal stages (--self-trim +
    --decontaminate): benchmark docs are excluded from the output,
    no surviving doc carries a >= 12-token verbatim benchmark span,
    within-doc >= 3-token repeats are gone, n_tokens equals the
    written text's real token count, and the stage order (self-trim
    BEFORE dedup) collapses trimmed twins."""
    import json as _json

    from pyspark.sql import functions as F

    from sparksync.cli import main
    from sparksync.ext.dedup import decontaminate_runs, self_trim_repeats

    out = tmp_path / "prep_trim_out"
    assert main([
        "--src", SF_SMOKE, "--dest", str(out), "prep", "--lang", "",
        "--splits", "all:1.0", "--self-trim",
        "--decontaminate", "source = 'src0'",
    ]) == 0
    lines = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
        if line.startswith("{")
    ]
    assert {r["split"] for r in lines} == {"all"}
    got = spark.read.parquet(str(out / "documents_all.parquet"))
    n = got.count()
    assert 0 < n == lines[0]["n_docs"]
    # no benchmark doc ids survive (src0 was the benchmark slice)
    src_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    bench_ids = {
        r.doc_id for r in src_docs.where("source = 'src0'").collect()
    }
    assert not bench_ids & {r.doc_id for r in got.select("doc_id").collect()}
    # n_tokens is the REAL token count of the written text
    chk = got.select(
        "doc_id",
        "n_tokens",
        F.size(F.split(F.trim("text"), r"\s+")).alias("real"),
    ).where(F.col("text") != "")
    bad = chk.where(F.col("n_tokens") != F.col("real")).count()
    assert bad == 0
    # the output is repeat-free and contamination-free by its own rules
    resid_self = (
        self_trim_repeats(got.select("doc_id", "text"), k=2, min_run=3)
        .where(F.col("n_trimmed") > 0)
        .count()
    )
    assert resid_self == 0
    bench = src_docs.where("source = 'src0'").select("doc_id", "text")
    resid_dec = decontaminate_runs(
        got.select("doc_id", "text"), bench, min_run=12
    ).count()
    assert resid_dec == 0


def test_cli_cardinality_subcommand(spark, tmp_path, capsys):
    """cardinality prints one KMV row per group; small groups exact."""
    import json as _json

    from sparksync.cli import main

    out = tmp_path / "card_out"
    rc = main([
        "--src", SF_SMOKE, "--dest", str(out),
        "cardinality", "--table", "events",
        "--group", "event_type", "--value", "user_id",
    ])
    assert rc == 0
    rows = [_json.loads(line) for line in
            capsys.readouterr().out.strip().splitlines() if line.startswith("{")]
    assert len(rows) == 5  # five event types in the fixture
    assert all(r["n_distinct"] > 0 for r in rows)


def test_incremental_resync_end_to_end(spark, tmp_path):
    """The full incremental-resync story composed from its pieces:
    initial sync -> source drifts in TWO partitions (one updated row,
    one new row) -> changed_partitions localizes exactly those ->
    re-extract ONLY the changed slices -> merge_snapshot folds them
    over the stale copy -> checksum parity with the drifted source.
    This is the 'never reload 100 TB for one day's drift' path; the
    moved data is bounded by the changed partitions."""
    from pyspark.sql import functions as F

    from sparksync.compare import (
        changed_partitions,
        compare_checksum,
        merge_snapshot,
    )
    from sparksync.source import load_table

    from .conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    dest = str(tmp_path / "orders_dest")
    orders.write.parquet(dest)  # initial sync

    # source drift: one row rewritten in priority '1-URGENT', one new
    # row landing in priority '5-LOW'
    drifted = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 1, F.lit(9999.99)).otherwise(
            F.col("o_totalprice")
        ),
    ).unionByName(
        spark.createDataFrame(
            [(999_999, 1, 1.0, "5-LOW")],
            "o_orderkey long, o_custkey long, o_totalprice double, o_orderpriority string",
        )
    )
    stale = spark.read.parquet(dest)
    changed = {
        r["o_orderpriority"]
        for r in changed_partitions(drifted, stale, ["o_orderpriority"]).collect()
    }
    urgent_parts = {
        r["o_orderpriority"]
        for r in orders.where("o_orderkey = 1").select("o_orderpriority").collect()
    }
    assert changed == urgent_parts | {"5-LOW"}, changed

    # re-extract only the changed slices and fold them over the copy
    slice_df = drifted.where(F.col("o_orderpriority").isin(list(changed)))
    merged = merge_snapshot(
        stale.where(~F.col("o_orderpriority").isin(list(changed))).unionByName(
            spark.createDataFrame([], slice_df.schema)
        ),
        slice_df,
        ["o_orderkey"],
    )
    r = compare_checksum(drifted, merged, "orders")
    assert r.is_ok and r.src_count == orders.count() + 1


def test_cli_hot_values_and_quantiles_subcommands(spark, tmp_path, capsys):
    """hot-values (CMS) and quantiles (hash-sampled) print per-row JSON;
    CMS estimates never undercount."""
    import json as _json

    from sparksync.cli import main

    rc = main([
        "--src", SF_SMOKE, "--dest", str(tmp_path / "o1"),
        "hot-values", "--table", "events", "--column", "event_type",
    ])
    assert rc == 0
    rows = [_json.loads(line) for line in
            capsys.readouterr().out.strip().splitlines() if line.startswith("{")]
    assert len(rows) == 5
    assert all(r["est_count"] >= r["exact_count"] for r in rows)

    rc = main([
        "--src", SF_SMOKE, "--dest", str(tmp_path / "o2"),
        "quantiles", "--table", "events", "--group", "event_type",
        "--value", "value", "--id", "event_id",
    ])
    assert rc == 0
    rows = [_json.loads(line) for line in
            capsys.readouterr().out.strip().splitlines() if line.startswith("{")]
    assert rows and all(r["p25"] <= r["p50"] <= r["p75"] <= r["p95"] for r in rows)


def test_cli_search_and_rfm_subcommands(tmp_path, capsys):
    """search prints BM25-scored docs best-first; rfm prints one row
    per key with 1..tiles tile codes."""
    import json as _json

    from sparksync.cli import main

    out = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(out),
                 "search", "--terms", "data,vector", "--top-k", "5"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(rows) == 5
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True) and scores[-1] > 0

    assert main(["--src", SF_SMOKE, "--dest", str(out),
                 "rfm", "--table", "orders", "--key", "o_custkey",
                 "--date", "o_orderdate", "--amount", "o_totalprice"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(rows) > 100  # one row per customer with orders
    for r in rows[:20]:
        assert 1 <= r["r_tile"] <= 5 and 1 <= r["f_tile"] <= 5
        assert r["segment"] == f'{r["r_tile"]}{r["f_tile"]}{r["m_tile"]}'


def test_cli_resolve_subcommand(tmp_path, capsys):
    """resolve prints every record with a canonical entity_id; near-
    identical supplier names share an entity."""
    import json as _json

    from sparksync.cli import main

    out = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(out),
                 "resolve", "--table", "supplier",
                 "--key", "s_suppkey", "--column", "s_name"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(rows) == 10  # every record resolves
    ent = {}
    for r in rows:
        ent.setdefault(r["entity_id"], []).append(r["s_suppkey"])
    # Supplier#00000000N names are pairwise ed=1 -> one entity
    assert max(len(v) for v in ent.values()) == 10
    assert all(r["entity_id"] == min(ent[r["entity_id"]]) for r in rows)


def test_union_evolved_schema_drift(spark):
    """Snapshot generations with added columns union into one table;
    a type CHANGE raises instead of silently coercing."""
    import pytest as pt

    from sparksync.compare import union_evolved

    g1 = spark.createDataFrame([(1, "a")], "id long, name string")
    g2 = spark.createDataFrame([(2, "b", 9.5)], "id long, name string, score double")
    out = union_evolved([g1, g2]).orderBy("id").collect()
    assert [r.score for r in out] == [None, 9.5]
    assert out[0].name == "a" and len(out[0]) == 3

    g3 = spark.createDataFrame([(3, 7)], "id long, name long")  # type change
    with pt.raises(ValueError, match="changed type"):
        union_evolved([g1, g3])
    with pt.raises(ValueError):
        union_evolved([])


def test_cli_readme_roundtrip(tmp_path, capsys):
    """VERDICT r4 #8: the README user contract as ONE executable
    round-trip — full-sync -> compare --checksum (exit 0) -> tamper a
    target table -> compare flags it (exit 1) -> diff renders the
    missing row -> dump-ddl writes the script. The reference's
    user-facing verb surface (readme.md:10-15), kept runnable."""
    import duckdb as _duckdb

    from sparksync.cli import main

    out = tmp_path / "dest"
    assert main(["--src", "/root/testdata/sf0.01", "--dest", str(out),
                 "--exclude", "lineitem,events,documents,embeddings",
                 "full-sync"]) == 0
    text = capsys.readouterr().out
    assert "compare: orders" in text and "ok=True" in text

    assert main(["--src", "/root/testdata/sf0.01", "--dest", str(out),
                 "--exclude", "lineitem,events,documents,embeddings",
                 "compare", "--checksum"]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert any('"table": "orders"' in l and '"ok": true' in l for l in lines)

    # tamper: drop one nation row from the target, compare must exit 1
    # (the dest table is a Spark parquet DIRECTORY; rewrite it as one
    # part file with the row removed)
    tampered = str(tmp_path / "nation_tampered.parquet")
    _duckdb.sql(
        f"copy (select * from '{out}/nation.parquet/*.parquet'"
        " where n_nationkey <> 7)"
        f" to '{tampered}' (format parquet)"
    )
    import os as _os
    import shutil as _shutil

    target = str(out / "nation.parquet")
    _shutil.rmtree(target)
    _os.makedirs(target)
    _shutil.copy(tampered, _os.path.join(target, "part-00000.parquet"))
    assert main(["--src", "/root/testdata/sf0.01", "--dest", str(out),
                 "--exclude", "lineitem,events,documents,embeddings",
                 "compare", "--checksum"]) == 1
    lines = capsys.readouterr().out.splitlines()
    assert any('"table": "nation"' in l and '"ok": false' in l for l in lines)

    # diff drills into the tampered table and renders the missing row
    assert main(["--src", "/root/testdata/sf0.01", "--dest", str(out),
                 "diff", "--table", "nation"]) == 1
    text = capsys.readouterr().out
    assert "missing" in text.lower() and "7" in text

    # dump-ddl writes the create script (the reference's -m mode)
    script = tmp_path / "createSql.log"
    assert main(["--src", "/root/testdata/sf0.01", "--dest", str(out),
                 "dump-ddl", "--out", str(script)]) == 0
    ddl = script.read_text(encoding="utf-8")
    assert "create table" in ddl and "nation" in ddl


def test_cli_audit_triad_verb(tmp_path, capsys):
    """VERDICT r5 #8: the `audit` verb surfaces the measure-the-shortcut
    triad (zone-map pruning X151, bloom semi-join X155, quantile error
    X162) as user-facing JSON reports."""
    import json as _json

    from sparksync.cli import main

    out = str(tmp_path / "dest")
    base = ["--src", SF_SMOKE, "--dest", out]

    assert main(base + ["audit", "--kind", "pruning", "--table", "events",
                        "--bucket", "event_id", "--bucket-width", "100",
                        "--value", "value", "--lo", "10", "--hi", "20"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(rows) == 1
    assert {"n_buckets", "rows_skipped", "skip_fraction"} <= set(rows[0])

    assert main(base + ["audit", "--kind", "bloom",
                        "--probe", "lineitem", "--build", "orders",
                        "--probe-key", "l_orderkey",
                        "--build-key", "o_orderkey"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows[0]["n_probe"] > 0 and rows[0]["fp_rate"] >= 0.0
    # every true match must pass the bitmap (bloom has no false negatives)
    assert rows[0]["n_bloom_pass"] >= rows[0]["n_true_match"]

    assert main(base + ["audit", "--kind", "quantile", "--table", "events",
                        "--group", "event_type", "--value", "value",
                        "--id", "event_id"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert {r["p"] for r in rows} == {0.25, 0.5, 0.75, 0.95}
    assert all(0.0 <= r["rank_error"] <= 1.0 for r in rows)

    assert main(base + ["audit", "--kind", "dedup", "--table", "documents",
                        "--sample-mod", "2"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows[0]["recall"] == 1.0 and rows[0]["n_missed"] == 0

    # missing required per-kind flags -> argparse error (exit 2)
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(base + ["audit", "--kind", "pruning", "--table", "events"])


def test_cli_full_sync_to_live_derby(spark, tmp_path, capsys):
    """The user-facing path end-to-end against a REAL JDBC target: CLI
    full-sync from the parquet fixtures into embedded Derby with
    --dest-flavor ansi — DDL phase creates the tables live (drop
    failures on the fresh DB are non-fatal), the data phase batch-
    inserts over JDBC, the objects phase executes PK/index/FK/view DDL
    (COMMENT ON lands in count-and-continue), and compare reads back
    over JDBC. This is the CLI twin of the library-level Derby e2e."""
    from sparksync.cli import main

    url = "jdbc:derby:memory:sparksync_cli_e2e"
    cfgf = tmp_path / "cfg.yml"
    cfgf.write_text(
        "src:\n  host: s\n  username: u\n  password: pw\n"
        f"dest:\n  host: {url};create=true\n  username: app\n"
        "  password: app\n  dbType: ansi\n",
        encoding="utf-8",
    )
    try:
        rc = main([
            "--src", SF_SMOKE, "--dest", url + ";create=true",
            "--config", str(cfgf),
            "--exclude", "lineitem,events,documents,embeddings,part,supplier",
            "full-sync",
        ])
        out = capsys.readouterr().out
        # comments are the only expected per-object failures on Derby
        # (no COMMENT ON); everything else — create, PK, index, FK,
        # view — executed, and compare is all-ok, so exit is 0 only if
        # the comment failures are the sole reds... the report's ok()
        # counts them, so assert the phase detail instead of rc
        assert "compare: region src=5 dst=5 ok=True" in out
        assert "compare: orders src=1500 dst=1500 ok=True" in out
        assert "compare: nation src=25 dst=25 ok=True" in out
        assert "compare: customer src=150 dst=150 ok=True" in out
        # create-table phase fully green (drop failures non-fatal)
        assert "create table: tables=4 failed=0" in out
        # the executed view is queryable over JDBC
        from sparksync.sink import JdbcSink

        sink = JdbcSink(spark, url, "app", "app", dialect="ansi")
        assert sink.read("v_order_revenue").count() == 1500
        assert rc in (0, 1)  # 1 = the two COMMENT ON count-and-continue reds
    finally:
        try:
            spark._jvm.java.sql.DriverManager.getConnection(url + ";drop=true")
        except Exception:
            pass


def test_cli_audit_round8_kinds(tmp_path, capsys):
    """The round-8 audits ride the same `audit` verb: per-source dedup
    survivorship (X189), cluster-size histogram (X190), and the
    engine-portable HLL distinct (X188) — JSON rows with the gate
    queries' invariants."""
    import json as _json

    from sparksync.cli import main

    out = str(tmp_path / "dest")
    base = ["--src", SF_SMOKE, "--dest", out]

    assert main(base + ["audit", "--kind", "survivorship",
                        "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows and all(
        0 <= r["dropped"] <= r["dup_members"] <= r["n_docs"] for r in rows
    )

    assert main(base + ["audit", "--kind", "clusters",
                        "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows and all(r["n_docs"] >= 2 * r["n_clusters"] for r in rows)

    assert main(base + ["audit", "--kind", "hll", "--table", "events",
                        "--group", "event_type", "--value", "user_id"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows and all(r["hll_est"] > 0 for r in rows)

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(base + ["audit", "--kind", "hll", "--table", "events"])


def test_cli_audit_report_kind(tmp_path, capsys):
    """`audit --kind report` (X194) emits the composed dedup report —
    one discovery + one components pass — as long-format JSON rows:
    exactly one topline whose counters sum the survivorship section,
    plus histogram and cross-source sections."""
    import json as _json

    from sparksync.cli import main

    out = str(tmp_path / "dest")
    base = ["--src", SF_SMOKE, "--dest", out]
    assert main(base + ["audit", "--kind", "report",
                        "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    secs = {r["section"] for r in rows}
    assert secs == {"topline", "survivorship", "cluster_histogram",
                    "cross_source"}
    (top,) = [r for r in rows if r["section"] == "topline"]
    surv = [r for r in rows if r["section"] == "survivorship"]
    assert top["n1"] == sum(r["n1"] for r in surv)
    assert top["n3"] == sum(r["n3"] for r in surv)


def test_cli_audit_round10_dedup_kinds(tmp_path, capsys):
    """`audit --kind decision` (X200) emits the aggregate report PLUS
    per-doc keeper rows from one winnow graph; `audit --kind trim`
    (X202) emits only the documents the exact-substring cut touched
    (the print loop stays bounded by duplicate volume), each with a
    consistent token accounting."""
    import json as _json

    from sparksync.cli import main

    out = str(tmp_path / "dest")
    base = ["--src", SF_SMOKE, "--dest", out]

    assert main(base + ["audit", "--kind", "decision",
                        "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    secs = {r["section"] for r in rows}
    assert secs == {"topline", "survivorship", "cluster_histogram",
                    "cross_source", "keeper"}
    keep = [r for r in rows if r["section"] == "keeper"]
    (top,) = [r for r in rows if r["section"] == "topline"]
    assert len(keep) == top["n1"]  # one keeper row per corpus doc
    # drops agree across the aggregate and row-level views
    assert top["n3"] == sum(
        1 for r in keep if r["n3"] == 0 and r["n2"] > 1
    )

    assert main(base + ["audit", "--kind", "trim",
                        "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows  # the fixture corpus has known near-dups
    for r in rows:
        assert r["n_trimmed"] > 0  # untouched docs are not printed
        assert 0 <= r["n_trimmed"] <= r["n_tokens"]
        n_kept = len([t for t in r["new_text"].split() if t])
        assert n_kept == r["n_tokens"] - r["n_trimmed"]

    assert main(base + ["audit", "--kind", "decontaminate",
                        "--table", "documents",
                        "--target", "source = 'src0'"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows  # src0 near-dups exist cross-source at fixture SF
    for r in rows:
        assert r["longest_run"] >= 12 and r["n_runs"] >= 1

    # arg validation belongs to THIS test's kinds (restored here after
    # a round-10 insertion orphaned it into the semantic test's tail)
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(base + ["audit", "--kind", "decontaminate",
                     "--table", "documents"])  # needs --target


def test_cli_audit_decontaminate_trim(tmp_path, capsys):
    """`audit --kind decontaminate-trim` (X204, round 11): the removal
    half as a production verb — benchmark = the --target slice,
    training copies lose their contaminated >= 12-token spans, print
    bounded to the docs the trim touched."""
    import json as _json

    from sparksync.cli import main

    out = str(tmp_path / "dest")
    base = ["--src", SF_SMOKE, "--dest", out]
    assert main(base + ["audit", "--kind", "decontaminate-trim",
                        "--table", "documents",
                        "--target", "source = 'src0'"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows  # src0 near-dups exist cross-source at fixture SF
    for r in rows:
        assert r["n_trimmed"] >= 12  # every printed doc lost >= one run
        assert r["n_trimmed"] <= r["n_tokens"]

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(base + ["audit", "--kind", "decontaminate-trim",
                     "--table", "documents"])  # needs --target


def test_cli_audit_self_trim(tmp_path, capsys):
    """`audit --kind self-trim` (X205, round 11): within-doc repeat
    removal as a production verb, print bounded to touched docs."""
    import json as _json

    from sparksync.cli import main

    out = str(tmp_path / "dest")
    base = ["--src", SF_SMOKE, "--dest", out]
    assert main(base + ["audit", "--kind", "self-trim",
                        "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows  # token stutter exists at fixture SF
    for r in rows:
        assert 1 <= r["n_trimmed"] <= r["n_tokens"]


def test_cli_audit_semantic_auto_sized(tmp_path, capsys):
    """`audit --kind semantic` (X170 / VERDICT r10 #1): the production
    semantic-dedup entry point runs with n_planes=None, i.e. RP-LSH
    bands auto-sized to the corpus via rp_lsh_params. Prints only the
    CUT list (kept=false rows), bounded by duplicate volume."""
    import json as _json

    from sparksync.cli import main

    out = str(tmp_path / "dest")
    base = ["--src", SF_SMOKE, "--dest", out]
    assert main(base + ["audit", "--kind", "semantic",
                        "--table", "embeddings",
                        "--threshold", "0.42"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows  # threshold 0.42 sits inside the fixture cosine range
    for r in rows:
        assert int(r["kept"]) == 0
        assert r["n_members"] >= 2  # a cut row always has a keeper peer


def test_cli_audit_layout_kind(tmp_path, capsys):
    """`audit --kind layout` prices linear-x vs z-order for a 2-D
    predicate from zone maps alone (X193) — one JSON row per layout,
    consistent file/row accounting."""
    import json as _json

    from sparksync.cli import main

    out = str(tmp_path / "dest")
    base = ["--src", SF_SMOKE, "--dest", out]
    assert main(base + ["audit", "--kind", "layout", "--table", "events",
                        "--x-col", "user_id", "--y-col", "event_id",
                        "--id", "event_id"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert {r["layout"] for r in rows} == {"linear_x", "zorder"}
    for r in rows:
        assert 0 <= r["files_scanned"] <= r["n_files"]
        assert 0 <= r["rows_scanned"] <= r["rows_total"]
        assert 0.0 <= r["skip_fraction"] <= 1.0

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(base + ["audit", "--kind", "layout", "--table", "events"])


def test_cli_audit_round9_text_kinds(tmp_path, capsys):
    """The round-9 text audits ride the same `audit` verb: the LM
    quality filter (X195) runs the PRODUCTION ln-perplexity mode (>= 1
    by construction, add-one smoothing), and winnowing overlap (X196)
    runs with the max_df scale cap — both emit JSON rows."""
    import json as _json

    from sparksync.cli import main

    out = str(tmp_path / "dest")
    base = ["--src", SF_SMOKE, "--dest", out]

    assert main(base + ["audit", "--kind", "quality",
                        "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows
    for r in rows:
        assert r["lm_surprisal"] >= 1.0      # perplexity of add-one LM
        assert r["n_bigrams"] == r["n_tokens"] - 1

    assert main(base + ["audit", "--kind", "winnow",
                        "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows
    for r in rows:
        assert r["d1"] < r["d2"] and r["n_shared"] >= 2

    assert main(base + ["audit", "--kind", "affinity", "--table",
                        "documents", "--target", "lang = 'en'"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows and any(r["is_target"] for r in rows)
    for r in rows:
        assert r["target_affinity"] > 0.0  # ln mode: a likelihood ratio

    assert main(base + ["audit", "--kind", "drift", "--table", "documents",
                        "--target", "source <> 'src0'"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows
    for r in rows:
        assert r["lm_surprisal"] >= 1.0       # held-out perplexity
        assert r["n_bigrams"] == r["n_tokens"] - 1

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(base + ["audit", "--kind", "quality"])  # --table required
    with _pytest.raises(SystemExit):
        main(base + ["audit", "--kind", "affinity",
                     "--table", "documents"])  # --target required
    with _pytest.raises(SystemExit):
        main(base + ["audit", "--kind", "drift",
                     "--table", "documents"])  # --target required


def test_cli_decontaminate_null_predicate_rows_stay_training(
    spark, tmp_path, capsys
):
    """A NULL predicate result means NOT benchmark (code-review r11):
    rows whose --decontaminate/--target expression evaluates to NULL
    must stay in the TRAINING corpus — plain ~expr would drop them
    from both sides and they would silently vanish. Craft a documents
    table with a NULL source: prep must keep the doc in a split, and
    audit --kind decontaminate-trim must still flag/trim it when it
    quotes the benchmark."""
    import json as _json

    import duckdb as _duckdb

    from sparksync.cli import main

    run12 = " ".join(f"b{i}" for i in range(12))
    # quality_score keeps 20..1000-token docs — pad past the gate
    pad2 = " ".join(f"p{i}" for i in range(10))
    pad3 = " ".join(f"q{i}" for i in range(10))
    pad4 = " ".join(f"r{i}" for i in range(20))
    src = tmp_path / "src"
    src.mkdir()
    con = _duckdb.connect()
    con.execute(
        f"""
        copy (
          select * from (values
            (1::bigint, '{run12} tailA', 'en', 'src0', 0::bigint),
            (2::bigint, 'x1 x2 {run12} y1 {pad2}', 'en', 'src1', 0::bigint),
            (3::bigint, 'z1 z2 {run12} z3 {pad3}', 'en', NULL, 0::bigint),
            (4::bigint, '{pad4}', 'en', 'src2', 0::bigint)
          ) t(doc_id, text, lang, source, n_chars)
        ) to '{src}/documents.parquet'
        """
    )
    con.close()
    out = tmp_path / "dest"
    # prep: doc 3 (NULL source) must survive into the output splits
    assert main([
        "--src", str(src), "--dest", str(out), "prep", "--lang", "",
        "--splits", "all:1.0", "--decontaminate", "source = 'src0'",
    ]) == 0
    capsys.readouterr()
    got = spark.read.parquet(str(out / "documents_all.parquet"))
    ids = {r.doc_id for r in got.select("doc_id").collect()}
    assert 3 in ids, "NULL-source doc vanished from the prep output"
    assert 1 not in ids  # the benchmark doc is excluded
    # and its benchmark quote was trimmed
    row3 = got.where("doc_id = 3").collect()[0]
    pad3 = " ".join(f"q{i}" for i in range(10))
    assert row3.text == f"z1 z2 z3 {pad3}"
    # audit --kind decontaminate-trim: doc 3 appears as a TRIMMED
    # training doc, not as benchmark, not dropped
    assert main([
        "--src", str(src), "--dest", str(out), "audit",
        "--kind", "decontaminate-trim", "--table", "documents",
        "--target", "source = 'src0'",
    ]) == 0
    rows = [
        _json.loads(l)
        for l in capsys.readouterr().out.splitlines()
        if l.startswith("{")
    ]
    assert {r["doc_id"] for r in rows} == {2, 3}
    # audit --kind decontaminate (the flag form) agrees
    assert main([
        "--src", str(src), "--dest", str(out), "audit",
        "--kind", "decontaminate", "--table", "documents",
        "--target", "source = 'src0'",
    ]) == 0
    rows = [
        _json.loads(l)
        for l in capsys.readouterr().out.splitlines()
        if l.startswith("{")
    ]
    assert {r["doc_id"] for r in rows} == {2, 3}


def test_cli_audit_bounded_print_and_out(spark, tmp_path, capsys):
    """VERDICT r11 #2: every audit kind's stdout is a bounded preview
    (limit() pushes into the plan — max_rows+1 rows reach the driver,
    never the duplicate-volume-sized cut list), and --out writes the
    FULL result executor-side as parquet."""
    import json as _json

    from sparksync.cli import main

    out = tmp_path / "dest"
    full = tmp_path / "audit_full"
    # l_partkey has ~200 distinct groups at sf0.001 -> >3 output rows
    assert main(["--src", SF_SMOKE, "--dest", str(out), "audit",
                 "--kind", "hll", "--table", "lineitem",
                 "--group", "l_partkey", "--value", "l_orderkey",
                 "--max-rows", "3", "--out", str(full)]) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(lines) == 4  # 3 rows + the truncation marker
    assert lines[-1]["truncated"] is True and lines[-1]["shown"] == 3
    written = spark.read.parquet(str(full))
    n_groups = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_partkey").distinct().count()
    )
    assert written.count() == n_groups > 3  # full result, not the preview
    # under the cap: no truncation marker
    assert main(["--src", SF_SMOKE, "--dest", str(out), "audit",
                 "--kind", "hll", "--table", "orders",
                 "--group", "o_orderstatus", "--value", "o_orderkey"]) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert 0 < len(lines) <= 2000 and all("truncated" not in l for l in lines)


def test_cli_prep_trim_fixpoint(spark, tmp_path, capsys):
    """--trim-fixpoint threads until_fixpoint=True through both trim
    stages; on the fixture corpus one pass is already the fixpoint, so
    output must equal the single-pass run."""
    import json as _json

    from sparksync.cli import main

    outs = {}
    for flag, dest in (((), "d1"), (("--trim-fixpoint",), "d2")):
        out = tmp_path / dest
        assert main(["--src", SF_SMOKE, "--dest", str(out), "prep",
                     "--self-trim", "--decontaminate", "source = 'src0'",
                     "--splits", "train:1.0", *flag]) == 0
        lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
        outs[dest] = {
            tuple(r)
            for r in spark.read.parquet(str(out / "documents_train.parquet"))
            .collect()
        }
        assert lines  # summary printed
    assert outs["d1"] == outs["d2"]


def test_cli_audit_coverage_softdedup_prep_leakage(spark, tmp_path, capsys):
    """Round-12 verbs: audit --kind coverage (per-benchmark burn
    report), audit --kind soft-dedup (cut list under the bounded
    print), prep --leakage-safe (cluster-keyed split exits 0 and
    writes every split)."""
    import json as _json

    from sparksync.cli import main

    out = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(out), "sync-data"]) == 0
    capsys.readouterr()

    assert main(["--src", SF_SMOKE, "--dest", str(out), "audit",
                 "--kind", "coverage", "--table", "documents",
                 "--target", "source = 'src0'"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    n_bench = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .where("source = 'src0'").count()
    )
    assert len(rows) == n_bench  # one row per benchmark doc
    assert all(0.0 <= r["coverage"] <= 1.0 for r in rows)

    assert main(["--src", SF_SMOKE, "--dest", str(out), "audit",
                 "--kind", "soft-dedup", "--table", "documents",
                 "--alpha", "0.0"]) == 0
    cut = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert cut and all(r["kept"] == 0 for r in cut)

    assert main(["--src", SF_SMOKE, "--dest", str(out), "prep",
                 "--leakage-safe", "--splits", "train:0.9,val:0.1"]) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert {l["split"] for l in lines} == {"train", "val"}


def test_cli_audit_split_leakage(tmp_path, capsys):
    """X209 verb: one row per split cell, total pairs conserved."""
    import json as _json

    from sparksync.cli import main

    out = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(out), "audit",
                 "--kind", "split-leakage", "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows and all(r["n_pairs"] > 0 for r in rows)
    assert all(r["split_a"] <= r["split_b"] for r in rows)


def test_cli_audit_boilerplate_threshold_sweep(tmp_path, capsys):
    """X210/X211 verbs: boilerplate prints only docs at/above --rate;
    threshold-sweep reports every candidate threshold."""
    import json as _json

    from sparksync.cli import main

    out = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(out), "audit",
                 "--kind", "boilerplate", "--table", "documents",
                 "--rate", "0.0"]) == 0
    all_rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert all_rows  # rate 0.0 keeps every doc - never vacuous
    assert all(0.0 <= r["boilerplate_frac"] <= 1.0 for r in all_rows)
    assert main(["--src", SF_SMOKE, "--dest", str(out), "audit",
                 "--kind", "boilerplate", "--table", "documents",
                 "--rate", "0.5"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    # the cutoff path must agree with a client-side filter of the full set
    assert len(rows) == sum(
        1 for r in all_rows if r["boilerplate_frac"] >= 0.5
    )
    assert all(r["boilerplate_frac"] >= 0.5 for r in rows)

    assert main(["--src", SF_SMOKE, "--dest", str(out), "audit",
                 "--kind", "threshold-sweep", "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [r["threshold"] for r in rows] == [0.7, 0.8, 0.9, 0.95]
    ps = [r["n_pairs"] for r in rows]
    assert ps == sorted(ps, reverse=True)


def test_cli_prep_cap_per_source(spark, tmp_path, capsys):
    """X212 in prep: with --cap-per-source N, no source exceeds N docs
    across the written splits."""
    import json as _json

    from sparksync.cli import main

    out = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(out), "prep",
                 "--lang", "", "--cap-per-source", "7",
                 "--splits", "train:1.0"]) == 0
    capsys.readouterr()
    written = spark.read.parquet(str(out / "documents_train.parquet"))
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "source"
    )
    per = (
        written.join(src, "doc_id").groupBy("source").count().collect()
    )
    assert per and all(r["count"] <= 7 for r in per)


def test_cli_rfm_resolve_bounded_print_and_out(spark, tmp_path, capsys):
    """VERDICT r12 #2: rfm (customer-sized output) and resolve
    (corpus-sized output) must cap stdout at --max-rows with a
    truncation notice and round-trip the FULL result executor-side via
    --out — the same contract the audit verb got in r12. The reference
    never prints row data at all (cmd/root.go:140-200)."""
    import json as _json

    from sparksync.cli import main

    dest = tmp_path / "dest"

    rfm_out = str(tmp_path / "rfm_full")
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "rfm", "--table", "orders", "--key", "o_custkey",
                 "--date", "o_orderdate", "--amount", "o_totalprice",
                 "--max-rows", "7", "--out", rfm_out]) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(lines) == 8  # 7 rows + truncation notice
    assert lines[-1]["truncated"] is True and lines[-1]["shown"] == 7
    full = spark.read.parquet(rfm_out)
    assert full.count() > 100  # every customer landed in the parquet
    assert {"segment", "r_tile"} <= set(full.columns)

    res_out = str(tmp_path / "resolve_full")
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "resolve", "--table", "supplier",
                 "--key", "s_suppkey", "--column", "s_name",
                 "--max-rows", "4", "--out", res_out]) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(lines) == 5 and lines[-1]["truncated"] is True
    rows = spark.read.parquet(res_out).collect()
    assert len(rows) == 10  # full entity table round-trips
    ents = {r["entity_id"] for r in rows}
    assert len(ents) == 1  # the ed<=1 supplier names still one entity
    # default (no flags): small tables print fully, no notice
    assert main(["--src", SF_SMOKE, "--dest",
                 str(dest), "resolve", "--table", "supplier",
                 "--key", "s_suppkey", "--column", "s_name"]) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(lines) == 10 and all("truncated" not in l for l in lines)


def test_cli_recipe_and_round13_audit_kinds(tmp_path, capsys):
    """recipe prints one allocation row per source summing to the
    budget (when any source is uncapped); audit --kind attrition
    prints the 3-row waterfall; audit --kind ann-recall prints one
    recall row per query id."""
    import json as _json

    from sparksync.cli import main

    dest = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "recipe", "--budget", "5000", "--max-epochs", "2"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(rows) == 20  # one per source
    assert abs(sum(r["allocated_tokens"] for r in rows) - 5000) < 1e-6
    assert all(r["epochs"] <= 2.0 + 1e-12 for r in rows)

    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "audit", "--kind", "attrition", "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [r["rule"] for r in rows] == ["lang", "quality", "repetition"]
    assert rows[0]["n_surviving"] >= rows[2]["n_surviving"]

    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "audit", "--kind", "ann-recall", "--table", "embeddings",
                 "--queries", "200,201,202", "--k", "10",
                 "--nprobe", "8"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert {r["query_id"] for r in rows} == {200, 201, 202}
    assert all(r["recall_at_k"] == 1.0 for r in rows)  # nprobe=all

    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "audit", "--kind", "packing", "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [r["ctx_len"] for r in rows] == [64, 128, 256, 512]
    assert all(r["doc_chunks"] >= r["min_sequences"] for r in rows)

    # group-cardinality verbs share the bounded contract (r13)
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "cardinality", "--table", "events", "--group",
                 "event_type", "--value", "user_id",
                 "--max-rows", "2"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(rows) == 3 and rows[-1]["truncated"] is True
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "quantiles", "--table", "orders", "--group",
                 "o_orderpriority", "--value", "o_totalprice",
                 "--id", "o_orderkey", "--max-rows", "3"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(rows) == 4 and rows[-1]["truncated"] is True

    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "audit", "--kind", "signal-auc", "--table", "documents",
                 "--target", "n_chars >= 200",
                 "--signals", "n_chars,doc_id"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    by = {r["signal"]: r for r in rows}
    assert by["n_chars"]["auc"] == 1.0  # the label IS the signal
    assert abs(by["doc_id"]["auc"] - 0.5) < 0.2  # ids are noise


def test_cli_recipe_execute(tmp_path, capsys):
    """recipe --execute (X218): the planned allocation runs through
    budget_mix; stdout is the bounded preview, --out round-trips the
    full admitted set, and every source's admitted tokens stay within
    floor(its allocation)."""
    import json as _json
    import math

    from sparksync.cli import main

    dest = tmp_path / "dest"
    out_dir = str(tmp_path / "mix_out")
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "recipe", "--budget", "5000", "--max-epochs", "2",
                 "--execute", "--max-rows", "5", "--out", out_dir]) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(lines) == 6 and lines[-1]["truncated"] is True
    # ADVICE r14: with --out the preview re-reads parquet, which drops
    # the writer's sort — the verb must re-apply (group, id) so the
    # printed head is deterministic like stages/order
    keys = [(l["source"], l["doc_id"]) for l in lines[:-1]]
    assert keys == sorted(keys)

    # plan the same budget to bound the written mix per source
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "recipe", "--budget", "5000", "--max-epochs", "2"]) == 0
    alloc = {
        r["source"]: int(math.floor(r["allocated_tokens"]))
        for r in map(_json.loads, capsys.readouterr().out.splitlines())
    }
    from sparksync.session import get_spark

    spark = get_spark("test-cli-recipe-exec")
    full = spark.read.parquet(out_dir).collect()
    per = {}
    for r in full:
        per[r.source] = max(per.get(r.source, 0), r.cum_tokens)
    assert per and all(per[s] <= alloc[s] for s in per)


def test_cli_version(capsys):
    """Reference cmd/version.go:1-51 parity: `version` needs no
    --src/--dest, prints the package + pyspark versions, exits 0."""
    import pyspark

    import sparksync
    from sparksync.cli import main

    assert main(["version"]) == 0
    out = capsys.readouterr().out
    assert sparksync.__version__ in out and pyspark.__version__ in out


def test_cli_audit_diversity_and_reweight(tmp_path, capsys):
    """audit --kind diversity prints one closed-form row per label;
    audit --kind reweight prints a weight distribution over sources
    summing to 1 (higher mean loss -> higher weight)."""
    import json as _json

    from sparksync.cli import main

    dest = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "audit", "--kind", "diversity",
                 "--table", "embeddings"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(rows) == 10  # one per label
    assert all(-1.0 <= r["mean_pairwise_cos"] <= 1.0 for r in rows)

    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "audit", "--kind", "reweight", "--table", "documents",
                 "--loss", "n_chars", "--eta", "1.0"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(rows) == 20  # one per source
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-9
    hardest = max(rows, key=lambda r: r["mean_loss"])
    assert hardest["weight"] == max(r["weight"] for r in rows)


def test_cli_order_and_length_buckets(tmp_path, capsys):
    """order prints the first max_rows of the deterministic training
    order (rank ascending, dense from 1) with the bounded contract;
    audit --kind length-buckets prints the per-bucket padding table
    with closed accounting."""
    import json as _json

    from sparksync.cli import main

    dest = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "order", "--table", "documents", "--id", "doc_id",
                 "--method", "knuth", "--max-rows", "4"]) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[-1]["truncated"] is True
    assert [r["rank"] for r in lines[:-1]] == [1, 2, 3, 4]

    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "audit", "--kind", "length-buckets",
                 "--table", "documents"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows and all(
        r["pad_bucket"] == r["n_docs"] * r["max_len"] - r["total_tokens"]
        for r in rows
    )
    assert all(r["pad_bucket"] <= r["pad_global"] for r in rows)


def test_cli_stages(tmp_path, capsys):
    """stages prints the first max_rows of the curriculum order (rank
    ascending from 1, stage non-decreasing) with the bounded
    contract."""
    import json as _json

    from sparksync.cli import main

    dest = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "stages", "--table", "documents", "--signal", "n_chars",
                 "--id", "doc_id", "--stages", "4", "--max-rows", "5"]) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[-1]["truncated"] is True
    rows = lines[:-1]
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    assert all(r["stage"] == 1 for r in rows)  # first quartile first


def test_cli_stages_out_preview_keeps_rank_order(tmp_path, capsys):
    """code-review r14: with --out, the preview re-reads the written
    parquet (file-split order, not writer order) — the verb must
    re-apply the rank sort so the printed head is still ranks 1..n."""
    import json as _json

    from sparksync.cli import main

    dest = tmp_path / "dest"
    out_dir = str(tmp_path / "stage_out")
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "stages", "--table", "documents", "--signal", "n_chars",
                 "--id", "doc_id", "--max-rows", "4",
                 "--out", out_dir]) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[-1]["truncated"] is True
    assert [r["rank"] for r in lines[:-1]] == [1, 2, 3, 4]


def test_cli_curriculum_and_bpe(tmp_path, capsys):
    """curriculum prints the first max_rows of the composed loader
    order (position ascending from 1, stage non-decreasing, stage_rank
    dense within stage) with the bounded contract; bpe prints the
    learned merge table (one row per step, steps dense from 1)."""
    import json as _json

    from sparksync.cli import main

    dest = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "curriculum", "--table", "documents",
                 "--signal", "n_chars", "--id", "doc_id",
                 "--method", "knuth", "--max-rows", "5"]) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[-1]["truncated"] is True
    rows = lines[:-1]
    assert [r["position"] for r in rows] == [1, 2, 3, 4, 5]
    assert all(r["stage"] == 1 for r in rows)  # stage-major
    assert [r["stage_rank"] for r in rows] == [1, 2, 3, 4, 5]

    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "bpe", "--table", "documents", "--merges", "3"]) == 0
    merges = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [m["step"] for m in merges] == [1, 2, 3]
    assert all(m["merged"] == m["left_sym"] + m["right_sym"] for m in merges)

    # --segment (X228): vocabulary segmentation, bounded, w-ordered
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "bpe", "--table", "documents", "--merges", "3",
                 "--segment", "--max-rows", "4"]) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[-1]["truncated"] is True
    segs = lines[:-1]
    assert [s["w"] for s in segs] == sorted(s["w"] for s in segs)
    assert all(
        s["n_pieces"] == len(s["pieces"].split(" ")) for s in segs
    )


def test_cli_audit_pq(tmp_path, capsys):
    """audit --kind pq prints one row per subspace (M=8 over the 64-dim
    fixture embeddings) with closed accounting: n_vectors = the corpus
    count in every subspace, mean_d2 <= max_d2, d2 non-negative."""
    import json as _json

    from sparksync.cli import main

    dest = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "audit", "--kind", "pq", "--table", "embeddings"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [r["subspace"] for r in rows] == list(range(8))
    assert len({r["n_vectors"] for r in rows}) == 1
    assert all(0.0 <= r["mean_d2"] <= r["max_d2"] for r in rows)


def test_cli_audit_pq_recall(tmp_path, capsys):
    """audit --kind pq-recall prints one row per query with recall in
    [0, 1] and n_hits <= k; missing --queries errors loudly."""
    import json as _json

    import pytest as _pytest

    from sparksync.cli import main

    dest = tmp_path / "dest"
    assert main(["--src", SF_SMOKE, "--dest", str(dest),
                 "audit", "--kind", "pq-recall", "--table", "embeddings",
                 "--queries", "0,5,9", "--k", "5"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [r["query_id"] for r in rows] == [0, 5, 9]
    assert all(0 <= r["n_hits"] <= 5 and 0.0 <= r["recall_at_k"] <= 1.0
               for r in rows)

    with _pytest.raises(SystemExit):
        main(["--src", SF_SMOKE, "--dest", str(dest),
              "audit", "--kind", "pq-recall", "--table", "embeddings"])
