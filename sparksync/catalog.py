"""SchemaExtractor: the catalog layer.

Against a real Oracle source this runs the reference's dictionary
queries through spark.read.jdbc (they are plain SELECTs producing tiny
DataFrames — S1/S6/S7/S9-S16 in SURVEY section 2.1, e.g. the
USER_TAB_COLUMNS join at /root/reference/cmd/tablemeta.go:74).

Against the parquet fixtures there is no Oracle, so `FixtureCatalog`
fabricates the same Oracle-typed view of every table from its parquet
schema (the mapping FIXTURES.md documents per column), letting the
type-mapping/DDL layer run end-to-end without a live database.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ddl import FkSpec, IndexSpec
from .session import local_frame
from .typemap import OracleColumn, TableSpec

CORE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: parquet columns that FIXTURES.md types as decimal(12,2) on the Oracle side
_DECIMAL_COLS = {
    "c_acctbal",
    "s_acctbal",
    "p_retailprice",
    "o_totalprice",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "value",
}
#: parquet string columns that are CLOB on the Oracle side
_CLOB_COLS = {"props", "text"}
#: char-typed columns: name -> length
_CHAR_COLS = {
    "c_mktsegment": 10,
    "p_brand": 10,
    "o_orderstatus": 1,
    "l_returnflag": 1,
    "l_linestatus": 1,
    "lang": 2,
}


# --------------------------------------------------------------------------
# Fixture object catalog: what USER_INDEXES / USER_CONSTRAINTS /
# USER_TRIGGERS / USER_VIEWS / USER_TAB_COMMENTS would hold for an Oracle
# schema containing these tables (the dictionary scans at
# /root/reference/cmd/tablemeta.go:194-310,367-427 return exactly these
# shapes). Keyed lowercase; names follow the TPC-H relationships.
# --------------------------------------------------------------------------

FIXTURE_PRIMARY_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

FIXTURE_SECONDARY_INDEXES: list[IndexSpec] = [
    IndexSpec("nation", "idx_nation_regionkey", ["n_regionkey"]),
    IndexSpec("nation", "uk_nation_name", ["n_name"], uniqueness="UNIQUE"),
    IndexSpec("customer", "idx_customer_nationkey", ["c_nationkey"]),
    IndexSpec("orders", "idx_orders_custkey", ["o_custkey"]),
    IndexSpec("lineitem", "idx_lineitem_part_supp", ["l_partkey", "l_suppkey"]),
    IndexSpec("events", "idx_events_user_ts", ["user_id", "ts"]),
]

FIXTURE_FOREIGN_KEYS: list[FkSpec] = [
    FkSpec("nation", "fk_nation_region", ["n_regionkey"], "region", ["r_regionkey"]),
    FkSpec("customer", "fk_customer_nation", ["c_nationkey"], "nation", ["n_nationkey"]),
    FkSpec("supplier", "fk_supplier_nation", ["s_nationkey"], "nation", ["n_nationkey"]),
    FkSpec("orders", "fk_orders_customer", ["o_custkey"], "customer", ["c_custkey"]),
    FkSpec(
        "lineitem", "fk_lineitem_orders", ["l_orderkey"], "orders", ["o_orderkey"],
        delete_rule="CASCADE",
    ),
    FkSpec("lineitem", "fk_lineitem_part", ["l_partkey"], "part", ["p_partkey"]),
    FkSpec("lineitem", "fk_lineitem_supplier", ["l_suppkey"], "supplier", ["s_suppkey"]),
    FkSpec("embeddings", "fk_embeddings_doc", ["vec_id"], "documents", ["doc_id"]),
]

FIXTURE_TABLE_COMMENTS: dict[str, str] = {
    "region": "TPC-H region dimension",
    "orders": "order headers, one row per order",
    "documents": "raw text corpus for the LLM-pipeline operators",
}

#: trigger bodies as USER_TRIGGERS.trigger_body returns them
#: (tablemeta.go:233-276 detects the seq.NEXTVAL auto-increment pattern)
FIXTURE_TRIGGERS: dict[str, list[str]] = {
    "events": [
        "BEGIN\n  SELECT EVENTS_SEQ.NEXTVAL INTO:NEW.EVENT_ID FROM SYS.DUAL;\nEND;"
    ],
}

#: view name -> Oracle view text (USER_VIEWS.text), rewritten by R2
FIXTURE_VIEWS: dict[str, str] = {
    "v_order_revenue": (
        'select o_orderkey, nvl(o_totalprice, 0) as revenue from "orders"'
    ),
}

#: raw DBMS_METADATA.GET_DDL output for function-based indexes (R3 input)
FIXTURE_FUNCTION_INDEX_DDLS: dict[str, list[str]] = {
    "documents": [
        'CREATE INDEX "APP"."IDX_DOCUMENTS_LANG_UP" ON "DOCUMENTS" '
        '(UPPER("LANG"))\n  PCTFREE 10 INITRANS 2 MAXTRANS 255 COMPUTE STATISTICS'
    ],
}

#: code objects as DBMS_METADATA.GET_DDL(type, name) returns them — the
#: reference dumps these to a flat file, never executes them
#: (tablemeta.go:446, S15)
FIXTURE_CODE_OBJECTS: list[tuple[str, str, str]] = [
    (
        "PROCEDURE",
        "refresh_order_stats",
        "CREATE OR REPLACE PROCEDURE refresh_order_stats AS\n"
        "BEGIN\n  DBMS_STATS.GATHER_TABLE_STATS(USER, 'ORDERS');\nEND;",
    ),
    (
        "FUNCTION",
        "order_total_class",
        "CREATE OR REPLACE FUNCTION order_total_class(p NUMBER) RETURN VARCHAR2 AS\n"
        "BEGIN\n  RETURN CASE WHEN p > 100000 THEN 'BIG' ELSE 'SMALL' END;\nEND;",
    ),
]


def fabricate_oracle_column(field: T.StructField, ordinal: int) -> OracleColumn:
    """Invert FIXTURES.md: parquet field -> the Oracle catalog row the
    reference would have seen for it."""
    name = field.name
    dt = field.dataType
    if name in _DECIMAL_COLS:
        return OracleColumn(name, "NUMBER", precision=12, scale=2, ordinal=ordinal)
    if name in _CLOB_COLS:
        return OracleColumn(name, "CLOB", ordinal=ordinal)
    if name in _CHAR_COLS:
        return OracleColumn(name, "CHAR", char_length=_CHAR_COLS[name], ordinal=ordinal)
    if isinstance(dt, T.IntegerType):
        # avg_col_len < 6 -> int (tablemeta.go:142-143)
        return OracleColumn(name, "NUMBER", precision=10, scale=0, avg_col_len=4, ordinal=ordinal)
    if isinstance(dt, T.LongType):
        # avg_col_len >= 6 -> bigint (tablemeta.go:140-141)
        return OracleColumn(name, "NUMBER", precision=19, scale=0, avg_col_len=7, ordinal=ordinal)
    if isinstance(dt, T.DoubleType):
        return OracleColumn(name, "NUMBER", precision=12, scale=2, ordinal=ordinal)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # orders/lineitem dates are Oracle DATE; events.ts is TIMESTAMP.
        # Spark 4 reads tz-naive parquet timestamps as TimestampNTZType
        # (inferTimestampNTZ), so both flavors must land here.
        if name == "ts":
            return OracleColumn(name, "TIMESTAMP", scale=6, ordinal=ordinal)
        return OracleColumn(name, "DATE", ordinal=ordinal)
    if isinstance(dt, T.StringType):
        return OracleColumn(name, "VARCHAR2", char_length=255, ordinal=ordinal)
    if isinstance(dt, T.BinaryType):
        return OracleColumn(name, "BLOB", ordinal=ordinal)
    if isinstance(dt, T.ArrayType):
        # embeddings.embedding — no Oracle analogue; treated as an
        # extension-only column (SURVEY 1.4 note).
        return OracleColumn(name, "ARRAY<FLOAT>", ordinal=ordinal)
    return OracleColumn(name, str(dt).upper(), ordinal=ordinal)


class FixtureCatalog:
    """Catalog over a directory of parquet tables (the test stand-in for
    Oracle's data dictionary)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def list_tables(self, exclude: list[str] | None = None) -> list[str]:
        """S1 (cmd/root.go:209-262): table list minus exclude list."""
        excl = {e.lower() for e in (exclude or [])}
        names = [
            f[: -len(".parquet")]
            for f in sorted(os.listdir(self.sf_dir))
            if f.endswith(".parquet")
        ]
        return [n for n in names if n.lower() not in excl]

    def load(self, table: str) -> DataFrame:
        from .source import load_table

        return load_table(self.spark, self.sf_dir, table)

    def table_spec(self, table: str) -> TableSpec:
        """S6/S8: column metadata; here fabricated from the parquet
        schema (a zero-row read — schema only, no data scan). Primary-
        key columns are marked NOT NULL the way Oracle's dictionary
        reports them (a PK implies a NOT NULL constraint there) —
        without this, strict engines (Derby) reject the later
        ADD PRIMARY KEY over a nullable column, a failure the MySQL
        arm masks by silently converting the column."""
        schema = self.load(table).schema
        pk_cols = {c.lower() for c in FIXTURE_PRIMARY_KEYS.get(table.lower(), [])}
        cols = []
        for i, f in enumerate(schema.fields):
            c = fabricate_oracle_column(f, i + 1)
            if c.name.lower() in pk_cols and c.nullable:
                import dataclasses

                c = dataclasses.replace(c, nullable=False)
            cols.append(c)
        return TableSpec(name=table, columns=cols)

    def column_metadata_df(self, table: str) -> DataFrame:
        """The S6 dictionary join as a DataFrame (what
        `spark.read.jdbc(USER_TAB_COLUMNS ...)` would return)."""
        spec = self.table_spec(table)
        rows = [
            (
                table.upper(),
                c.name.upper(),
                c.data_type,
                c.char_length,
                c.precision,
                c.scale,
                "Y" if c.nullable else "N",
                c.default,
                c.comment,
                c.avg_col_len,
                c.ordinal,
            )
            for c in spec.columns
        ]
        schema = (
            "table_name string, column_name string, data_type string,"
            "char_length int, data_precision int, data_scale int,"
            "nullable string, data_default string, comments string,"
            "avg_col_len int, column_id int"
        )
        return local_frame(self.spark, rows, schema)

    def column_count(self, table: str) -> int:
        """S7 (tablemeta.go:64-72): the reference's existence probe /
        loop bound (`select count(*) from user_tab_columns where
        table_name=...`). Zero means the table does not exist."""
        try:
            return len(self.table_spec(table).columns)
        except Exception:  # noqa: BLE001 — missing table probes as 0
            return 0

    def current_user(self) -> str:
        """S16 (cmd/tablemeta.go:322): the reference prints `select user
        from dual`; Spark's analogue is the session's current_user()."""
        return self.spark.sql("select current_user() as u").collect()[0][0]

    # -- object scans (S9/S10/S11/S13/S14), fabricated like the columns --

    def indexes(self, table: str) -> list[IndexSpec]:
        """S9 (tablemeta.go:194-215): PK first, then secondary indexes in
        name order — the ORDER BY of the reference's catalog SQL."""
        out: list[IndexSpec] = []
        pk = FIXTURE_PRIMARY_KEYS.get(table.lower())
        if pk:
            out.append(
                IndexSpec(table, f"pk_{table.lower()}", pk, "UNIQUE", constraint_type="P")
            )
        out.extend(
            ix for ix in sorted(FIXTURE_SECONDARY_INDEXES, key=lambda i: i.index_name)
            if ix.table == table.lower()
        )
        return out

    def foreign_keys(self, table: str) -> list[FkSpec]:
        """S11 (tablemeta.go:289-310)."""
        return [fk for fk in FIXTURE_FOREIGN_KEYS if fk.table == table.lower()]

    def trigger_bodies(self, table: str) -> list[str]:
        """S10 (tablemeta.go:233-276)."""
        return FIXTURE_TRIGGERS.get(table.lower(), [])

    def table_comment(self, table: str) -> str | None:
        """S13 (tablemeta.go:367-388)."""
        return FIXTURE_TABLE_COMMENTS.get(table.lower())

    def function_index_ddls(self, table: str) -> list[str]:
        """S12 (tablemeta.go:339): raw DBMS_METADATA DDL needing cleanup."""
        return FIXTURE_FUNCTION_INDEX_DDLS.get(table.lower(), [])

    def views(self, revalidate: bool = False) -> dict[str, str]:
        """S14 (tablemeta.go:417-427).

        revalidate is the Spark-native analogue of the reference's
        `alter view X compile` before the DDL fetch (tablemeta.go:402,
        414): Oracle recompiles views invalidated by DDL churn so the
        text fetch returns usable DDL. Spark has no stored-view
        invalidation state; the equivalent check is running the
        ANALYZER over each view body against the current source tables
        (schema resolution only — nothing executes). Views that no
        longer analyze (dropped column, renamed table) are returned
        under `__invalid__:<name>` with the error text so the caller
        can report them per-object (K7) instead of shipping DDL that
        will fail on the target — matching the reference's
        count-and-continue posture."""
        out = dict(FIXTURE_VIEWS)
        if not revalidate:
            return out
        result: dict[str, str] = {}
        for name, text in out.items():
            try:
                # Oracle double-quotes are ALWAYS identifiers (strings are
                # single-quoted), so swap them to Spark backticks for the
                # probe; NVL analyzes natively. The stored text stays
                # untouched — the R2 dialect rewrite owns the target DDL.
                self.spark.sql(text.replace('"', "`")).schema  # noqa: B018
                result[name] = text
            except Exception as e:  # noqa: BLE001 — per-object capture
                result[f"__invalid__:{name}"] = str(e).split("\n")[0][:200]
        return result

    def code_objects(self) -> list[tuple[str, str, str]]:
        """S15 (tablemeta.go:446): (type, name, ddl) dump-only objects."""
        return list(FIXTURE_CODE_OBJECTS)

    def ordered_column_list(self, table: str) -> str:
        """S5 (cmd/root.go:313-317): the ordered, quoted projection list
        the reference builds with xmlagg — here via the Spark
        ordered-string-agg recipe (SURVEY Q7) over the metadata DF."""
        df = self.column_metadata_df(table)
        out = df.agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("column_id"), F.col("column_name")))
                    ),
                    lambda s: F.concat(F.lit('"'), s["column_name"], F.lit('"')),
                ),
                ",",
            ).alias("cols")
        ).collect()[0][0]
        return out
