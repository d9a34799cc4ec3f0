"""Query registry: every operator from SURVEY.md section 2 (plus the
LLM-pipeline extensions) as a named (spark_fn, oracle_sql) pair.

Each spark_fn takes (spark, sf_dir) and returns a DataFrame; oracle_sql
is the equivalent ANSI SQL DuckDB runs over the same parquet tables.
Column names and types are aligned pair-by-pair because the driver's
compare hashes values after sorting columns by name.

Numeric discipline (so hashes match bit-for-bit):
- money columns are cast to decimal(12,2) at the scan (FIXTURES.md says
  they are NUMBER(12,2) on the Oracle side) and aggregate sums are cast
  to an explicit final decimal type on BOTH sides;
- averages/ratios are computed as double division of exact operands
  (same two operands -> identical IEEE result in both engines);
- counts/rankings are bigint on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import compare
from ..ext import asof, dedup, jsonops, sampling, similarity, skew, textops
from ..session import local_frame  # noqa: F401 — driver-built tables
from ..source import plan_pages

Tables = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


from ..source import load_table as load  # noqa: E402 — shared fixture loader


def _dec(c: str) -> F.Column:
    return F.col(c).cast("decimal(12,2)")


def _register_views(spark: SparkSession, sf_dir: str, names: list[str]) -> None:
    for n in names:
        load(spark, sf_dir, n).createOrReplaceTempView(n)
