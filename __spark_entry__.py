"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``python_dtl_spark``; this module just adapts
the catalog to the driver's calling convention.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from python_dtl_spark.catalog import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H Q1 via the full DTL engine (lexer → parser
    → strict-typed compiler → Catalyst) on /root/testdata/sf0.001."""
    return QUERIES["dtl_q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 + M6
    extensions (see python_dtl_spark/catalog.py)."""
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (every catalog row has one)."""
    return {name: q.oracle for name, q in QUERIES.items()}
