"""Driver contract for the spark-graft builder (PySpark target).

Thin re-export of the engine's query/oracle registry
(``etl_cotrip_signs_spark.registry``): every implemented operator from
SURVEY.md §2 registers a named ``(spark, sf_dir) -> DataFrame`` callable
and, when SQL-expressible, a DuckDB oracle with matching column names.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver may import this file by path with an arbitrary cwd; make the
# sibling package importable regardless.
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from etl_cotrip_signs_spark import registry

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    q5_regional_revenue: 5-table star join (broadcast dims) + agg — proves
    scan/join/agg/sort end-to-end in one plan.
    """
    return registry.QUERIES["q5_regional_revenue"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents (omitted → rows-only check)."""
    return dict(registry.ORACLES)
