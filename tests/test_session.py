"""Session policy at the query registry boundary.

A registered query enforces exactly the confs that change results (UTC
session time zone, parquet nanosAsLong) on whatever session it is handed,
and leaves every other conf as the caller set it. The ``spark`` fixture is
session-scoped, so each test restores what it changes.
"""

from __future__ import annotations

from contextlib import contextmanager

from etl_cotrip_signs_spark import registry

from .conftest import SF_SMALL

registry.load_all()


@contextmanager
def _confs(spark, confs):
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_query_build_leaves_caller_confs_alone(spark):
    caller = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
    }
    with _confs(spark, caller):
        registry.QUERIES["q5_regional_revenue"](spark, SF_SMALL)
        assert {k: spark.conf.get(k) for k in caller} == caller


def test_query_build_enforces_result_confs(spark):
    foreign = {
        "spark.sql.session.timeZone": "America/Denver",
        "spark.sql.legacy.parquet.nanosAsLong": "false",
    }
    with _confs(spark, foreign):
        registry.QUERIES["q5_regional_revenue"](spark, SF_SMALL)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
