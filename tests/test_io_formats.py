"""Round-trip tests for file readers/sinks and the observed signs pipeline."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_cotrip_signs_spark.io import load_table
from etl_cotrip_signs_spark.operators.signs import signs_pipeline_observed
from etl_cotrip_signs_spark.sinks.files import write_jsonl, write_parquet
from etl_cotrip_signs_spark.sources.readers import read_csv, read_jsonl

from .conftest import SF_SMALL


def test_partitioned_parquet_roundtrip_prunes(spark, tmp_path):
    out = str(tmp_path / "orders_part")
    orders = load_table(spark, SF_SMALL, "orders")
    write_parquet(orders, out, partition_by=["o_orderpriority"])
    # partition dirs exist
    dirs = {d for d in os.listdir(out) if d.startswith("o_orderpriority=")}
    assert len(dirs) >= 2
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # a filter on the partition column must prune to one directory
    one = back.filter(F.col("o_orderpriority") == back.select("o_orderpriority").first()[0])
    from etl_cotrip_signs_spark.plans.explain import formatted_plan
    assert "PartitionFilters: [" in formatted_plan(one)


def test_csv_roundtrip_with_schema(spark, tmp_path):
    out = str(tmp_path / "nation_csv")
    nation = load_table(spark, SF_SMALL, "nation")
    nation.write.mode("overwrite").option("header", "true").csv(out)
    back = read_csv(
        spark, out, schema="n_nationkey int, n_name string, n_regionkey int"
    )
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in nation.collect()
    )


def test_jsonl_roundtrip_and_corrupt_record(spark, tmp_path):
    out = str(tmp_path / "region_json")
    region = load_table(spark, SF_SMALL, "region")
    write_jsonl(region, out)
    back = read_jsonl(spark, out, "r_regionkey int, r_name string")
    assert back.count() == region.count()
    # corrupt line lands in _corrupt_record, scan does not fail
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "x.json"), "w") as fh:
        fh.write('{"r_regionkey": 1, "r_name": "ok"}\n{not json\n')
    parsed = read_jsonl(
        spark, bad, "r_regionkey int, r_name string, _corrupt_record string"
    ).cache()
    assert parsed.count() == 2
    assert parsed.filter(F.col("_corrupt_record").isNotNull()).count() == 1


def test_observed_pipeline_reports_counts(spark):
    from etl_cotrip_signs_spark.sources.rest import file_fetcher, read_signs
    from .test_sources_sinks import PAGES_DIR

    df = read_signs(spark, file_fetcher(PAGES_DIR))
    out = signs_pipeline_observed(df, ["Point", "LineString", "Polygon"])
    # observe() metrics ride with the job; the result must be unchanged
    assert len(out.collect()) == 12


def test_zorder_layout_clusters_box_queries(spark):
    """The z-ordered layout must concentrate a 30%x30% two-dimensional box
    into at most half the files the round-robin layout touches (identical
    matched-row counts — layout changes placement, never content)."""
    from etl_cotrip_signs_spark import registry

    registry.load_all()
    rows = {
        r["layout"]: r
        for r in registry.QUERIES["layout_zorder_locality"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    rnd, zo = rows["random"], rows["zorder"]
    assert rnd["n_rows_matched"] == zo["n_rows_matched"] > 0
    assert zo["n_files_touched"] * 2 <= rnd["n_files_touched"], (dict(rnd.asDict()), dict(zo.asDict()))


def test_layout_compaction_preserves_rows_and_cuts_files(spark):
    from etl_cotrip_signs_spark import registry

    registry.load_all()
    row = registry.QUERIES["layout_compaction"](spark, SF_SMALL).first()
    assert row["rows_after"] == row["rows_before"]
    assert row["files_after"] < row["files_before"]
    assert row["files_before"] == 64
    # compaction must not inflate storage (merging parquet files only
    # removes per-file overhead); byte numbers left the query output when
    # the DuckDB oracle took over file/row auditing (it cannot stat on-disk
    # sizes), so pin them here from the staged directories directly
    from etl_cotrip_signs_spark.operators.io_queries import (
        _parquet_files,
        _scratch,
    )

    base = _scratch(SF_SMALL, "compaction")
    bytes_before = sum(b for _, b in _parquet_files(f"{base}/small"))
    bytes_after = sum(b for _, b in _parquet_files(f"{base}/compacted"))
    assert 0 < bytes_after <= bytes_before


def test_compaction_coalesce_is_shuffle_free(spark):
    """The compaction rewrite must be a narrow Coalesce, never an
    Exchange — a shuffle would move every byte of the zone twice."""
    from etl_cotrip_signs_spark.plans.explain import formatted_plan

    df = spark.range(1000, numPartitions=16).coalesce(2)
    plan = formatted_plan(df)
    assert "Coalesce" in plan, plan
    assert "Exchange" not in plan, plan
