"""Unit tests for the reference-parity signs pipeline (A2/A3/A5 semantics)."""

from __future__ import annotations

import json

import pytest

from etl_cotrip_signs_spark.config import ConfigError, SignsConfig
from etl_cotrip_signs_spark.operators.signs import (
    explode_multi,
    filter_geometry,
    project_features,
    signs_pipeline,
)
from etl_cotrip_signs_spark.sources.geojson import features_to_df


def features_df(spark, rows):
    return spark.createDataFrame(
        rows, "id string, geom_type string, coordinates string, properties map<string,string>"
    )


def test_explode_multipolygon_positional_suffix(spark):
    df = features_df(
        spark,
        [("m1", "MultiPoint", "[[1.5,2.5],[3.5,4.5],[5.5,6.5]]", {"id": "m1"})],
    )
    out = {r["id"]: r for r in explode_multi(df).collect()}
    assert set(out) == {"m1-0", "m1-1", "m1-2"}
    assert out["m1-0"]["coordinates"] == "[1.5,2.5]"
    assert out["m1-2"]["coordinates"] == "[5.5,6.5]"
    assert all(r["geom_type"] == "Point" for r in out.values())


def test_multi_member_text_matches_single_geometry(spark):
    # One JSON writer for all geometry text: a Multi member is printed by the
    # same serializer as a single geometry read through features_to_df.
    df = features_to_df(
        spark,
        [
            {"properties": {"id": "p"}, "geometry": {"type": "Point", "coordinates": [1e-05, 39.7]}},
            {"properties": {"id": "m"}, "geometry": {"type": "MultiPoint", "coordinates": [[1e-05, 39.7]]}},
        ],
    )
    out = {r["id"]: r["coordinates"] for r in signs_pipeline(df, ["Point"]).collect()}
    assert set(out) == {"p", "m-0"}
    assert out["m-0"] == out["p"]
    assert json.loads(out["p"]) == [1e-05, 39.7]


@pytest.mark.parametrize("coords", ['{"a":1}', "[[1.0,2.0],", "not json", "null"])
def test_explode_multi_rejects_non_array_coordinates(spark, coords):
    # A Multi whose coordinates are not a JSON array fails the job instead of
    # emitting bogus members or silently dropping the row.
    df = features_df(spark, [("bad", "MultiPoint", coords, None)])
    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
        explode_multi(df).collect()


def test_signs_pipeline_runs_without_python_workers(spark):
    df = features_df(
        spark,
        [
            ("p1", "Point", "[1.0,2.0]", None),
            ("m1", "MultiPoint", "[[1.0,2.0],[3.0,4.0]]", None),
        ],
    )
    plan = signs_pipeline(df, ["Point"])._jdf.queryExecution().executedPlan().toString()
    assert "Generate posexplode" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_explode_empty_multi_drops_row(spark):
    df = features_df(spark, [("e1", "MultiLineString", "[]", None)])
    assert explode_multi(df).count() == 0


def test_explode_passthrough_non_multi(spark):
    df = features_df(spark, [("p1", "Point", "[1.5,2.5]", None)])
    rows = explode_multi(df).collect()
    assert len(rows) == 1
    assert rows[0]["id"] == "p1"
    assert rows[0]["geom_type"] == "Point"
    assert rows[0]["coordinates"] == "[1.5,2.5]"


def test_multi_strip_only_prefix(spark):
    # 'Multi' must be stripped only as a prefix (task.ts:88 replace semantics)
    df = features_df(
        spark, [("x", "MultiLineString", "[[[1.0,2.0],[3.0,4.0]]]", None)]
    )
    rows = explode_multi(df).collect()
    assert rows[0]["geom_type"] == "LineString"


def test_project_drops_properties_pulls_id(spark):
    df = features_df(
        spark, [(None, "Point", "[1.0,2.0]", {"id": "from-props", "name": "x"})]
    )
    row = project_features(df).collect()[0]
    assert row["id"] == "from-props"
    assert row["properties"] is None


def test_project_prefers_properties_id_over_top_level(spark):
    # Reference parity (task.ts:79): sign.properties.id wins when both exist;
    # top-level id is only the documented fallback when properties.id is absent.
    df = features_df(
        spark,
        [
            ("top-1", "Point", "[1.0,2.0]", {"id": "props-1"}),
            ("top-2", "Point", "[3.0,4.0]", {"name": "no-id-prop"}),
        ],
    )
    ids = sorted(r["id"] for r in project_features(df).collect())
    assert ids == ["props-1", "top-2"]


@pytest.mark.parametrize(
    "point,linestring,polygon",
    [(True, True, True), (True, False, False), (False, True, False), (False, False, False)],
)
def test_allowlist_filter_combinations(spark, point, linestring, polygon):
    cfg = SignsConfig(cotrip_token="t", point=point, linestring=linestring, polygon=polygon)
    df = features_df(
        spark,
        [
            ("a", "Point", "[1.0,2.0]", {"id": "a"}),
            ("b", "LineString", "[[1.0,2.0],[3.0,4.0]]", {"id": "b"}),
            ("c", "Polygon", "[[[1.0,2.0],[3.0,4.0],[1.0,2.0]]]", {"id": "c"}),
        ],
    )
    out = signs_pipeline(df, cfg.allowed_types())
    got = {r["geom_type"] for r in out.collect()}
    expected = set(cfg.allowed_types())
    assert got == expected


def test_filter_geometry_membership(spark):
    df = features_df(
        spark,
        [("a", "Point", "[1.0,2.0]", None), ("b", "Polygon", "[[[1.0,2.0]]]", None)],
    )
    rows = filter_geometry(df, ["Point"]).collect()
    assert [r["id"] for r in rows] == ["a"]


def test_config_requires_token():
    with pytest.raises(ConfigError):
        SignsConfig(cotrip_token="")


def test_config_defaults():
    cfg = SignsConfig(cotrip_token="t")
    assert cfg.allowed_types() == ["Point", "LineString", "Polygon"]
    assert cfg.debug is False
