"""Geometry encoding conversions for the canonical (geom_type, coordinates)
representation.

The engine stores GeoJSON geometry as ``(geom_type string, coordinates
string)`` — compact JSON, ragged-depth safe (operators/signs.py). WKT is
the interchange encoding most geo tooling expects, so the engine provides
a vectorized converter. JSON→WKT is structural re-formatting of the ragged
arrays, which builtin expressions can't traverse — a Pandas UDF is the
honest tool.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, functions as F, types as T


def _ring(points: list) -> str:
    return "(" + ", ".join(f"{p[0]} {p[1]}" for p in points) + ")"


def _to_wkt(geom_type: str | None, coords_json: str | None) -> str | None:
    if geom_type is None or coords_json is None:
        return None
    c = json.loads(coords_json)
    if geom_type == "Point":
        return f"POINT ({c[0]} {c[1]})"
    if geom_type == "LineString":
        return "LINESTRING " + _ring(c)
    if geom_type == "Polygon":
        return "POLYGON (" + ", ".join(_ring(r) for r in c) + ")"
    if geom_type == "MultiPoint":
        return "MULTIPOINT " + _ring(c)
    if geom_type == "MultiLineString":
        return "MULTILINESTRING (" + ", ".join(_ring(l) for l in c) + ")"
    if geom_type == "MultiPolygon":
        return (
            "MULTIPOLYGON ("
            + ", ".join("(" + ", ".join(_ring(r) for r in poly) + ")" for poly in c)
            + ")"
        )
    raise ValueError(f"unsupported geometry type: {geom_type}")


@F.pandas_udf(T.StringType())
def geojson_to_wkt(geom_type: pd.Series, coords_json: pd.Series) -> pd.Series:
    """Vectorized (geom_type, coordinates-JSON) → WKT string."""
    return pd.Series(
        [_to_wkt(g, c) for g, c in zip(geom_type, coords_json)], dtype="object"
    )


def with_wkt(df, out_col: str = "wkt") -> "pd.DataFrame":
    """Attach a WKT column to a canonical features DataFrame."""
    return df.withColumn(
        out_col, geojson_to_wkt(F.col("geom_type"), F.col("coordinates"))
    )


def bounding_box(coords_json: Column) -> Column:
    """(min_x, min_y, max_x, max_y) of any geometry — builtin-only.

    Works on the ragged JSON by extracting every numeric token positionally:
    even positions are x, odd are y (GeoJSON is always [x, y] pairs at the
    leaves). Stays in codegen; no Python.
    """
    # Exponent part is required: json.dumps(1e-05) emits scientific notation,
    # which a mantissa-only pattern would split into two bogus tokens and
    # silently corrupt the even/odd x/y pairing.
    nums = F.transform(
        F.regexp_extract_all(
            coords_json,
            F.lit(r"-?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?"),
            F.lit(0),
        ),
        lambda t: t.cast("double"),
    )
    xs = F.filter(nums, lambda v, i: i % 2 == 0)
    ys = F.filter(nums, lambda v, i: i % 2 == 1)
    return F.struct(
        F.array_min(xs).alias("min_x"),
        F.array_min(ys).alias("min_y"),
        F.array_max(xs).alias("max_x"),
        F.array_max(ys).alias("max_y"),
    )
