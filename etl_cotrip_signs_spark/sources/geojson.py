"""GeoJSON feature reading + the signs capabilities schema (A7).

GeoJSON features arrive as dicts (from the REST source) or JSON lines on
disk. Both paths normalize into the engine's canonical feature schema
(``operators.signs``): ragged ``geometry.coordinates`` is kept as a compact
JSON string, which Spark's JSON parser produces natively when the field is
declared StringType.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

# Canonical engine-side feature schema.
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("geom_type", T.StringType()),
        T.StructField("coordinates", T.StringType()),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
    ]
)

# Raw GeoJSON feature schema as read from the wire. `coordinates` is declared
# StringType on purpose: Spark's Jackson parser serializes any non-string
# JSON value into its compact JSON text for StringType fields, which is
# exactly our canonical ragged-geometry encoding.
RAW_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField(
            "geometry",
            T.StructType(
                [
                    T.StructField("type", T.StringType()),
                    T.StructField("coordinates", T.StringType()),
                ]
            ),
        ),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
    ]
)

# A7 (task.ts:18-48): queryable capabilities schema. The reference declares
# 16 incoming per-feature properties, all String or Number (task.ts:26-43);
# the outgoing schema is empty (task.ts:45-47).
_NUMBER_PROPS = ("marker", "speed")
_STRING_PROPS = (
    "communicationStatus",
    "messageText",
    "direction",
    "lastUpdated",
    "messagePreview",
    "displayStatus",
    "name",
    "id",
    "routeName",
    "messageMarkup",
    "publicName",
    "submittedBy",
    "nativeId",
    "activationTime",
)


def capabilities_schema(flow: str = "incoming") -> T.StructType:
    """Return the declared properties schema for a data flow (A7)."""
    if flow == "outgoing":
        return T.StructType([])
    fields = [T.StructField(p, T.StringType()) for p in _STRING_PROPS]
    fields += [T.StructField(p, T.DoubleType()) for p in _NUMBER_PROPS]
    return T.StructType(sorted(fields, key=lambda f: f.name))


def features_to_df(spark: SparkSession, features: list[dict[str, Any]]) -> DataFrame:
    """Normalize a driver-side list of GeoJSON feature dicts into a DataFrame.

    Used at the REST-source boundary (the one place data legitimately exists
    on the driver, exactly like the reference's in-memory page list,
    task.ts:57-73). The driver holds every feature as a parsed dict (the
    fetchers ``json.load`` each page) and serializes each one back to a
    JSON line here; executors parse the lines with ``from_json``, which
    also writes the compact coordinates text.
    """
    lines = [json.dumps(f, separators=(",", ":")) for f in features]
    raw = spark.createDataFrame([(line,) for line in lines], "value string")
    parsed = raw.select(
        F.from_json("value", RAW_FEATURE_SCHEMA).alias("f")
    ).select(
        F.col("f.id").alias("id"),
        F.col("f.geometry.type").alias("geom_type"),
        F.col("f.geometry.coordinates").alias("coordinates"),
        F.col("f.properties").alias("properties"),
    )
    return parsed


def read_geojson_lines(spark: SparkSession, path: str) -> DataFrame:
    """Read newline-delimited GeoJSON features from disk (distributed scan)."""
    raw = spark.read.schema(RAW_FEATURE_SCHEMA).json(path)
    return raw.select(
        F.col("id"),
        F.col("geometry.type").alias("geom_type"),
        F.col("geometry.coordinates").alias("coordinates"),
        F.col("properties"),
    )
