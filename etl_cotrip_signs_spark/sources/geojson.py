"""GeoJSON feature reading + the signs capabilities schema (A7).

GeoJSON features arrive as dicts (from the REST source) or JSON lines on
disk. Both paths normalize into the engine's canonical feature schema
(``operators.signs``): ragged ``geometry.coordinates`` is kept as a compact
JSON string, which Spark's JSON parser produces natively when the field is
declared StringType.

The dict path ships the list to the JVM as an Arrow table of JSON-array
chunks (``FEATURES_PER_CHUNK`` features per row), so no Python worker relays
it, and parses each chunk with ``explode(from_json(...))`` on executors. The
parse sits inside a ``Generate``, which ``ConvertToLocalRelation`` does not
fold onto the driver the way it folds a ``Project`` over a local table.
"""

from __future__ import annotations

import json
from typing import Any

import pyarrow as pa
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

# Most features serialized into one JSON-array row by `features_to_df`. Each
# row is one Arrow array and one unit of executor-side parse work.
FEATURES_PER_CHUNK = 1_000

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
    fetchers ``json.load`` each page) and serializes each chunk of
    ``FEATURES_PER_CHUNK`` back to one JSON array. Each chunk becomes its own
    one-row Arrow array (a single array over all the texts grows its buffer
    by doubling, which raised the driver's peak memory by ~10%), and
    ``createDataFrame`` hands the Arrow table to the JVM without a Python
    worker. Executors parse and explode each chunk in one ``Generate``;
    ``from_json`` also writes the compact coordinates text. Rows keep the
    list's order. A ``None`` feature, or any non-dict, gives an all-NULL row,
    so one bad entry cannot void the rest of its chunk. A NaN or ±inf number
    raises ``ValueError``: GeoJSON numbers are finite, and ``from_json``
    would turn it into the string ``"NaN"``.

    The local table spreads its rows over up to ``defaultParallelism``
    partitions, which carry through ``signs_pipeline`` to the sink's
    ``foreachPartition``. A list too short to fill ``defaultParallelism``
    chunks of ``FEATURES_PER_CHUNK`` is cut into
    ``ceil(n / defaultParallelism)``-sized chunks instead, so a small feed
    still spreads its parse and POSTs over the cores.
    """
    parallelism = spark.sparkContext.defaultParallelism
    n = min(FEATURES_PER_CHUNK, max(1, -(-len(features) // parallelism)))
    arrays = []
    for i in range(0, len(features), n):
        chunk = [f if isinstance(f, dict) else None for f in features[i : i + n]]
        # Only one chunk's text is alive at a time (driver peak memory).
        arrays.append(
            pa.array([json.dumps(chunk, separators=(",", ":"), allow_nan=False)], pa.string())
        )
    raw = spark.createDataFrame(pa.table({"value": pa.chunked_array(arrays, pa.string())}))
    return raw.select(
        F.explode(F.from_json("value", T.ArrayType(RAW_FEATURE_SCHEMA))).alias("f")
    ).select(
        F.col("f.id").alias("id"),
        F.col("f.geometry.type").alias("geom_type"),
        F.col("f.geometry.coordinates").alias("coordinates"),
        F.col("f.properties").alias("properties"),
    )


def read_geojson_lines(spark: SparkSession, path: str) -> DataFrame:
    """Read newline-delimited GeoJSON features from disk (distributed scan)."""
    raw = spark.read.schema(RAW_FEATURE_SCHEMA).json(path)
    return raw.select(
        F.col("id"),
        F.col("geometry.type").alias("geom_type"),
        F.col("geometry.coordinates").alias("coordinates"),
        F.col("properties"),
    )
