"""File-format readers: parquet / CSV / JSON-lines, schema-explicit.

Thin by design — `spark.read` already is the scalable scan (split by
maxPartitionBytes, pushdown, pruning); these wrappers pin the engine's
conventions: explicit schemas in production paths (no inference pass over
100 TB), permissive-with-corrupt-record JSON, and header'd CSV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV scan. Schema should be passed in production (inference = an
    extra full read); inference is allowed for exploration."""
    reader = spark.read.option("header", str(header).lower()).option("sep", delimiter)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
) -> DataFrame:
    """Newline-delimited JSON with an explicit schema; malformed rows land
    in `_corrupt_record` instead of failing the scan."""
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
