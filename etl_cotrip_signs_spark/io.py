"""Table loading and view registration.

The engine's catalog mirrors the driver's DuckDB view names
(``__spark_entry__.py``): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under an
``sf`` directory (TESTDATA.md).

Scale note: these are plain ``spark.read.parquet`` scans, so at cluster
scale each table is split by ``spark.sql.files.maxPartitionBytes`` and gets
predicate pushdown + column pruning from Catalyst for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; normalizes the `events.ts` column to NTZ micros.

    The driver has shipped `events.ts` as both parquet TIMESTAMP(NANOS)
    (which Spark reads as raw long nanos under legacy.parquet.nanosAsLong)
    and TIMESTAMP(MICROS) (read natively as a timestamp). Dispatch on the
    read dtype so either vintage of testdata lands on the same
    TIMESTAMP_NTZ micros column DuckDB sees.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type in ("long", "integer"):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def describe_table(spark: SparkSession, sf_dir: str, name: str):
    """Capabilities introspection (A7 analogue for the engine catalog):
    the StructType a source will produce, from metadata only — no data read
    beyond the parquet footer."""
    return load_table(spark, sf_dir, name).schema


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL entry points)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
