"""Driver-checkable IO roundtrip queries: CSV scan + partitioned parquet
sink [EXT beyond task.ts — engine surface].

These make the format readers/writers (sources/readers.py, sinks/files.py)
visible to the driver's correctness protocol: each query writes a derived
copy of a fixture table to /tmp in the target format, reads it back through
the engine reader, and aggregates — the oracle runs the same aggregate over
the original parquet, so any read/write fidelity loss (types, nulls,
partition values) breaks the hash match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import load_table
from ..registry import query
from ..sinks.files import write_parquet
from ..sources.readers import read_csv, read_jsonl
from ..session import scratch_dir


def _scratch(sf_dir: str, tag: str) -> str:
    """Deterministic per-sf scratch path (see session.scratch_dir)."""
    return scratch_dir(tag, sf_dir)


@query(
    "csv_scan_roundtrip",
    oracle="""
    SELECT n_regionkey, count(*) AS n_nations,
           min(n_name) AS first_nation, max(n_nationkey) AS max_key
    FROM nation
    GROUP BY n_regionkey
    """,
)
def csv_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan fidelity: nation → CSV (header'd) → explicit-schema read →
    aggregate. The oracle aggregates the original parquet, so a delimiter,
    quoting, or type mismatch in the CSV path flips the hash."""
    path = _scratch(sf_dir, "nation_csv")
    src = load_table(spark, sf_dir, "nation")
    src.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
    back = read_csv(
        spark,
        path,
        schema="n_nationkey bigint, n_name string, n_regionkey bigint, n_comment string",
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_nation"),
        F.max("n_nationkey").alias("max_key"),
    )


@query(
    "bucketed_join_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_items,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join: lineitem and orders written
    bucketBy(8, orderkey) + sortBy, then joined WITHOUT an exchange on
    either side (the no-shuffle property is pinned in tests/test_bucketing.py;
    this query proves result fidelity through the bucketed write/read).

    At 100 TB this is the answer to the dominant shuffle: bucket both fact
    tables on the join key at ingest and every subsequent orderkey join is
    local. The oracle runs the same join over the plain parquet.
    """
    base = _scratch(sf_dir, "bucketed")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    for name, df, key in (
        ("sg_li_bucketed", li, "l_orderkey"),
        ("sg_o_bucketed", o, "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{base}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    joined = spark.table("sg_li_bucketed").join(
        spark.table("sg_o_bucketed"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2
        ).alias("sum_qty"),
    )


@query(
    "partitioned_sink_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_price
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
)
def partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + partition-pruned read-back: orders written
    partitionBy(o_orderpriority), then read with a partition filter — the
    scan touches only the two matching directories (pruning pinned in
    tests/test_io_formats.py). Exact DECIMAL sum guards value fidelity
    through the write/read cycle."""
    path = _scratch(sf_dir, "orders_part")
    src = load_table(spark, sf_dir, "orders")
    write_parquet(src, path, partition_by=["o_orderpriority"])
    back = spark.read.parquet(path).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("sum_price"),
    )


@query(
    "orc_scan_roundtrip",
    oracle="""
    SELECT s_nationkey, count(*) AS n_suppliers,
           round(CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_acctbal,
           min(s_name) AS first_supplier
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def orc_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write/read fidelity: supplier → ORC → read-back → aggregate.
    ORC is Spark's other built-in columnar format (predicate pushdown and
    column pruning work the same as parquet); the oracle aggregates the
    original parquet, so any type or value drift through the ORC cycle
    breaks the hash. Exact DECIMAL sum guards the money column."""
    path = _scratch(sf_dir, "supplier_orc")
    src = load_table(spark, sf_dir, "supplier")
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double"), 2
        ).alias("sum_acctbal"),
        F.min("s_name").alias("first_supplier"),
    )


@query(
    "jsonl_scan_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey,
           length(n_name) AS name_len
    FROM nation
    """,
)
def jsonl_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write/read fidelity: nation → JSONL → explicit-schema
    permissive read (sources/readers.py::read_jsonl) → projection. The
    oracle projects the original parquet; a serialization or schema-drift
    bug in the JSONL path flips the hash."""
    path = _scratch(sf_dir, "nation_jsonl")
    src = load_table(spark, sf_dir, "nation")
    src.coalesce(1).write.mode("overwrite").json(path)
    back = read_jsonl(
        spark,
        path,
        "n_nationkey bigint, n_name string, n_regionkey bigint",
    )
    return back.select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.length("n_name").cast("long").alias("name_len"),
    )


@query(
    "sort_within_partitions_check",
    oracle="""
    WITH bucketed AS (
        SELECT o_orderkey,
               CAST(floor(o_custkey / 100) AS BIGINT) AS bucket
        FROM orders
    )
    SELECT bucket,
           count(*)                          AS n_rows,
           CAST(min(o_orderkey) AS BIGINT)   AS min_key,
           CAST(max(o_orderkey) AS BIGINT)   AS max_key,
           CAST(1 AS BIGINT)                 AS all_sorted
    FROM bucketed GROUP BY bucket
    """,
)
def sort_within_partitions_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-local sort made driver-visible: repartition orders by a
    bucket key, `sortWithinPartitions(o_orderkey)`, then VERIFY the
    physical order with a mapInPandas monotonicity probe (Arrow batches
    arrive in partition order, so `is_monotonic_increasing` per partition
    chunk observes the real layout — SQL cannot see it). Emits per-bucket
    (count, min, max, all_sorted); the oracle reproduces everything but
    sortedness arithmetically and pins all_sorted = 1, so an engine that
    stopped sorting flips the hash.

    This is the write-side layout discipline for sorted runs: at 100 TB,
    `repartition(k).sortWithinPartitions(key)` before a parquet write
    yields min/max-clustered row groups (data-skipping on read) without
    the global Exchange an `orderBy` would cost."""
    import pandas as pd

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_custkey") / 100).cast("long").alias("bucket"),
    )
    arranged = o.repartition(8, "bucket").sortWithinPartitions(
        "bucket", "o_orderkey"
    )

    def probe(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            # partition chunks arrive in order; per (chunk, bucket) the key
            # column must already be non-decreasing
            rows = [
                (b, len(s), s.min(), s.max(), int(s.is_monotonic_increasing))
                for b, s in pdf.groupby("bucket", sort=False)["o_orderkey"]
            ]
            yield pd.DataFrame(
                rows,
                columns=["bucket", "n_rows", "min_key", "max_key", "all_sorted"],
            )

    per_part = arranged.mapInPandas(
        probe,
        "bucket long, n_rows long, min_key long, max_key long, all_sorted long",
    )
    # merge per-chunk stats (a partition may span several Arrow batches;
    # min() over all_sorted ANDs the flags; cross-chunk boundary order is
    # guaranteed by the within-partition sort on (bucket, key))
    return per_part.groupBy("bucket").agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("min_key").alias("min_key"),
        F.max("max_key").alias("max_key"),
        F.min("all_sorted").alias("all_sorted"),
    )


@query(
    "schema_evolution_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(NULL AS BIGINT) AS n_regionkey, 'v1' AS file_version
    FROM nation WHERE n_nationkey < 10
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT), n_name,
           CAST(n_regionkey AS BIGINT), 'v2'
    FROM nation WHERE n_nationkey >= 10
    """,
)
def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet file generations — v1 lacks
    the n_regionkey column, v2 carries it — land in one directory; a
    `mergeSchema` read reconciles them (missing columns null-filled).
    The oracle reconstructs the union arithmetically, so a regression in
    merge semantics (column dropped, wrong null side) flips the hash.

    At scale this is the ingest reality: years of files with drifting
    schemas read as one table; mergeSchema reconciles footers at planning
    time (cost scales with file count, not data — for stable prod schemas,
    pin an explicit read schema instead)."""
    path = _scratch(sf_dir, "nation_evolution")
    n = load_table(spark, sf_dir, "nation")
    v1 = n.filter(F.col("n_nationkey") < 10).select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.lit("v1").alias("file_version"),
    )
    v2 = n.filter(F.col("n_nationkey") >= 10).select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
        F.lit("v2").alias("file_version"),
    )
    v1.coalesce(1).write.mode("overwrite").parquet(f"{path}/gen=1")
    v2.coalesce(1).write.mode("overwrite").parquet(f"{path}/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen=1", f"{path}/gen=2"
    )
    return back.select("n_nationkey", "n_name", "n_regionkey", "file_version")


_Z_BITS = 16
_Z_FILES = 16


def _zvalue(a_rank: F.Column, b_rank: F.Column) -> F.Column:
    """Interleave two _Z_BITS-bit ranks into a Morton (z-curve) value —
    pure bit arithmetic, one codegen expression."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftrightunsigned(a_rank, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftrightunsigned(b_rank, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


@query(
    "layout_zorder_locality",
    # r6 graduation from rows-only (the layout_compaction discipline):
    # files-touched for a box predicate is a pure function of the WRITTEN
    # layout, so DuckDB audits the SAME staged parquet directories the
    # query wrote — read_parquet(filename=true), apply the identical box,
    # count distinct files + rows. The box bounds are re-derived in SQL
    # from the orders table with the same trunc(0.35*width) arithmetic
    # (both engines compute them in IEEE double, so the literals agree).
    # The oracle never re-derives the z-order itself — whatever Spark's
    # round-robin/range exchanges produced, both engines read one truth.
    oracle=f"""
    WITH mm AS (
        SELECT min(o_custkey) AS ck_lo, max(o_custkey) AS ck_hi,
               min(CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01'
                   AS BIGINT)) AS od_lo,
               max(CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01'
                   AS BIGINT)) AS od_hi
        FROM orders
    ),
    box AS (
        SELECT ck_lo + CAST(trunc(0.35 * (ck_hi - ck_lo)) AS BIGINT) AS ck_a,
               ck_lo + CAST(trunc(0.65 * (ck_hi - ck_lo)) AS BIGINT) AS ck_b,
               od_lo + CAST(trunc(0.35 * (od_hi - od_lo)) AS BIGINT) AS od_a,
               od_lo + CAST(trunc(0.65 * (od_hi - od_lo)) AS BIGINT) AS od_b
        FROM mm
    ),
    pr AS (
        SELECT CAST(count(DISTINCT filename) AS INT) AS nf,
               CAST(count(*) AS INT) AS nr
        FROM read_parquet('{{SCRATCH:zorder}}/random/*.parquet',
                          filename=true), box
        WHERE o_custkey BETWEEN ck_a AND ck_b
          AND CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT)
              BETWEEN od_a AND od_b
    ),
    pz AS (
        SELECT CAST(count(DISTINCT filename) AS INT) AS nf,
               CAST(count(*) AS INT) AS nr
        FROM read_parquet('{{SCRATCH:zorder}}/zorder/*.parquet',
                          filename=true), box
        WHERE o_custkey BETWEEN ck_a AND ck_b
          AND CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT)
              BETWEEN od_a AND od_b
    )
    SELECT 'random' AS layout, {_Z_FILES} AS n_files_total,
           nf AS n_files_touched, nr AS n_rows_matched FROM pr
    UNION ALL
    SELECT 'zorder' AS layout, {_Z_FILES} AS n_files_total,
           nf AS n_files_touched, nr AS n_rows_matched FROM pz
    """,
)
def layout_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional data layout: write `orders` twice — round-robin
    (the default layout) and range-partitioned on a Morton z-value over
    (o_custkey, o_orderdate) — then measure how many FILES a 30%x30% box
    predicate on both dimensions touches in each layout.

    Why this is a 100 TB operator: engines skip data via per-file /
    per-row-group min-max stats, and stats only prune when rows that
    satisfy a predicate are physically CLUSTERED. A linear sort clusters
    one dimension and destroys the other; the z-curve interleaves rank
    bits so that proximity in EITHER dimension keeps bytes nearby, which
    is what makes box predicates touch O(box-fraction) of files instead
    of all of them. The files-touched count emitted here is exactly the
    quantity min-max pruning scales with (Spark's parquet reader applies
    the same skipping per row group).

    Spark shape: global min/max of both columns (one tiny agg, driver
    literals), rank-normalize to _Z_BITS bits, `repartitionByRange` on
    the z-value (range exchange = contiguous z-intervals per file),
    write; the probe reads back, applies the box filter, and counts
    distinct input files. Output: one row per layout."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    ).withColumn("od_day", F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")))
    mm = o.agg(
        F.min("o_custkey").alias("ck_lo"), F.max("o_custkey").alias("ck_hi"),
        F.min("od_day").alias("od_lo"), F.max("od_day").alias("od_hi"),
    ).first()
    span = (1 << _Z_BITS) - 1

    def rank(col, lo, hi):
        return ((col - F.lit(lo)) * span / F.lit(max(hi - lo, 1))).cast("long")

    z = _zvalue(
        rank(F.col("o_custkey"), mm["ck_lo"], mm["ck_hi"]),
        rank(F.col("od_day"), mm["od_lo"], mm["od_hi"]),
    )
    base = _scratch(sf_dir, "zorder")
    o.repartition(_Z_FILES).write.mode("overwrite").parquet(f"{base}/random")
    (
        o.withColumn("z", z)
        .repartitionByRange(_Z_FILES, "z")
        .drop("z")
        .write.mode("overwrite")
        .parquet(f"{base}/zorder")
    )
    # 30% x 30% box in the middle of both dimensions
    ck_w = mm["ck_hi"] - mm["ck_lo"]
    od_w = mm["od_hi"] - mm["od_lo"]
    box = (
        F.col("o_custkey").between(
            mm["ck_lo"] + int(0.35 * ck_w), mm["ck_lo"] + int(0.65 * ck_w)
        )
        & F.col("od_day").between(
            mm["od_lo"] + int(0.35 * od_w), mm["od_lo"] + int(0.65 * od_w)
        )
    )
    out = []
    for layout in ("random", "zorder"):
        probe = (
            spark.read.parquet(f"{base}/{layout}")
            .withColumn("od_day", F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")))
            .filter(box)
        )
        touched = (
            probe.select(F.input_file_name().alias("f"))  # project first:
            # nondeterministic exprs may not appear inside aggregates
            .agg(
                F.count_distinct("f").alias("nf"),
                F.count(F.lit(1)).alias("nr"),
            )
            .first()
        )
        out.append((layout, _Z_FILES, int(touched["nf"]), int(touched["nr"])))
    return spark.createDataFrame(
        out, "layout string, n_files_total int, n_files_touched int, n_rows_matched int"
    )


def _parquet_files(path: str) -> list[tuple[str, int]]:
    """(name, bytes) for data files in a parquet directory. Driver-side
    metadata listing — at cluster scale this is the same O(#files) catalog
    listing a table-format manifest read performs; no data is read."""
    import os as _os

    return sorted(
        (e.name, e.stat().st_size)
        for e in _os.scandir(path)
        if e.name.endswith(".parquet") and e.is_file()
    )


@query(
    "layout_compaction",
    # r5 graduation from rows-only: DuckDB audits the SAME staged parquet
    # directories the query wrote (deterministic per-(sf, tag) scratch path,
    # rendered via the registry's {SCRATCH:tag} template — see
    # registry.render_oracle). File counts and row preservation are thereby
    # verified by an independent reader of the physical layout; byte-level
    # numbers stay pytest-pinned (DuckDB cannot stat on-disk file sizes).
    # Staleness-safe: the staged content is deterministic per sf_dir, so
    # even an oracle-before-query ordering reads an identical layout.
    oracle="""
    SELECT
      (SELECT CAST(count(DISTINCT filename) AS INT)
       FROM read_parquet('{SCRATCH:compaction}/small/*.parquet',
                         filename=true)) AS files_before,
      (SELECT CAST(count(DISTINCT filename) AS INT)
       FROM read_parquet('{SCRATCH:compaction}/compacted/*.parquet',
                         filename=true)) AS files_after,
      (SELECT count(*)
       FROM read_parquet('{SCRATCH:compaction}/small/*.parquet'))
          AS rows_before,
      (SELECT count(*)
       FROM read_parquet('{SCRATCH:compaction}/compacted/*.parquet'))
          AS rows_after
    """,
)
def layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the nightly job every streaming landing zone
    needs. Stage `documents` as 64 tiny files (what per-micro-batch
    writes produce), then rewrite toward a target file size with
    `coalesce` — a NARROW dependency that merges input splits per output
    task with NO shuffle, which is exactly right for compaction because
    row order/clustering within the zone doesn't matter, only file count.

    Why this is a 100 TB operator: at scale the killer isn't data volume
    but file count — 10M 1 MB files mean 10M scan tasks and an
    O(#files) planning step per query. Compaction bounds #files by
    total_bytes / target_file_bytes. The audit row reports before/after
    file counts + bytes and row preservation; at production scale the
    same job runs per partition (date=...) so compaction parallelism is
    the partition count, and target_file_bytes aligns with
    spark.sql.files.maxPartitionBytes (one task per compacted file).
    """
    import math

    base = _scratch(sf_dir, "compaction")
    docs = load_table(spark, sf_dir, "documents")
    small = f"{base}/small"
    docs.repartition(64).write.mode("overwrite").parquet(small)

    before = _parquet_files(small)
    bytes_before = sum(b for _, b in before)
    target_file_bytes = 1 << 20  # 1 MiB at fixture scale (128-512 MiB in prod)
    n_out = max(1, math.ceil(bytes_before / target_file_bytes))

    compacted = f"{base}/compacted"
    src = spark.read.parquet(small)
    src.coalesce(n_out).write.mode("overwrite").parquet(compacted)

    after = _parquet_files(compacted)
    row = (
        len(before),
        len(after),
        int(src.count()),
        int(spark.read.parquet(compacted).count()),
    )
    return spark.createDataFrame(
        [row],
        "files_before int, files_after int, rows_before long, rows_after long",
    )


# 10-bit × 10-bit Morton interleave as a plain integer expression — the
# exact bit math layout_zorder_locality's writer sorts by; identical
# arithmetic both engines, so the z-curve itself is hash-verified even
# though files-touched remains a physical (rows-only) measurement.
_MORTON_BITS = 10


def _morton_sql(x: str, y: str) -> str:
    terms = [
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(_MORTON_BITS)
    ]
    return " + ".join(terms)


@query(
    "layout_zorder_codes",
    oracle=f"""
    WITH keyed AS (
        SELECT o_custkey % 1024 AS x, o_orderkey % 1024 AS y FROM orders
    ),
    coded AS (SELECT {_morton_sql('x', 'y')} AS morton FROM keyed)
    SELECT CAST(morton >> 14 AS BIGINT) AS cell,
           count(*) AS n_rows,
           CAST(min(morton) AS BIGINT) AS min_code,
           CAST(max(morton) AS BIGINT) AS max_code
    FROM coded GROUP BY CAST(morton >> 14 AS BIGINT)
    """,
)
def layout_zorder_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-curve's bit math, hash-verified: 10+10-bit Morton interleave
    of (custkey, orderkey) keys, rolled up into 64 coarse cells with
    per-cell code ranges. Companion to layout_zorder_locality (which
    measures the physical files-touched effect and is rows-only by
    nature) — this pins that the CODE both engines would sort by is
    bit-identical.

    Scale: the interleave is 20 shift-and-mask terms inside whole-stage
    codegen — zero cost next to the write it would order; the cell rollup
    is one combinable aggregate."""
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 1024).alias("x"),
        (F.col("o_orderkey") % 1024).alias("y"),
    )
    coded = o.select(F.expr(_morton_sql("x", "y")).alias("morton"))
    return coded.groupBy(
        F.shiftright(F.col("morton"), 14).cast("long").alias("cell")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("morton").cast("long").alias("min_code"),
        F.max("morton").cast("long").alias("max_code"),
    )


# 10-level Hilbert curve index (1024x1024 grid) as unrolled integer stages.
# The classic xy2d loop carries (x, y, d) through 10 quadrant steps —
# s = 512 .. 1 — each a pure integer function, so it unrolls into chained
# projections the same way the Morton interleave above is a single
# expression. XOR spells differently per engine (Spark SQL `^` is XOR;
# DuckDB `^` is POWER, its XOR is `xor()`), hence the generator parameter.
_HILBERT_BITS = 10


def _hilbert_stage(s: int, xor_fmt) -> dict[str, str]:
    rx = f"CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END"
    ry = f"CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END"
    d_new = f"d + {s * s} * ({xor_fmt(f'3 * ({rx})', f'({ry})')})"
    # ry=0,rx=1: reflect both coords in the s-quadrant, then swap; ry=1: keep
    x_ref = f"CASE WHEN ({ry}) = 0 AND ({rx}) = 1 THEN {s - 1} - x ELSE x END"
    y_ref = f"CASE WHEN ({ry}) = 0 AND ({rx}) = 1 THEN {s - 1} - y ELSE y END"
    x_new = f"CASE WHEN ({ry}) = 0 THEN {y_ref} ELSE x END"
    y_new = f"CASE WHEN ({ry}) = 0 THEN {x_ref} ELSE y END"
    return {"x": x_new, "y": y_new, "d": d_new}


def hilbert_d_exprs(xor_fmt) -> list[dict[str, str]]:
    """The 10 unrolled xy2d stages, engine-agnostic except for XOR syntax."""
    return [
        _hilbert_stage(1 << lvl, xor_fmt)
        for lvl in range(_HILBERT_BITS - 1, -1, -1)
    ]


def hilbert_xy2d_py(order_bits: int, x: int, y: int) -> int:
    """Pure-python reference for the unrolled SQL (tests/test_hilbert.py)."""
    d = 0
    s = 1 << (order_bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def _hilbert_oracle() -> str:
    stages = []
    prev = "keyed"
    for n, e in enumerate(hilbert_d_exprs(lambda a, b: f"xor({a}, {b})")):
        stages.append(
            f"h{n} AS (SELECT {e['x']} AS x, {e['y']} AS y, {e['d']} AS d "
            f"FROM {prev})"
        )
        prev = f"h{n}"
    joined = ",\n    ".join(stages)
    return f"""
    WITH keyed AS (
        SELECT o_custkey % 1024 AS x, o_orderkey % 1024 AS y,
               CAST(0 AS BIGINT) AS d
        FROM orders
    ),
    {joined}
    SELECT CAST(d >> 14 AS BIGINT) AS cell,
           count(*) AS n_rows,
           CAST(min(d) AS BIGINT) AS min_code,
           CAST(max(d) AS BIGINT) AS max_code
    FROM {prev} GROUP BY CAST(d >> 14 AS BIGINT)
    """


@query("layout_hilbert_codes", oracle=_hilbert_oracle())
def layout_hilbert_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering index over (custkey, orderkey) keys,
    hash-verified cross-engine: the 10-level xy2d walk unrolled into ten
    chained integer projections, rolled up into 64 coarse cells. The
    Hilbert curve is the z-curve's stronger sibling — no long diagonal
    jumps, so range queries touch fewer files — and this pins that both
    engines compute the identical code, bit for bit (python reference +
    adjacency property pinned in tests/test_hilbert.py).

    Scale: ten projection stages of shift/mask/CASE arithmetic, all
    inside whole-stage codegen on the scan — zero cost next to the write
    it would order; one combinable rollup."""
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 1024).alias("x"),
        (F.col("o_orderkey") % 1024).alias("y"),
        F.lit(0).cast("long").alias("d"),
    )
    cur = o
    for e in hilbert_d_exprs(lambda a, b: f"({a}) ^ ({b})"):
        cur = cur.select(
            F.expr(e["x"]).alias("x"),
            F.expr(e["y"]).alias("y"),
            F.expr(e["d"]).alias("d"),
        )
    return cur.groupBy(
        F.shiftright(F.col("d"), 14).cast("long").alias("cell")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("d").cast("long").alias("min_code"),
        F.max("d").cast("long").alias("max_code"),
    )


@query(
    "xml_scan_roundtrip",
    oracle="""
    SELECT n_regionkey, count(*) AS n_nations,
           min(n_name) AS first_nation, max(n_name) AS last_nation,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    GROUP BY n_regionkey
    """,
)
def xml_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan fidelity through Spark 4's NATIVE XML datasource (built in
    since 4.0 — probed working on this runtime): nation -> XML (rowTag
    'nation') -> explicit-schema read -> aggregate. The oracle aggregates
    the original parquet, so tag nesting, escaping, or type-inference
    drift in the XML path flips the hash. Completes the text-format
    family beside CSV (delimiter class) and JSONL (nested class): XML is
    the attribute/element class with its own escaping rules.

    Scale note: XML is a landing-zone INPUT format, never a shuffle or
    sink format — the operator reads it once into columnar form, which is
    exactly the 100 TB pattern (parse at the edge, parquet everywhere
    after)."""
    path = _scratch(sf_dir, "nation_xml")
    src = load_table(spark, sf_dir, "nation")
    (
        src.coalesce(1)
        .write.mode("overwrite")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .format("xml")
        .save(path)
    )
    back = (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .option("rowTag", "nation")
        .format("xml")
        .load(path)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_nation"),
        F.max("n_name").alias("last_nation"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
    )


@query(
    "partition_overwrite_dynamic",
    # The oracle recomputes the EXPECTED final state arithmetically from
    # the source parquet: urgent rows carry the exact-IEEE doubled price
    # (t + t, never 2*t-with-rounding — the r4b derivation rule), every
    # other partition is untouched. Under STATIC overwrite mode the
    # non-urgent partitions would be DELETED by the second write and the
    # count columns would collapse — the mode's semantics are what the
    # hash checks.
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           round(CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                                    THEN o_totalprice + o_totalprice
                                    ELSE o_totalprice END
                               AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill primitive: a
    full partitioned write, then a second INSERT OVERWRITE-shaped write
    that carries ONLY the 1-URGENT partition (prices restated as t + t),
    under spark.sql.sources.partitionOverwriteMode=dynamic. Dynamic mode
    replaces exactly the partitions present in the incoming frame and
    leaves the other four untouched; the default STATIC mode would
    truncate the whole table to one partition. At 100 TB this is how a
    late-arriving day/hour is restated without rewriting (or even
    listing) the other partitions. The conf is set for the second write
    only and restored in a finally (session-hygiene rule)."""
    path = _scratch(sf_dir, "orders_dynover")
    src = load_table(spark, sf_dir, "orders")
    write_parquet(src, path, partition_by=["o_orderpriority"])
    restated = src.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") + F.col("o_totalprice")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            restated.write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("sum_price"),
    )


@query(
    "parquet_codec_roundtrip",
    oracle="""
    SELECT l_returnflag, count(*) AS n_items,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def parquet_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec fidelity: lineitem written as ZSTD parquet
    (spark.sql.parquet.compression.codec is snappy by default — zstd is
    the 100 TB default-of-choice: ~30% smaller at comparable scan speed,
    and splittable like any parquet codec since compression is per-page),
    read back and aggregated against the uncompressed source. Completes
    the format matrix: CSV/JSONL/XML text classes, ORC/parquet columnar,
    and now the codec axis within parquet."""
    path = _scratch(sf_dir, "lineitem_zstd")
    src = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    src.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                "double"
            ),
            2,
        ).alias("sum_price"),
    )


@query(
    "schema_evolution_merge",
    # The oracle reads the SAME two staged parquet generations with
    # union_by_name=true — DuckDB's independent implementation of exactly
    # the schema-merge semantics Spark's mergeSchema option provides, so
    # the NULL-fill contract for the added column is verified by a second
    # engine, not assumed.
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           count(priority_rank) AS n_with_rank,
           CAST(coalesce(sum(priority_rank), 0) AS BIGINT) AS sum_rank,
           CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
    FROM read_parquet(
        ['{SCRATCH:evolve}/v1/*.parquet', '{SCRATCH:evolve}/v2/*.parquet'],
        union_by_name=true)
    GROUP BY o_orderstatus
    """,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: a v1 writer lands (key, status, cents)
    files, a later v2 writer adds a priority_rank column; readers must see
    ONE merged schema with v1 rows NULL-filled — the additive-column
    contract every long-lived lake table depends on. Spark's
    `mergeSchema=true` read reconciles the two file generations' footers;
    the aggregate proves v1 rows survive (n_rows), the new column is
    populated exactly on v2 rows (n_with_rank), and values flow through
    (sum_rank) — alongside a column present in both generations
    (sum_price_cents) to pin that merging never disturbs shared columns.

    Scale notes: schema merge cost is per-FOOTER, not per-row — at 100 TB
    the read path lists footers once during planning (or consults a
    table-format schema registry and skips even that); the data path is
    unchanged columnar scan with NULL vectors materialized lazily for
    absent columns. The split key (even/odd orderkey) makes both
    generations deterministic, so the staged directories are stable
    per sf_dir and the oracle can audit them independently.
    """
    base = _scratch(sf_dir, "evolve")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("priority_rank"),
    )
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "price_cents"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "price_cents", "priority_rank"
    )
    v1.write.mode("overwrite").parquet(f"{base}/v1")
    v2.write.mode("overwrite").parquet(f"{base}/v2")

    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{base}/v1", f"{base}/v2")
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("priority_rank").alias("n_with_rank"),
        F.coalesce(F.sum("priority_rank"), F.lit(0)).cast("long").alias("sum_rank"),
        F.sum("price_cents").cast("long").alias("sum_price_cents"),
    )


@query(
    "binaryfile_scan_roundtrip",
    # Oracle reads the SAME staged blobs via DuckDB's read_blob and
    # recomputes length + md5 — two engines, two binary readers, one
    # byte stream. DuckDB's md5 takes VARCHAR only; the staged bytes are
    # printable ASCII, so BLOB::VARCHAR is the identical byte sequence.
    oracle="""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           CAST(octet_length(content) AS BIGINT) AS n_bytes,
           md5(content::VARCHAR) AS content_md5
    FROM read_blob('{SCRATCH:binblobs}/*.bin')
    """,
)
def binaryfile_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `binaryFile` source — Spark's opaque-blob reader and the
    ingestion half of the multimodal story (multimodal.py consumes
    binary columns; THIS is how they arrive from an object store of
    image/audio files).

    Stages one .bin file per first-32 document (content = utf-8 text
    bytes, so the fixture needs no codecs), reads them back with
    format('binaryFile'), and emits (name, length, md5-of-content) —
    the content column is round-tripped through Spark's binary type and
    hashed, proving byte fidelity, while the DuckDB oracle re-reads the
    same files with read_blob.

    Shape at 100 TB: binaryFile splits per-file (a file is one row —
    the right granularity for media blobs); pair it with
    spark.sql.files.maxPartitionBytes-style bin packing via the
    pathGlobFilter/recursiveFileLookup options; decode happens
    downstream in Arrow-batched mapInPandas (multimodal.py), never in
    the scan.
    """
    import os
    import shutil

    from ..session import scratch_dir

    base = scratch_dir("binblobs", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 32)
        .collect()  # 32 fixture rows staged driver-side, metadata-scale
    )
    for r in docs:
        with open(f"{base}/doc_{r['doc_id']:05d}.bin", "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(base)
    )
    return back.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@query(
    "layout_packing_plan",
    oracle="""
    WITH groups AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY source, lang
    ),
    ordered AS (
        SELECT source, lang, n,
               coalesce(sum(n) OVER (
                   ORDER BY n DESC, source, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_before
        FROM groups
    ),
    planned AS (
        SELECT source, lang, n,
               CAST(cum_before // 120 AS BIGINT) AS bin_id
        FROM ordered
    )
    SELECT bin_id, CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n) AS BIGINT) AS rows_packed,
           CAST(min(n) AS BIGINT) AS min_group,
           CAST(max(n) AS BIGINT) AS max_group
    FROM planned GROUP BY bin_id
    """,
)
def layout_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction bin-packing PLAN: assign (source, lang) document groups
    to target output files of capacity ~120 rows — the planning half of
    layout_compaction (which demonstrated the rewrite; this computes WHICH
    inputs each output should merge).

    True first-fit-decreasing is inherently sequential; the distributable
    relaxation used by every parallel compactor is prefix-sum next-fit
    over the size-DESC order: bin_id = floor(cum_before / capacity). A
    bin can overshoot by at most one group (the standard 2-approximation
    trade), and the assignment is a pure function of the group-size
    table, so both engines derive the identical plan — the window's
    total order is pinned by (n DESC, source, lang).

    At 100 TB the groups table is file-manifest metadata (one row per
    input file or partition), the plan is one window over it, and the
    execution stage reads each bin's files in one task — planning cost is
    O(|manifest|), never data-scale.
    """
    groups = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    from pyspark.sql import Window as W

    w = W.orderBy(F.col("n").desc(), "source", "lang").rowsBetween(
        W.unboundedPreceding, -1
    )
    planned = groups.withColumn(
        "cum_before", F.coalesce(F.sum("n").over(w), F.lit(0))
    ).selectExpr("source", "lang", "n", "cum_before DIV 120 AS bin_id")
    return planned.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n").cast("long").alias("rows_packed"),
        F.min("n").cast("long").alias("min_group"),
        F.max("n").cast("long").alias("max_group"),
    )


@query(
    "layout_encoding_audit",
    # Physical storage-order analytics: both engines walk the SAME staged
    # files in position order (the deletion_vector_read position
    # contract) and count value runs — the quantity RLE/dictionary
    # encoding size actually depends on. The oracle never re-derives the
    # sort; it audits bytes.
    oracle="""
    WITH ranked AS (
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS f,
               file_row_number AS pos, o_orderstatus AS st,
               'sorted' AS layout
        FROM read_parquet('{SCRATCH:encaudit}/sorted/*.parquet',
                          filename=true, file_row_number=true)
        UNION ALL
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS f,
               file_row_number AS pos, o_orderstatus AS st,
               'unsorted' AS layout
        FROM read_parquet('{SCRATCH:encaudit}/unsorted/*.parquet',
                          filename=true, file_row_number=true)
    ),
    runs AS (
        SELECT layout, f, st,
               CASE WHEN lag(st) OVER (PARTITION BY layout, f
                        ORDER BY pos) IS DISTINCT FROM st
                    THEN 1 ELSE 0 END AS is_run_start
        FROM ranked
    )
    SELECT layout, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT f) AS INT) AS n_files,
           CAST(sum(is_run_start) AS BIGINT) AS n_runs_status
    FROM runs GROUP BY layout
    """,
)
def layout_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length layout audit: how many VALUE RUNS does a column have in
    physical storage order, per layout? Stage an orders subset twice —
    as-is and sortWithinPartitions(o_orderstatus) — and count runs of
    o_orderstatus by walking each file in position order
    (`_metadata.row_index`).

    Run count is the quantity RLE and dictionary-RLE hybrid encodings
    (parquet's encoding for low-cardinality columns) actually compress
    by: n_runs ≈ n_rows means the column stores one entry per row;
    n_runs ≈ n_distinct × n_files means near-ideal clustering. The
    sorted layout here collapses ~75k runs to ~3 per file without any
    shuffle (sortWithinPartitions is a narrow, in-task sort — the cheap
    half of the Z-order story, right whenever one column dominates
    filters/encodings).

    Cross-engine value: the run count is computed from positions, so the
    oracle re-walking the same bytes with file_row_number proves both
    the position contract AND the layout claim.
    """
    base = _scratch(sf_dir, "encaudit")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 3 == 0
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    o.repartition(4).write.mode("overwrite").parquet(f"{base}/unsorted")
    (
        o.repartition(4)
        .sortWithinPartitions("o_orderstatus")
        .write.mode("overwrite")
        .parquet(f"{base}/sorted")
    )
    from pyspark.sql import Window as W

    out = None
    for layout in ("sorted", "unsorted"):
        scan = spark.read.parquet(f"{base}/{layout}").select(
            F.regexp_extract(
                F.col("_metadata.file_path"), "([^/]+)$", 1
            ).alias("f"),
            F.col("_metadata.row_index").alias("pos"),
            F.col("o_orderstatus").alias("st"),
        )
        w = W.partitionBy("f").orderBy("pos")
        runs = scan.withColumn(
            "is_run_start",
            F.when(
                ~F.lag("st").over(w).eqNullSafe(F.col("st")), 1
            ).otherwise(0),
        )
        agg = runs.agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count_distinct("f").cast("int").alias("n_files"),
            F.sum("is_run_start").cast("long").alias("n_runs_status"),
        ).select("layout", "n_rows", "n_files", "n_runs_status")
        out = agg if out is None else out.unionAll(agg)
    return out


# --- wave 55 (round 10): zone-map pruning simulation ---

# Per-file min/max zone maps are THE scan reducer at 100 TB: a predicate
# that touches 3 months of a 7-year table should read ~4% of the files —
# IF the layout clusters the filter column. The simulation packs lineitem
# into 64 "files" under two layouts (key-range clustered vs xxhash64
# shuffled), builds the ship-date zone map per file, and prices four
# literal date predicates: files pruned, rows scanned, scan amplification
# vs the exact match count. Everything is exact integer arithmetic, so
# both engines replay the full pruning decision.
_ZM_FILES = 64
_ZM_PREDS = [
    ("q1_1996", 9496, 9586),        # one quarter
    ("y_1997", 9862, 10226),        # one year
    ("jun_1998", 10378, 10407),     # one month
    ("all_time", 0, 30000),         # no pruning possible
]


def _zm_pred_values_sql() -> str:
    return ", ".join(f"('{p}', {lo}, {hi})" for p, lo, hi in _ZM_PREDS)


def _zonemap_oracle() -> str:
    from ..functions.xxh64_sql import XXH64_MACROS, chain_seed

    seed = chain_seed("zm")
    return (
        XXH64_MACROS
        + f"""
    WITH base AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01',
                              CAST(l_shipdate AS DATE)) AS BIGINT) AS day_x,
               l_orderkey
        FROM lineitem
    ),
    kr AS (SELECT min(day_x) AS mnd, max(day_x) AS mxd FROM base),
    assigned AS (
        SELECT day_x,
               CAST(least({_ZM_FILES - 1},
                    (b.day_x - kr.mnd) * {_ZM_FILES}
                    // (kr.mxd - kr.mnd + 1)) AS BIGINT) AS f_clustered,
               CAST(((xxh64_long(b.l_orderkey, {seed}::UBIGINT)
                      % {_ZM_FILES}) + {_ZM_FILES}) % {_ZM_FILES}
                    AS BIGINT) AS f_hashed
        FROM base b CROSS JOIN kr
    ),
    stacked AS (
        SELECT 'clustered' AS layout, f_clustered AS f, day_x FROM assigned
        UNION ALL
        SELECT 'hashed' AS layout, f_hashed AS f, day_x FROM assigned
    ),
    zones AS (
        SELECT layout, f, min(day_x) AS mn, max(day_x) AS mx,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM stacked GROUP BY 1, 2
    ),
    preds AS (SELECT * FROM (VALUES {_zm_pred_values_sql()})
              AS t(pred, lo, hi)),
    pruned AS (
        SELECT p.pred, z.layout,
               CAST(count(*) AS BIGINT) AS files_total,
               CAST(sum(CASE WHEN z.mx < p.lo OR z.mn > p.hi
                             THEN 0 ELSE 1 END) AS BIGINT) AS files_scanned,
               CAST(sum(CASE WHEN z.mx < p.lo OR z.mn > p.hi
                             THEN 0 ELSE z.n_rows END) AS BIGINT)
                   AS rows_scanned
        FROM zones z CROSS JOIN preds p GROUP BY 1, 2
    ),
    matched AS (
        SELECT p.pred, CAST(sum(CASE WHEN b.day_x BETWEEN p.lo AND p.hi
                                     THEN 1 ELSE 0 END) AS BIGINT)
                   AS rows_matched
        FROM base b CROSS JOIN preds p GROUP BY 1
    )
    SELECT pr.layout, pr.pred, pr.files_total, pr.files_scanned,
           pr.rows_scanned, m.rows_matched,
           CAST(1000000 * pr.rows_scanned
                // greatest(m.rows_matched, 1) AS BIGINT) AS amp_ppm
    FROM pruned pr JOIN matched m USING (pred)
    ORDER BY 1, 2
    """
    )


@query("layout_zonemap_pruning", oracle=_zonemap_oracle())
def layout_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (per-file min/max) pruning simulation over two layouts of
    the same table — the decision layer behind every 'files skipped'
    number a lakehouse scan reports. lineitem is packed into 64 files by
    (a) ship-date range clustering (the date-partitioned layout every
    warehouse writes, so ship-date zones are tight) and (b) xxhash64
    shuffling of l_orderkey (zones all span the full calendar — nothing
    prunes); four literal
    date predicates are then priced: files scanned, rows scanned, and
    scan amplification vs the exact match count.

    Exactness: file assignment, zone bounds, pruning decisions, and
    amplification ppm are all exact integer arithmetic (xxhash64 replayed
    by the DuckDB XXH64 macros); every number in the row hash-matches.

    Scale shape: one scan builds both assignments; zone maps are one
    combinable (layout × 64-file) aggregate; pruning joins 128 zone rows
    against 4 predicate literals — metadata × metadata. At 100 TB this
    is exactly the manifest-level arithmetic a query planner does without
    touching data files.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day_x"),
        "l_orderkey",
    )
    kr = li.agg(F.min("day_x").alias("mnd"), F.max("day_x").alias("mxd"))
    assigned = li.crossJoin(F.broadcast(kr)).select(
        "day_x",
        F.least(
            F.lit(_ZM_FILES - 1),
            F.expr(f"(day_x - mnd) * {_ZM_FILES} div (mxd - mnd + 1)"),
        )
        .cast("long")
        .alias("f_clustered"),
        F.pmod(F.xxhash64(F.lit("zm"), F.col("l_orderkey")), F.lit(_ZM_FILES))
        .cast("long")
        .alias("f_hashed"),
    )
    stacked = assigned.selectExpr(
        "stack(2, 'clustered', f_clustered, 'hashed', f_hashed)"
        " AS (layout, f)",
        "day_x",
    )
    zones = stacked.groupBy("layout", "f").agg(
        F.min("day_x").alias("mn"),
        F.max("day_x").alias("mx"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    preds = spark.createDataFrame(
        [(p, lo, hi) for p, lo, hi in _ZM_PREDS], "pred string, lo long, hi long"
    )
    pruned = (
        zones.crossJoin(F.broadcast(preds))
        .groupBy("pred", "layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("files_total"),
            F.sum(
                F.when((F.col("mx") < F.col("lo")) | (F.col("mn") > F.col("hi")), 0)
                .otherwise(1)
            )
            .cast("long")
            .alias("files_scanned"),
            F.sum(
                F.when((F.col("mx") < F.col("lo")) | (F.col("mn") > F.col("hi")), 0)
                .otherwise(F.col("n_rows"))
            )
            .cast("long")
            .alias("rows_scanned"),
        )
    )
    # exact match counts as ONE conditional aggregate over the same scan
    # (no fact-table expansion), unpivoted to (pred, rows_matched)
    matched = li.agg(
        *[
            F.sum(F.col("day_x").between(lo, hi).cast("int"))
            .cast("long")
            .alias(f"m_{p}")
            for p, lo, hi in _ZM_PREDS
        ]
    ).selectExpr(
        "stack("
        + str(len(_ZM_PREDS))
        + ", "
        + ", ".join(f"'{p}', m_{p}" for p, _, _ in _ZM_PREDS)
        + ") AS (pred, rows_matched)"
    )
    return (
        pruned.join(F.broadcast(matched), "pred")
        .selectExpr(
            "layout",
            "pred",
            "files_total",
            "files_scanned",
            "rows_scanned",
            "rows_matched",
            "CAST(1000000 * rows_scanned div greatest(rows_matched, 1)"
            " AS BIGINT) AS amp_ppm",
        )
        .orderBy("layout", "pred")
    )


# --- wave 57 (round 10): bloom-filter file skipping ---

# The equality-predicate companion to layout_zonemap_pruning: zone maps
# skip RANGE predicates on clustered columns; per-file Bloom filters skip
# EQUALITY predicates on high-cardinality columns regardless of layout.
# The trick that keeps this one-pass: a probe key's k bit positions are
# LITERAL CONSTANTS (computed from the reference xxh64 in Python at
# definition time), so "is bit b set in file f's bloom" reduces to one
# conditional MAX per (file, probe, hash) — no 4096-bit vectors are ever
# materialized.
_FB_M = 4096
_FB_K = 3
_FB_PROBES = [1, 7, 13, 986021]  # three present keys + one absent


def _fb_seeds() -> list[int]:
    from ..functions.xxh64_sql import chain_seed

    return [chain_seed(f"fb{i}") for i in range(_FB_K)]


def _fb_probe_bits() -> dict[int, list[int]]:
    """bit positions per probe key, from the reference implementation —
    identical to Spark's pmod(xxhash64(lit('fb<i>'), key), m) and to the
    DuckDB macro replay by construction (tests/test_xxh64_sql.py)."""
    from ..functions.xxh64_ref import xxh64_signed

    seeds = _fb_seeds()
    return {
        pk: [
            xxh64_signed(pk.to_bytes(8, "little", signed=True), s) % _FB_M
            for s in seeds
        ]
        for pk in _FB_PROBES
    }


def _bloomfile_oracle() -> str:
    bits = _fb_probe_bits()
    hit_cols = []
    for pk, bs in bits.items():
        for i, b in enumerate(bs):
            hit_cols.append(
                f"max(CASE WHEN h{i} = {b} THEN 1 ELSE 0 END) AS hit_{pk}_{i}"
            )
        hit_cols.append(
            f"max(CASE WHEN l_partkey = {pk} THEN 1 ELSE 0 END)"
            f" AS true_{pk}"
        )
    from ..functions.xxh64_sql import XXH64_MACROS

    seeds = _fb_seeds()
    h_cols = ", ".join(
        f"((xxh64_long(l_partkey, {s}::UBIGINT) % {_FB_M}) + {_FB_M})"
        f" % {_FB_M} AS h{i}"
        for i, s in enumerate(seeds)
    )
    per_pred = []
    for pk, _ in bits.items():
        passing = " + ".join(f"hit_{pk}_{i}" for i in range(_FB_K))
        per_pred.append(f"""
        SELECT {pk} AS probe_key,
               CAST(count(*) AS BIGINT) AS files_total,
               CAST(sum(CASE WHEN {passing} = {_FB_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS files_passing,
               CAST(sum(true_{pk}) AS BIGINT) AS files_with_match,
               CAST(sum(CASE WHEN {passing} = {_FB_K} AND true_{pk} = 0
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS false_positive_files,
               CAST(sum(CASE WHEN {passing} = {_FB_K} THEN n_rows
                             ELSE 0 END) AS BIGINT) AS rows_scanned,
               CAST(sum(match_rows_{pk}) AS BIGINT) AS rows_matched
        FROM per_file""")
    match_cols = ", ".join(
        f"sum(CASE WHEN l_partkey = {pk} THEN 1 ELSE 0 END)"
        f" AS match_rows_{pk}"
        for pk in bits
    )
    return (
        XXH64_MACROS
        + f"""
    WITH kr AS (
        SELECT min(CAST(date_diff('day', DATE '1970-01-01',
                        CAST(l_shipdate AS DATE)) AS BIGINT)) AS mnd,
               max(CAST(date_diff('day', DATE '1970-01-01',
                        CAST(l_shipdate AS DATE)) AS BIGINT)) AS mxd
        FROM lineitem
    ),
    base AS (
        SELECT l_partkey,
               least(63, (CAST(date_diff('day', DATE '1970-01-01',
                              CAST(l_shipdate AS DATE)) AS BIGINT)
                          - kr.mnd) * 64 // (kr.mxd - kr.mnd + 1)) AS f,
               {h_cols}
        FROM lineitem CROSS JOIN kr
    ),
    per_file AS (
        SELECT f, CAST(count(*) AS BIGINT) AS n_rows,
               {match_cols},
               {", ".join(hit_cols)}
        FROM base GROUP BY 1
    )
    {" UNION ALL ".join(per_pred)}
    ORDER BY probe_key
    """
    )


@query("layout_bloomfilter_pruning", oracle=_bloomfile_oracle())
def layout_bloomfilter_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom-filter skipping for EQUALITY predicates — the
    companion to layout_zonemap_pruning (zone maps prune ranges on
    clustered columns; Blooms prune point lookups on high-cardinality
    columns in ANY layout). lineitem is packed into the same 64
    date-clustered files; each file conceptually carries a k=3, m=4096
    Bloom over l_partkey; four probe keys (three present, one absent)
    are priced: files passing, true-match files, false positives, rows
    scanned vs rows matched.

    The scan-free trick: a probe key's k bit positions are literal
    constants (reference xxh64 at definition time), so the whole audit
    is ONE aggregate computing a conditional MAX per (file, probe, bit)
    — no bitmap is materialized, and the corpus is scanned once.

    Exactness: every count is an exact integer on deterministic hashes
    (DuckDB replays via the XXH64 macros); the false-positive count is
    the measured cost of m/n at this fill rate.
    """
    bits = _fb_probe_bits()
    seeds = _fb_seeds()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day_x"),
    )
    kr = li.agg(F.min("day_x").alias("mnd"), F.max("day_x").alias("mxd"))
    base = li.crossJoin(F.broadcast(kr)).select(
        "l_partkey",
        F.least(
            F.lit(63),
            F.expr("(day_x - mnd) * 64 div (mxd - mnd + 1)"),
        ).alias("f"),
        *[
            F.pmod(
                F.xxhash64(F.lit(f"fb{i}"), F.col("l_partkey")), F.lit(_FB_M)
            ).alias(f"h{i}")
            for i in range(len(seeds))
        ],
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for pk, bs in bits.items():
        for i, b in enumerate(bs):
            aggs.append(
                F.max((F.col(f"h{i}") == b).cast("int")).alias(f"hit_{pk}_{i}")
            )
        aggs.append(
            F.max((F.col("l_partkey") == pk).cast("int")).alias(f"true_{pk}")
        )
        aggs.append(
            F.sum((F.col("l_partkey") == pk).cast("int")).alias(
                f"match_rows_{pk}"
            )
        )
    # 64 rows; checkpoint so the four per-probe rollups don't re-scan
    # the corpus
    per_file = base.groupBy("f").agg(*aggs).localCheckpoint(eager=True)
    out = None
    for pk in bits:
        passing = " + ".join(f"hit_{pk}_{i}" for i in range(_FB_K))
        pred = per_file.selectExpr(
            f"{pk} AS probe_key",
            "n_rows",
            f"CASE WHEN {passing} = {_FB_K} THEN 1 ELSE 0 END AS pass",
            f"true_{pk} AS tr",
            f"match_rows_{pk} AS mr",
        ).agg(
            F.max("probe_key").cast("long").alias("probe_key"),
            F.count(F.lit(1)).cast("long").alias("files_total"),
            F.sum("pass").cast("long").alias("files_passing"),
            F.sum("tr").cast("long").alias("files_with_match"),
            F.sum(F.expr("CASE WHEN pass = 1 AND tr = 0 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("false_positive_files"),
            F.sum(F.expr("CASE WHEN pass = 1 THEN n_rows ELSE 0 END"))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("mr").cast("long").alias("rows_matched"),
        )
        out = pred if out is None else out.unionAll(pred)
    return out.orderBy("probe_key")
