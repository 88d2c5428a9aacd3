"""Lakehouse table-format read paths: manifest time travel + deletion
vectors.

Modern table formats (Delta/Iceberg/Hudi — public specs) layer two
mechanisms over immutable parquet: a MANIFEST that maps snapshot versions
to live files (time travel, atomic commits) and DELETION VECTORS that
suppress individual rows by (file, position) without rewriting the file.
Both are pure read-path contracts over physical layout, which makes them
ideal cross-engine oracle targets: whatever this engine stages, DuckDB
re-reads the same bytes through the same contract and must agree.

Reference scope: the reference Lambda (task.ts) has no table format; these
are part of the training-data-pipeline surface the build mandates (a 100 TB
corpus store IS a lakehouse table — snapshot reads give reproducible
training runs, DVs give cheap GDPR deletes between full rewrites).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import query
from ..session import scratch_dir

# Exact cents from the double price column: DECIMAL(18,2) cast is exact in
# both engines (the relational.py agg idiom), then *100 to integer cents.
_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _write_named_file(df: DataFrame, target: str) -> None:
    """Write a DataFrame as ONE plain parquet file at `target` (the
    manifest/file-slice layout table formats use: named immutable files,
    not part-file directories)."""
    tmp = target + "._tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(e for e in os.listdir(tmp) if e.endswith(".parquet"))
    if os.path.isdir(target) or os.path.isfile(target):
        (shutil.rmtree if os.path.isdir(target) else os.remove)(target)
    shutil.move(os.path.join(tmp, part), target)
    shutil.rmtree(tmp)


@query(
    "table_time_travel",
    # The oracle re-reads the SAME staged data files and manifest and
    # applies the same visibility predicate per version — the
    # layout_compaction discipline extended to snapshot semantics. It
    # scans the full glob + semi-joins the manifest (an engine without
    # manifest pruning); the Spark side reads ONLY the live files per
    # version (manifest pruning — the thing this operator exists to
    # demonstrate). Same rows either way, which is exactly the claim.
    oracle="""
    WITH mf AS (
        SELECT file, added_v, removed_v
        FROM read_parquet('{SCRATCH:timetravel}/manifest.parquet')
    ),
    d AS (
        SELECT filename, o_totalprice
        FROM read_parquet('{SCRATCH:timetravel}/data/*.parquet',
                          filename=true)
    ),
    versions AS (SELECT CAST(v AS INT) AS version FROM (VALUES (1), (2), (3)) t(v)),
    live AS (
        SELECT versions.version, mf.file
        FROM versions JOIN mf
          ON mf.added_v <= versions.version
         AND (mf.removed_v IS NULL OR mf.removed_v > versions.version)
    )
    SELECT l.version,
           CAST(count(DISTINCT l.file) AS INT) AS n_files_live,
           CAST(count(d.filename) AS BIGINT) AS n_rows,
           CAST(sum(CAST(CAST(d.o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_cents
    FROM live l LEFT JOIN d ON d.filename = l.file
    GROUP BY l.version
    """,
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel over a manifest-committed table.

    Stages a 3-commit history of an orders subset as immutable named
    files plus a manifest of (file, added_v, removed_v): v1 = {f1, f2},
    v2 adds f3 and removes f1 (a compaction/delete), v3 adds f4. Reading
    "AS OF v" = reading exactly the files visible at v — the Spark side
    collects the live file list from the (metadata-scale) manifest and
    passes ONLY those paths to the parquet scan, so a 1%-live snapshot
    of a 100 TB table plans 1% of the scan tasks. Version visibility,
    row counts, and exact-cent sums per snapshot are oracle-checked
    against an independent reader of the same manifest + bytes.

    At 100 TB: the manifest is the table (Iceberg/Delta public model);
    commits append manifest rows atomically, files are immutable, and
    snapshot reads are reproducible forever — which is what makes
    training corpora versionable.
    """
    base = scratch_dir("timetravel", sf_dir)
    data_dir = f"{base}/data"
    os.makedirs(data_dir, exist_ok=True)

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .localCheckpoint(eager=True)  # four slice writes descend from it
    )
    slices = {
        "f1": o.filter(F.col("o_orderkey") % 4 == 0),
        "f2": o.filter(F.col("o_orderkey") % 4 == 1),
        "f3": o.filter(F.col("o_orderkey") % 4 == 2),
        "f4": o.filter(F.col("o_orderkey") % 4 == 3),
    }
    for name, df in slices.items():
        _write_named_file(df, f"{data_dir}/{name}.parquet")

    manifest_rows = [
        (f"{data_dir}/f1.parquet", 1, 2),
        (f"{data_dir}/f2.parquet", 1, None),
        (f"{data_dir}/f3.parquet", 2, None),
        (f"{data_dir}/f4.parquet", 3, None),
    ]
    manifest = spark.createDataFrame(
        manifest_rows, "file string, added_v int, removed_v int"
    )
    _write_named_file(manifest, f"{base}/manifest.parquet")

    # Snapshot read: live-file list from the manifest (metadata-scale
    # collect — this is catalog work, not data work), then a scan over
    # exactly those files.
    mf = manifest.collect()
    out = None
    for v in (1, 2, 3):
        live = [
            r["file"]
            for r in mf
            if r["added_v"] <= v
            and (r["removed_v"] is None or r["removed_v"] > v)
        ]
        snap = (
            spark.read.parquet(*live)
            .selectExpr(f"{_CENTS} AS cents")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .select(
                F.lit(v).cast("int").alias("version"),
                F.lit(len(live)).cast("int").alias("n_files_live"),
                "n_rows",
                "sum_cents",
            )
        )
        out = snap if out is None else out.unionAll(snap)
    return out


@query(
    "deletion_vector_read",
    # Position agreement is the entire claim: Spark's
    # _metadata.row_index and DuckDB's file_row_number must identify the
    # SAME physical rows of the same staged files, or the suppressed
    # aggregates diverge. The DV is defined positionally (row_index % 10
    # == 3), not by a content predicate, so neither engine can "cheat"
    # by re-deriving it from values.
    oracle="""
    WITH d AS (
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
               file_row_number AS pos, o_totalprice
        FROM read_parquet('{SCRATCH:delvec}/data/*.parquet',
                          filename=true, file_row_number=true)
    ),
    dv AS (
        SELECT file, pos
        FROM read_parquet('{SCRATCH:delvec}/dv.parquet')
    ),
    live AS (
        SELECT d.* FROM d
        LEFT JOIN dv ON dv.file = d.file AND dv.pos = d.pos
        WHERE dv.file IS NULL
    )
    SELECT d.file,
           CAST(count(*) AS BIGINT) AS n_rows_total,
           CAST((SELECT count(*) FROM live l WHERE l.file = d.file)
                AS BIGINT) AS n_rows_live,
           CAST((SELECT sum(CAST(CAST(l.o_totalprice AS DECIMAL(18,2))
                * 100 AS BIGINT)) FROM live l WHERE l.file = d.file)
                AS BIGINT) AS sum_cents_live
    FROM d
    GROUP BY d.file
    """,
)
def deletion_vector_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector read path: suppress rows by (file, position)
    without rewriting files.

    Stages an orders subset as 8 immutable parquet files, then a DV
    table of (file, pos) marking every position with pos % 10 == 3 —
    positional, like a real DV (a roaring bitmap per file in
    Delta/Iceberg v3; a parquet side file here). The read is the
    merge-on-read contract: scan with the file/position metadata columns
    (`_metadata.file_path`, `_metadata.row_index` — Spark's parquet row
    index) and LEFT-ANTI join the DV on (file, pos). Per file: total
    rows, surviving rows, exact-cent surviving sum.

    At 100 TB: DVs turn deletes (GDPR, dedup retro-fixes) from
    rewrite-the-partition into append-a-bitmap; the anti join is
    per-file local (DV side is file-partitioned and tiny), and the scan
    stays full-speed columnar. The oracle proves the position contract
    cross-engine: DuckDB's file_row_number lands on the same physical
    rows as Spark's row_index.
    """
    base = scratch_dir("delvec", sf_dir)
    data_dir = f"{base}/data"

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 5 == 0
    ).select("o_orderkey", "o_custkey", "o_totalprice")
    o.repartition(8).write.mode("overwrite").parquet(data_dir)

    scan = spark.read.parquet(data_dir).select(
        F.regexp_extract(F.col("_metadata.file_path"), "([^/]+)$", 1).alias(
            "file"
        ),
        F.col("_metadata.row_index").alias("pos"),
        "o_totalprice",
    )
    dv = scan.filter(F.col("pos") % 10 == 3).select("file", "pos")
    _write_named_file(dv, f"{base}/dv.parquet")

    dv_read = spark.read.parquet(f"{base}/dv.parquet")
    live = scan.join(dv_read, ["file", "pos"], "left_anti")
    totals = scan.groupBy("file").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_total")
    )
    survivors = live.groupBy("file").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_live"),
        F.sum(F.expr(_CENTS)).cast("long").alias("sum_cents_live"),
    )
    return totals.join(survivors, "file").select(
        "file", "n_rows_total", "n_rows_live", "sum_cents_live"
    )


@query(
    "partition_evolution_read",
    # Same discipline as table_time_travel: the oracle re-reads the SAME
    # staged bytes — here through hive_partitioning=true so the partition
    # values parsed from DIRECTORY NAMES must agree with what Spark both
    # wrote and read back. Two different physical layouts, one logical
    # table, one answer.
    oracle="""
    WITH unioned AS (
        SELECT o_orderkey, o_totalprice,
               CAST(o_orderpriority AS VARCHAR) AS o_orderpriority
        FROM read_parquet('{SCRATCH:partevo}/v1/*/*.parquet',
                          hive_partitioning=true)
        UNION ALL
        SELECT o_orderkey, o_totalprice,
               CAST(o_orderpriority AS VARCHAR) AS o_orderpriority
        FROM read_parquet('{SCRATCH:partevo}/v2/*/*.parquet',
                          hive_partitioning=true)
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key
    FROM unioned GROUP BY o_orderpriority
    """,
)
def partition_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution: the table's early commit is
    hive-partitioned by o_orderpriority, the later commit by
    o_orderstatus — the layout change every long-lived table eventually
    makes (Iceberg calls it partition evolution; plain Spark tables get
    it by unioning generations) — and a read spanning both generations
    must still behave as ONE logical table.

    The mechanics under test: partition VALUES live in directory names,
    not data files, so each generation's read must re-materialize its
    own partition column from its own layout; unionByName then aligns
    the generations' differing column orders. Per-priority counts and
    exact-cent sums span both generations; rows are split by orderkey
    parity so every output row genuinely mixes layouts.

    At 100 TB: partition evolution is why readers must never assume one
    physical spec — filters on the OLD key prune only the old
    generation's directories, filters on the new key only the new one's,
    and the union plan shows exactly that (each side keeps its own
    PartitionFilters).
    """
    base = scratch_dir("partevo", sf_dir)
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 11 == 0)
        .select(
            "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"
        )
        .localCheckpoint(eager=True)  # two generation writes descend
    )
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0)
    gen2 = o.filter(F.col("o_orderkey") % 2 == 1)
    gen1.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        f"{base}/v1"
    )
    gen2.write.mode("overwrite").partitionBy("o_orderstatus").parquet(
        f"{base}/v2"
    )
    r1 = spark.read.parquet(f"{base}/v1").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    r2 = spark.read.parquet(f"{base}/v2").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    return (
        r1.unionByName(r2)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS)).cast("long").alias("sum_cents"),
            F.min("o_orderkey").cast("long").alias("min_key"),
        )
    )


@query(
    "table_clone_shallow",
    # Both manifests + the shared data files are re-read by DuckDB; the
    # claim is metadata-only divergence: after the source's post-clone
    # commit (add f4, remove f1), source@latest and clone@latest read
    # DIFFERENT row sets out of the SAME immutable bytes, and f1's bytes
    # still serve the clone even though the source dropped the file.
    oracle="""
    WITH src_mf AS (
        SELECT file, added_v, removed_v
        FROM read_parquet('{SCRATCH:clone}/manifest_src.parquet')
    ),
    clone_mf AS (
        SELECT file, added_v, removed_v
        FROM read_parquet('{SCRATCH:clone}/manifest_clone.parquet')
    ),
    d AS (
        SELECT filename, o_totalprice
        FROM read_parquet('{SCRATCH:clone}/data/*.parquet', filename=true)
    ),
    live AS (
        SELECT 'source' AS table_name, file FROM src_mf
        WHERE added_v <= 2 AND (removed_v IS NULL OR removed_v > 2)
        UNION ALL
        SELECT 'clone', file FROM clone_mf
        WHERE added_v <= 1 AND (removed_v IS NULL OR removed_v > 1)
    )
    SELECT l.table_name,
           CAST(count(DISTINCT l.file) AS INT) AS n_files_live,
           CAST(count(d.filename) AS BIGINT) AS n_rows,
           CAST(sum(CAST(CAST(d.o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_cents
    FROM live l LEFT JOIN d ON d.filename = l.file
    GROUP BY l.table_name
    """,
)
def table_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow (zero-copy) table clone: the clone is a COPY OF THE
    MANIFEST, not of any data — Delta's SHALLOW CLONE / Iceberg snapshot
    ref (public specs). Staging: v1 commits files {f1, f2, f3}; the clone
    snapshots v1 by copying the three manifest rows; the SOURCE then
    commits v2 (adds f4, removes f1). Reading both tables afterwards
    proves the two lakehouse invariants that make clones safe: (1)
    isolation — the source's later commit does not leak into the clone
    (clone still reads f1+f2+f3); (2) immutability — dropping f1 from the
    source manifest does NOT delete bytes the clone still references
    (vacuum must consult every manifest, which is why retention policies
    exist). This is how a 100 TB training corpus gets a frozen,
    bit-reproducible eval snapshot for the cost of a manifest write.

    Scale shape: the clone operation itself touches |manifest| rows —
    pure metadata; reads plan only each table's live files.
    """
    base = scratch_dir("clone", sf_dir)
    data_dir = f"{base}/data"
    os.makedirs(data_dir, exist_ok=True)

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 11 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .localCheckpoint(eager=True)  # four slice writes descend from it
    )
    for i, name in enumerate(("f1", "f2", "f3", "f4")):
        _write_named_file(
            o.filter(F.col("o_orderkey") % 4 == i), f"{data_dir}/{name}.parquet"
        )

    # source history: v1 = {f1,f2,f3}; v2 adds f4, removes f1
    src_rows = [
        (f"{data_dir}/f1.parquet", 1, 2),
        (f"{data_dir}/f2.parquet", 1, None),
        (f"{data_dir}/f3.parquet", 1, None),
        (f"{data_dir}/f4.parquet", 2, None),
    ]
    schema = "file string, added_v int, removed_v int"
    src_mf = spark.createDataFrame(src_rows, schema)
    _write_named_file(src_mf, f"{base}/manifest_src.parquet")
    # the shallow clone: v1's manifest rows, verbatim — no data copied
    clone_mf = spark.createDataFrame(
        [r for r in src_rows if r[1] <= 1], schema
    )
    _write_named_file(clone_mf, f"{base}/manifest_clone.parquet")

    out = None
    for table_name, mf, v in (("source", src_rows, 2), ("clone", [r for r in src_rows if r[1] <= 1], 1)):
        live = [
            f
            for f, added, removed in mf
            if added <= v and (removed is None or removed > v)
        ]
        snap = (
            spark.read.parquet(*live)
            .selectExpr(f"{_CENTS} AS cents")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .select(
                F.lit(table_name).alias("table_name"),
                F.lit(len(live)).cast("int").alias("n_files_live"),
                "n_rows",
                "sum_cents",
            )
        )
        out = snap if out is None else out.unionAll(snap)
    return out


# --- wave 41 (round 8) ---

_VAC_CURRENT_V = 3


@query(
    "table_vacuum_plan",
    # The oracle re-derives deletability from the same staged manifest +
    # bytes: a file is safe to delete under retention R (retained
    # snapshots V-R..V) iff it was removed at-or-before the OLDEST
    # retained version — removed_v <= V-R — because any later removal
    # leaves it visible in some retained snapshot. Sizes come from the
    # manifest (stat'd at stage time), row counts from an independent
    # filename-joined scan of the data glob.
    oracle=f"""
    WITH mf AS (
        SELECT file, added_v, removed_v, size_bytes
        FROM read_parquet('{{SCRATCH:vacuumplan}}/manifest.parquet')
    ),
    rows_per_file AS (
        SELECT filename AS file, count(*) AS n_rows
        FROM read_parquet('{{SCRATCH:vacuumplan}}/data/*.parquet',
                          filename=true)
        GROUP BY filename
    ),
    rets AS (SELECT unnest([0, 1, 2]) AS retention),
    judged AS (
        SELECT r.retention, mf.file, mf.size_bytes,
               coalesce(rf.n_rows, 0) AS n_rows,
               CASE WHEN mf.removed_v IS NOT NULL
                         AND mf.removed_v <= {_VAC_CURRENT_V} - r.retention
                    THEN 1 ELSE 0 END AS deletable
        FROM rets r CROSS JOIN mf
        LEFT JOIN rows_per_file rf ON rf.file = mf.file
    )
    SELECT CAST(retention AS INT) AS retention_versions,
           CAST({_VAC_CURRENT_V} - retention AS INT) AS oldest_retained_v,
           CAST(sum(deletable) AS BIGINT) AS n_files_deletable,
           CAST(sum(CASE WHEN deletable = 1 THEN size_bytes ELSE 0 END)
                AS BIGINT) AS bytes_deletable,
           CAST(sum(CASE WHEN deletable = 1 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_deletable,
           CAST(count(*) - sum(deletable) AS BIGINT) AS n_files_kept
    FROM judged
    GROUP BY retention
    """,
)
def table_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM dry-run over a manifest-committed table: which data files
    can be physically deleted under a snapshot-retention policy, and how
    many bytes/rows that reclaims — the garbage-collection half of the
    time-travel contract (table_time_travel proves snapshot READS; this
    proves when history may be destroyed without breaking any retained
    snapshot — the Delta VACUUM / Iceberg expire_snapshots public
    semantics).

    Rule: retaining snapshots V-R..V, a file is deletable iff its
    removed_v <= V-R — removed at or before the oldest retained version,
    hence invisible in every retained snapshot; a file removed later is
    still referenced by some retained version and must stay. The sweep
    reports R = 0, 1, 2 so the retention/reclaim trade-off is the
    output, sizes measured from the actual staged bytes.

    At 100 TB this is the difference between a table that grows forever
    and one whose storage tracks the live snapshot set: the plan is pure
    manifest arithmetic (metadata-scale — no data files are opened to
    DECIDE deletability; the row counts here are an audit column the
    oracle independently recomputes from the bytes).
    """
    base = scratch_dir("vacuumplan", sf_dir)
    data_dir = f"{base}/data"
    os.makedirs(data_dir, exist_ok=True)

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .localCheckpoint(eager=True)  # four slice writes descend from it
    )
    slices = {
        "f1": o.filter(F.col("o_orderkey") % 4 == 0),
        "f2": o.filter(F.col("o_orderkey") % 4 == 1),
        "f3": o.filter(F.col("o_orderkey") % 4 == 2),
        "f4": o.filter(F.col("o_orderkey") % 4 == 3),
    }
    for name, df in slices.items():
        _write_named_file(df, f"{data_dir}/{name}.parquet")
    # history: v1 = {f1, f2}; v2 compacts f1 away and adds f3; v3 removes
    # f2 and adds f4 — so f1 (removed_v=2) frees at R<=1 and f2
    # (removed_v=3) only at R=0.
    manifest_rows = [
        (f"{data_dir}/f1.parquet", 1, 2,
         os.path.getsize(f"{data_dir}/f1.parquet")),
        (f"{data_dir}/f2.parquet", 1, 3,
         os.path.getsize(f"{data_dir}/f2.parquet")),
        (f"{data_dir}/f3.parquet", 2, None,
         os.path.getsize(f"{data_dir}/f3.parquet")),
        (f"{data_dir}/f4.parquet", 3, None,
         os.path.getsize(f"{data_dir}/f4.parquet")),
    ]
    manifest = spark.createDataFrame(
        manifest_rows,
        "file string, added_v int, removed_v int, size_bytes long",
    )
    _write_named_file(manifest, f"{base}/manifest.parquet")
    mf = spark.read.parquet(f"{base}/manifest.parquet")
    rows_per_file = (
        spark.read.parquet(f"{data_dir}/*.parquet")
        .select(F.input_file_name().alias("file"))
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        # input_file_name yields file:// URIs; normalize to the manifest's
        # plain paths
        .withColumn("file", F.regexp_replace("file", "^file:(//)?", ""))
    )
    rets = spark.createDataFrame([(0,), (1,), (2,)], "retention int")
    judged = (
        rets.crossJoin(F.broadcast(mf))
        .join(F.broadcast(rows_per_file), "file", "left")
        .withColumn(
            "deletable",
            (
                F.col("removed_v").isNotNull()
                & (F.col("removed_v") <= F.lit(_VAC_CURRENT_V) - F.col("retention"))
            ).cast("int"),
        )
        .withColumn("n_rows", F.coalesce("n_rows", F.lit(0)))
    )
    return judged.groupBy("retention").agg(
        F.sum("deletable").cast("long").alias("n_files_deletable"),
        F.sum(
            F.when(F.col("deletable") == 1, F.col("size_bytes")).otherwise(0)
        ).cast("long").alias("bytes_deletable"),
        F.sum(
            F.when(F.col("deletable") == 1, F.col("n_rows")).otherwise(0)
        ).cast("long").alias("rows_deletable"),
        (F.count(F.lit(1)) - F.sum("deletable")).cast("long").alias(
            "n_files_kept"
        ),
    ).select(
        F.col("retention").cast("int").alias("retention_versions"),
        (F.lit(_VAC_CURRENT_V) - F.col("retention")).cast("int").alias(
            "oldest_retained_v"
        ),
        "n_files_deletable",
        "bytes_deletable",
        "rows_deletable",
        "n_files_kept",
    )


# --- wave 47 (round 9) ---


@query(
    "dq_schema_drift_report",
    # The oracle derives the same report from the PHYSICAL parquet
    # metadata (parquet_schema) of the staged snapshots — an independent
    # reader of the bytes, not of Spark's catalog view. Type change is
    # compared as a BOOLEAN (physical type differs), so the two engines'
    # type-name vocabularies never need to agree.
    oracle="""
    WITH v1 AS (
        SELECT name, type FROM parquet_schema('{SCRATCH:schemadrift}/v1.parquet')
        WHERE num_children IS NULL OR num_children = 0
    ),
    v2 AS (
        SELECT name, type FROM parquet_schema('{SCRATCH:schemadrift}/v2.parquet')
        WHERE num_children IS NULL OR num_children = 0
    )
    SELECT coalesce(v1.name, v2.name) AS column_name,
           v1.name IS NOT NULL AS in_v1,
           v2.name IS NOT NULL AS in_v2,
           (v1.name IS NOT NULL AND v2.name IS NOT NULL
            AND v1.type <> v2.type) AS type_changed,
           CASE WHEN v1.name IS NOT NULL AND v2.name IS NULL THEN 'removed'
                WHEN v1.name IS NULL AND v2.name IS NOT NULL THEN 'added'
                WHEN v1.type <> v2.type THEN 'type_changed'
                ELSE 'unchanged' END AS status
    FROM v1 FULL OUTER JOIN v2 ON v2.name = v1.name
    ORDER BY column_name
    """,
)
def dq_schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift detection between two table snapshots — the
    evolution audit a pipeline gate runs before a scheduled job consumes
    a table whose producer may have changed shape (added / removed /
    type-changed columns). Stages two snapshot files (v2 widens
    o_custkey INT->BIGINT, drops o_orderpriority, adds o_orderdate),
    then reports per-column status; the oracle re-derives the report
    from the PHYSICAL parquet footers (schema metadata), so the check
    proves Spark's catalog view matches the bytes.

    Scale shape: pure metadata — two footer reads regardless of table
    size; the report is O(columns). This is the pre-flight that lets
    schema_evolution_merge / cdc pipelines fail fast instead of
    producing a corrupted union.
    """
    base = scratch_dir("schemadrift", sf_dir)
    os.makedirs(base, exist_ok=True)
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 97 == 0
    )
    v1 = o.select(
        "o_orderkey",
        F.col("o_custkey").cast("int").alias("o_custkey"),
        "o_totalprice",
        "o_orderpriority",
    )
    v2 = o.select(
        "o_orderkey",
        F.col("o_custkey").cast("long").alias("o_custkey"),
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    _write_named_file(v1, f"{base}/v1.parquet")
    _write_named_file(v2, f"{base}/v2.parquet")
    # Catalog-side report: read back the two footers (schema-only reads)
    s1 = {f.name: f.dataType.simpleString() for f in spark.read.parquet(f"{base}/v1.parquet").schema.fields}
    s2 = {f.name: f.dataType.simpleString() for f in spark.read.parquet(f"{base}/v2.parquet").schema.fields}
    rows = []
    for name in sorted(set(s1) | set(s2)):
        in1, in2 = name in s1, name in s2
        changed = in1 and in2 and s1[name] != s2[name]
        status = (
            "removed" if in1 and not in2
            else "added" if in2 and not in1
            else "type_changed" if changed
            else "unchanged"
        )
        rows.append((name, in1, in2, changed, status))
    return spark.createDataFrame(
        rows,
        "column_name string, in_v1 boolean, in_v2 boolean, "
        "type_changed boolean, status string",
    ).orderBy("column_name")
