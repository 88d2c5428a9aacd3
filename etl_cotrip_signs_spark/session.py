"""SparkSession construction and session-level tuning.

The engine is designed for a multi-executor cluster (partition-count and
broadcast decisions assume distributed execution) but is exercised locally
on ``local[N]``.

Session policy has one boundary. The two confs in ``_RUNTIME_CONFS`` change
results, so every session a query runs on must carry them: :func:`get_spark`
puts them on its builder, and ``registry.query`` applies them with
:func:`ensure_confs` to whatever session a registered query is handed (the
external driver builds its own). Every other conf is the caller's: the
engine does not restate Spark's defaults, so a caller that turns AQE or
the runtime bloom filter off keeps it off. The generated-code cache size
is static: only :func:`get_spark` applies it, on the builder, so a session
built elsewhere keeps Spark's default of 100 entries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

# The runtime confs that change query results, and so are enforced on every
# session (see the module docstring):
#  - UTC session timezone: DuckDB oracle timestamps are UTC-naive.
#  - nanosAsLong: the `events` table stores TIMESTAMP(NANOS), which Spark's
#    parquet reader otherwise rejects (io.load_table converts to NTZ micros).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# Entries in Spark's generated-code cache (`spark.sql.codegen.cache.maxEntries`,
# default 100; static, so it only takes effect on a new session). One
# dedup_chains pass generates ~100 distinct classes (97-99 measured), and the
# default cache already evicts at that size, because Guava enforces the cap
# per segment (4 segments of 25), not in total: each warm pass recompiled
# 35-41 classes with Janino, and the JIT compiled the fresh classes again.
# 1000 is 10x that largest per-query working set.
CODEGEN_CACHE_ENTRIES = 1000

# Byte budget of a size-gated broadcast hint (fits_broadcast). It is the
# largest side any gate admitted when each site had its own row cap: 500k
# docs of the ppjoin shingle-array table at 1431 B/row.
BROADCAST_MAX_BYTES = 500_000 * 1431


def fits_broadcast(n_rows: int, row_bytes: int) -> bool:
    """Whether a join side of ``n_rows`` rows, ``row_bytes`` each, may be
    broadcast-hinted: ``n_rows * row_bytes <= BROADCAST_MAX_BYTES``.

    A hint on a corpus-sized side is right at bench scale (one shuffle-free
    hash join) but would collect an unbounded table on the driver at scale,
    so it is decided on a MEASURED row count. Spark's own size estimate is
    no guide here: a checkpointed plan can report the size of its input
    (a ``localCheckpoint`` of a 1,000-row aggregate over 100k rows reports
    1.2 MB). Callers hold the side ``localCheckpoint``-ed, so their
    ``count()`` reads cached partition metadata. ``row_bytes`` is the side's
    UnsafeRow width as broadcast (bytes collected ÷ rows, measured at
    sf0.01), not the hash relation's allocation, which has a 1 MB or 32 MB
    floor. Above the budget the join runs hint-free and AQE plans it."""
    return n_rows * row_bytes <= BROADCAST_MAX_BYTES


def broadcast_if_fits(df: DataFrame, n_rows: int, row_bytes: int) -> DataFrame:
    """``F.broadcast(df)`` when :func:`fits_broadcast`, else ``df``."""
    return F.broadcast(df) if fits_broadcast(n_rows, row_bytes) else df


def codegen_compile_count(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far, i.e. misses of the
    generated-code cache; the difference of two readings counts what the
    work between them compiled. On ``local[N]`` the executors share the
    driver's JVM, so their compiles count too."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def ensure_confs(spark: SparkSession) -> None:
    """Apply the engine's required runtime confs to an existing session."""
    for k, v in _RUNTIME_CONFS.items():
        spark.conf.set(k, v)


def get_spark(app_name: str = "etl-cotrip-signs-spark") -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    Shuffle partitions equal the local core count — on a real cluster this
    should be ~2-3x total executor cores (set via ``SPARK_GRAFT_CPUS``).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scratch_dir(tag: str, sf_dir: str) -> str:
    """Deterministic per-(sf_dir, tag) scratch path for queries that stage
    files (IO roundtrips, sinks, foreachBatch state). Keyed on a hash of
    sf_dir so parallel runs against different scale factors cannot collide;
    deterministic (no run id) so a query re-invocation in one session
    reuses/overwrites its own directory instead of leaking a new one per
    call. Single definition — the md5-tag idiom previously lived in three
    drifting copies.

    Rooted in a per-user 0o700 directory (not a fixed world-writable /tmp
    prefix): callers rmtree-and-repopulate these paths, and a predictable
    shared prefix would let another local user pre-create or symlink the
    target (deletion-through-symlink)."""
    import hashlib
    import stat
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{os.getuid()}"
    )
    os.makedirs(root, mode=0o700, exist_ok=True)
    # exist_ok=True does NOT apply the mode to (or validate) a pre-existing
    # directory — another user could have pre-created the predictable path
    # in sticky /tmp. Refuse to use a root we don't own or that others can
    # write; chmod closes the group/other bits if our own umask widened them.
    st = os.lstat(root)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
        raise RuntimeError(
            f"scratch root {root} exists but is not a directory owned by "
            f"uid {os.getuid()} — refusing to use it"
        )
    if st.st_mode & 0o077:
        os.chmod(root, 0o700)
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return os.path.join(root, h, tag)


def staged_intermediate(spark, build, tag: str, sf_dir: str):
    """Opt-in parquet staging for expensive DETERMINISTIC intermediates
    shared by several registered queries (the radius-graph edge list, the
    edit-distance-1 name pairs): when ``SPARK_GRAFT_STAGE_CACHE=1`` and the
    input is the immutable testdata tree, materialize ``build()`` once per
    (tag, sf_dir) under scratch_dir and serve every later consumer from the
    parquet — the full-catalog sweep re-derives these identical tables
    dozens of times otherwise (~200 s of its sf0.01 wall in round 5).

    OFF by default: plan-pin tests must see the real build plan, and the
    driver's correctness run should execute the genuine lineage. Cache keys
    carry a version suffix in ``tag`` — bump it whenever the builder's
    semantics change, so a stale directory can never shadow new logic.
    Mutable inputs (10x probe replicas, scale-ladder dirs) never cache."""
    import os as _os

    if _os.environ.get("SPARK_GRAFT_STAGE_CACHE") != "1" or not sf_dir.startswith(
        "/root/testdata/"
    ):
        return build()
    path = scratch_dir(f"stage_{tag}", sf_dir)
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        build().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
