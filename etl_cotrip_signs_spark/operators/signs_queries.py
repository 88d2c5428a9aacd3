"""Registered queries exercising the reference-parity signs pipeline.

`signs_pipeline_inline` is oracle-checked: both engines start from the same
inline VALUES feature set, so the A2→A3→A5 dataflow (project, Multi-explode
with positional id suffixes, allow-list filter — /root/reference/task.ts:76-112)
is verified row-for-row against DuckDB's JSON/list machinery.

`signs_rest_pipeline` runs the full source→transform chain (A1→A2→A3→A5)
over the packaged page fixtures, and `signs_rest_stream_pipeline` runs the
same chain as a structured stream (one page per micro-batch). Both are
oracle-checked: DuckDB's JSON reader replays the page files directly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..sources.rest import file_fetcher, read_signs
from .signs import explode_multi, filter_geometry, signs_pipeline

_PAGES_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "data", "signs_pages")

# Inline feature set: all six geometry types + a multi-member MultiPolygon
# (positional suffix check) + an empty-coordinates Multi (explodes to zero).
_INLINE_FEATURES = [
    ("p1", "Point", "[-105.1,39.7]"),
    ("l1", "LineString", "[[-105.1,39.7],[-105.2,39.8]]"),
    ("pg1", "Polygon", "[[[-105.5,39.5],[-105.25,39.5],[-105.5,39.25],[-105.5,39.5]]]"),
    ("mp1", "MultiPoint", "[[-104.9,38.8],[-104.8,38.9],[-104.7,39.1]]"),
    ("ml1", "MultiLineString", "[[[-105.1,39.7],[-105.2,39.8]],[[-106.5,40.5],[-106.25,40.25]]]"),
    (
        "mpg1",
        "MultiPolygon",
        "[[[[-105.5,39.5],[-105.25,39.5],[-105.5,39.25],[-105.5,39.5]]],"
        "[[[-104.5,38.5],[-104.25,38.5],[-104.5,38.25],[-104.5,38.5]]]]",
    ),
    ("me1", "MultiPoint", "[]"),
]

_INLINE_FEATURES_CTE = "features(id, geom_type, coordinates) AS (VALUES {})".format(
    ",\n               ".join(f"('{i}', '{t}', '{c}')" for i, t, c in _INLINE_FEATURES)
)

# A3 in DuckDB SQL, appended to a `features(id, geom_type, coordinates)` CTE:
# a Multi geometry becomes one row per member with a positional `-i` id
# suffix (zero rows for empty coordinates); other rows pass through.
_EXPLODED_CTES = """
    multi AS (
        SELECT f.id || '-' || CAST(r.i AS VARCHAR)                  AS id,
               substr(f.geom_type, 6)                               AS geom_type,
               CAST(json_extract(f.coordinates, '$[' || r.i || ']') AS VARCHAR) AS coordinates
        FROM features f,
             LATERAL (
                 SELECT unnest(range(CAST(json_array_length(f.coordinates) AS BIGINT))) AS i
             ) r
        WHERE starts_with(f.geom_type, 'Multi')
    ),
    single AS (
        SELECT id, geom_type, coordinates FROM features
        WHERE NOT starts_with(geom_type, 'Multi')
    ),
    exploded AS (SELECT * FROM single UNION ALL SELECT * FROM multi)
"""

# A5: the default allow-list over the exploded rows.
_ALLOWED_SELECT = """
    SELECT id, geom_type, coordinates FROM exploded
    WHERE geom_type IN ('Point', 'LineString', 'Polygon')
"""


@query(
    "signs_pipeline_inline",
    oracle=f"WITH {_INLINE_FEATURES_CTE},{_EXPLODED_CTES}{_ALLOWED_SELECT}",
)
def signs_pipeline_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2→A3→A5 over an inline feature set, DuckDB-verified."""
    df = spark.createDataFrame(
        _INLINE_FEATURES, "id string, geom_type string, coordinates string"
    ).withColumn("properties", F.create_map(F.lit("id"), F.col("id")))
    out = signs_pipeline(df, ["Point", "LineString", "Polygon"])
    return out.select("id", "geom_type", "coordinates")


# DuckDB's JSON reader replays the same page fixtures the REST source
# paginates through (the 0→4→7→'None' chain covers every page file, so
# a glob over the directory sees the identical feature set), then
# replicates A2→A3→A5 in SQL. Coordinate strings match because every
# writer involved emits compact JSON and prints the fixtures' plain
# decimals the same way: Spark's JSON writer (features_to_df and the
# from_json Multi split), json.dumps (the DataSource and UDTF readers and
# the sink read-back) and DuckDB's minified json_extract. Shared by the
# batch and streaming REST queries — the stream drains the same chain,
# one page per micro-batch.
_REST_PIPELINE_ORACLE = f"""
    WITH pages AS (
        SELECT unnest(features) AS feat
        FROM read_json('{_PAGES_DIR}/*.json',
                       columns={{'features': 'JSON[]', 'next_offset': 'VARCHAR'}})
    ),
    features AS (
        SELECT coalesce(json_extract_string(feat, '$.properties.id'),
                        json_extract_string(feat, '$.id'))            AS id,
               json_extract_string(feat, '$.geometry.type')           AS geom_type,
               CAST(json_extract(feat, '$.geometry.coordinates') AS VARCHAR)
                                                                      AS coordinates
        FROM pages
    ),{_EXPLODED_CTES}{_ALLOWED_SELECT}"""


@query("signs_rest_pipeline", oracle=_REST_PIPELINE_ORACLE)
def signs_rest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference dataflow A1→A2→A3→A5 over the packaged page fixtures."""
    df = read_signs(spark, file_fetcher(_PAGES_DIR))
    out = signs_pipeline(df, ["Point", "LineString", "Polygon"])
    return out.select("id", "geom_type", "coordinates")


@query("signs_rest_stream_pipeline", oracle=_REST_PIPELINE_ORACLE)
def signs_rest_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 as a STREAM: `readStream.format("rest_signs")` pages through the
    chain with the page offset as checkpointed stream progress
    (sources/rest.py::RestSignsStreamReader), then the same A2→A3→A5
    transform runs per micro-batch."""
    from ..sources.rest import register_rest_source
    from ..streaming.queries import run_to_completion

    register_rest_source(spark)
    stream = (
        spark.readStream.format("rest_signs")
        .option("transport", "file")
        .option("path", _PAGES_DIR)
        .load()
    )
    out = signs_pipeline(stream, ["Point", "LineString", "Polygon"]).select(
        "id", "geom_type", "coordinates"
    )
    return run_to_completion(
        out, "mem_signs_rest_stream", "append", available_now=False
    )


@query(
    "signs_explode_only",
    # Same inline CTE as signs_pipeline_inline without the final allow-list
    # filter: A3 in isolation, so Multi→member rows (MultiPoint s4 → 3
    # Points) and the empty-coordinates zero-row case are hash-checked too.
    oracle=f"WITH {_INLINE_FEATURES_CTE},{_EXPLODED_CTES} SELECT * FROM exploded",
)
def signs_explode_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 explode in isolation (incl. pass-through of non-Multi rows)."""
    df = spark.createDataFrame(
        _INLINE_FEATURES, "id string, geom_type string, coordinates string"
    )
    return explode_multi(df)


@query(
    "signs_allowlist_matrix",
    # A4 as data: every 2^3 flag state and the allow-list it produces
    # (task.ts:103-106). The oracle is the truth table spelled out.
    oracle="""
    SELECT * FROM (VALUES
        (0, 0, 0, ''),
        (0, 0, 1, 'Polygon'),
        (0, 1, 0, 'LineString'),
        (0, 1, 1, 'LineString,Polygon'),
        (1, 0, 0, 'Point'),
        (1, 0, 1, 'Point,Polygon'),
        (1, 1, 0, 'Point,LineString'),
        (1, 1, 1, 'Point,LineString,Polygon')
    ) AS t(point_flag, linestring_flag, polygon_flag, allowed)
    """,
)
def signs_allowlist_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 allow-list construction, driver-checked over all 8 flag states."""
    from ..config import SignsConfig

    rows = []
    for p in (0, 1):
        for ls in (0, 1):
            for pg in (0, 1):
                cfg = SignsConfig(
                    cotrip_token="t", point=bool(p), linestring=bool(ls), polygon=bool(pg)
                )
                rows.append((p, ls, pg, ",".join(cfg.allowed_types())))
    return spark.createDataFrame(
        rows, "point_flag int, linestring_flag int, polygon_flag int, allowed string"
    )


@query(
    "signs_capabilities_matrix",
    # A7 as data: the declared incoming-schema property names and types
    # (task.ts:18-48's TypeBox schema), plus the empty outgoing flow.
    oracle="""
    SELECT * FROM (VALUES
        ('incoming', 'activationTime', 'string'),
        ('incoming', 'communicationStatus', 'string'),
        ('incoming', 'direction', 'string'),
        ('incoming', 'displayStatus', 'string'),
        ('incoming', 'id', 'string'),
        ('incoming', 'lastUpdated', 'string'),
        ('incoming', 'marker', 'double'),
        ('incoming', 'messageMarkup', 'string'),
        ('incoming', 'messagePreview', 'string'),
        ('incoming', 'messageText', 'string'),
        ('incoming', 'name', 'string'),
        ('incoming', 'nativeId', 'string'),
        ('incoming', 'publicName', 'string'),
        ('incoming', 'routeName', 'string'),
        ('incoming', 'speed', 'double'),
        ('incoming', 'submittedBy', 'string')
    ) AS t(flow, prop, dtype)
    """,
)
def signs_capabilities_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 capabilities schema, driver-checked: one row per declared
    incoming property; the outgoing flow contributes zero rows."""
    from ..sources.geojson import capabilities_schema

    rows = []
    for flow in ("incoming", "outgoing"):
        for f in capabilities_schema(flow).fields:
            rows.append((flow, f.name, f.dataType.simpleString()))
    return spark.createDataFrame(rows, "flow string, prop string, dtype string")


@query(
    "signs_pipeline_observed_counts",
    # A9 as data: the observe() metric values for the inline feature set —
    # 7 features in, 10 single-geometry rows out (explode +5, empty-Multi
    # -1, allow-list keeps all three types).
    oracle="SELECT CAST(7 AS BIGINT) AS n_features_in, CAST(10 AS BIGINT) AS n_features_out",
)
def signs_pipeline_observed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 observability, driver-visible: the pipeline's in/out row counts
    read from real `Observation` metrics (one job, no second pass — the
    counters the reference printed per run, task.ts:61,73, minus its
    unconditional per-row console dump bug at :77)."""
    from pyspark.sql import Observation

    from .signs import explode_multi, filter_geometry, project_features

    df = spark.createDataFrame(
        _INLINE_FEATURES, "id string, geom_type string, coordinates string"
    ).withColumn("properties", F.create_map(F.lit("id"), F.col("id")))
    obs_in, obs_out = Observation("signs_in"), Observation("signs_out")
    observed_in = project_features(df).observe(
        obs_in, F.count(F.lit(1)).alias("n")
    )
    out = filter_geometry(
        explode_multi(observed_in), ["Point", "LineString", "Polygon"]
    ).observe(obs_out, F.count(F.lit(1)).alias("n"))
    out.write.format("noop").mode("overwrite").save()  # one action fires both
    return spark.createDataFrame(
        [(obs_in.get["n"], obs_out.get["n"])],
        "n_features_in long, n_features_out long",
    )


@query(
    "signs_http_sink_roundtrip",
    # A6 as data: the per-partition batched sink POSTs the 12-row fixture
    # pipeline output over REAL HTTP (loopback server, actual urllib
    # transport) in <=5-feature batches; the receiver's tally is the
    # oracle-checked result.
    oracle="SELECT CAST(12 AS BIGINT) AS n_features, CAST(true AS BOOLEAN) AS batches_bounded",
)
def signs_http_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 HTTP batch sink, driver-visible end-to-end: pipeline output →
    foreachPartition POSTs (batch_size=5) → loopback HTTP server →
    (total features received, every batch within bound). The reference's
    single driver-side POST (task.ts:115) is the compat path
    (sinks/http.py::submit_single_collection); this exercises the scale
    path over a real socket."""
    import http.server
    import json as _json
    import threading

    from ..sinks.http import http_batch_sink
    from ..sources.rest import file_fetcher, read_signs
    from .signs import signs_pipeline

    received: list[int] = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 - stdlib naming
            n = int(self.headers.get("Content-Length", 0))
            payload = _json.loads(self.rfile.read(n))
            received.append(len(payload.get("features", [])))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *args):  # silence request logging
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/submit"
        df = read_signs(spark, file_fetcher(_PAGES_DIR))
        out = signs_pipeline(df, ["Point", "LineString", "Polygon"])
        # coalesce: local[32] would spread 12 rows over 32 near-empty
        # partitions; at scale partitions are full and coalesce is a no-op
        http_batch_sink(out.coalesce(2), url, batch_size=5)
    finally:
        srv.shutdown()
        thread.join(timeout=5)
        srv.server_close()
    return spark.createDataFrame(
        [(sum(received), max(received) <= 5 if received else False)],
        "n_features long, batches_bounded boolean",
    )


@query(
    "signs_config_validation",
    # A8 as data: defaulted, explicit, and invalid configs and what the
    # validator does with each (task.ts:51-55's required-token raise).
    oracle="""
    SELECT * FROM (VALUES
        ('defaults',      'ok',    'Point,LineString,Polygon', 0),
        ('explicit',      'ok',    'Point',                    1),
        ('missing_token', 'error', '',                         0)
    ) AS t(case_name, outcome, allowed, debug_flag)
    """,
)
def signs_config_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 config read/validate, driver-visible: construct configs the three
    ways a deployment does (all defaults; explicit flags; missing token)
    and emit the validation outcome for each."""
    from ..config import ConfigError, SignsConfig

    rows = []
    cfg = SignsConfig(cotrip_token="t")
    rows.append(("defaults", "ok", ",".join(cfg.allowed_types()), int(cfg.debug)))
    cfg = SignsConfig(
        cotrip_token="t", point=True, linestring=False, polygon=False, debug=True
    )
    rows.append(("explicit", "ok", ",".join(cfg.allowed_types()), int(cfg.debug)))
    try:
        SignsConfig(cotrip_token="")
        rows.append(("missing_token", "MISSED", "", 0))
    except ConfigError:
        rows.append(("missing_token", "error", "", 0))
    return spark.createDataFrame(
        rows, "case_name string, outcome string, allowed string, debug_flag int"
    )


@query("signs_datasource_writer_sink", oracle=_REST_PIPELINE_ORACLE)
def signs_datasource_writer_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 through the Spark 4 Python DataSource WRITER: the reference
    pipeline's output written with `df.write.format("signs_sink")` —
    executor-side bounded FeatureCollection batches staged per task, an
    all-or-nothing manifest commit (sinks/http.py::SignsSinkWriter) — then
    the committed batches read back and re-projected to the same canonical
    rows the REST-pipeline oracle checks. An uncommitted/aborted write
    leaves no manifest and the read-back sees nothing: the exactly-once
    property is what this query proves end-to-end.

    (The read-back parse is a driver-side loop over the handful of staged
    fixture files — the distributed artifact under test is the write path;
    a real deployment swaps the staged files for HTTP POSTs.)"""
    import json as _json
    import os
    import shutil

    from ..session import scratch_dir
    from ..sinks.http import SignsSinkDataSource

    out = signs_pipeline(
        read_signs(spark, file_fetcher(_PAGES_DIR)),
        ["Point", "LineString", "Polygon"],
    )
    sink_dir = scratch_dir("signs_sink", sf_dir)
    shutil.rmtree(sink_dir, ignore_errors=True)
    spark.dataSource.register(SignsSinkDataSource)
    (
        out.write.format("signs_sink")
        .option("path", sink_dir)
        .option("batch_size", "4")
        .mode("append")
        .save()
    )
    with open(os.path.join(sink_dir, "_MANIFEST.json")) as fh:
        committed = _json.load(fh)["committed"]
    rows = []
    for p in committed:
        with open(p) as fh:
            fc = _json.load(fh)
        assert fc["type"] == "FeatureCollection"
        for feat in fc["features"]:
            rows.append(
                (
                    feat["id"],
                    feat["geometry"]["type"],
                    _json.dumps(
                        feat["geometry"]["coordinates"], separators=(",", ":")
                    ),
                )
            )
    return spark.createDataFrame(
        rows, "id string, geom_type string, coordinates string"
    )


@query("signs_udtf_pipeline", oracle=_REST_PIPELINE_ORACLE)
def signs_udtf_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 through the Python UDTF form (`LATERAL fetch_signs_page(...)`) —
    executors fetch pages in parallel like the DataSource variant, but the
    paginator composes inside any SQL query. The page set is discovered by
    a cheap serial header-chain walk (offsets only, payloads discarded),
    then the UDTF refetches pages in parallel; the same A2→A3→A5 transform
    runs on top and the REST-pipeline oracle checks the result, giving the
    UDTF path hard driver evidence instead of pytest-only."""
    from ..sources.rest import file_fetcher, iter_pages, read_signs_udtf

    # offset discovery: follow the chain recording each page's offset
    offsets = [offset for offset, _ in iter_pages(file_fetcher(_PAGES_DIR))]
    df = read_signs_udtf(spark, _PAGES_DIR, offsets)
    canonical = df.withColumn(
        "properties", F.lit(None).cast("map<string,string>")
    )
    out = signs_pipeline(canonical, ["Point", "LineString", "Polygon"])
    return out.select("id", "geom_type", "coordinates")
