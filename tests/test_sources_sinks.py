"""Unit tests for the REST source (A1) and HTTP sink (A6)."""

from __future__ import annotations

import glob
import json
import os
import re

from etl_cotrip_signs_spark.operators.signs import signs_pipeline
from etl_cotrip_signs_spark.sinks.http import (
    http_batch_sink,
    rows_to_feature_collection,
    submit_single_collection,
)
from etl_cotrip_signs_spark.sources import geojson
from etl_cotrip_signs_spark.sources.rest import (
    fetch_all_features,
    file_fetcher,
    iter_pages,
    read_signs,
    read_signs_udtf,
    register_rest_source,
)

PAGES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "etl_cotrip_signs_spark", "data", "signs_pages",
)


def test_pagination_follows_chain_until_none_sentinel():
    pages = list(iter_pages(file_fetcher(PAGES_DIR)))
    assert len(pages) == 3  # chain 0 -> 4 -> 7 -> 'None' sentinel stops
    feats = fetch_all_features(file_fetcher(PAGES_DIR))
    assert len(feats) == 9
    assert [f["id"] for f in feats[:2]] == ["s1", "s2"]


def test_read_signs_schema_and_geometry_encoding(spark):
    df = read_signs(spark, file_fetcher(PAGES_DIR))
    assert df.columns == ["id", "geom_type", "coordinates", "properties"]
    rows = {r["id"]: r for r in df.collect()}
    assert rows["s1"]["geom_type"] == "Point"
    assert json.loads(rows["s1"]["coordinates"]) == [-105.1, 39.7]
    assert rows["s1"]["properties"]["routeName"] == "I-70"


def test_read_signs_parses_in_a_generate_over_the_local_table(spark):
    # The feature list reaches the JVM as Arrow data: the leaf is the local
    # table, not the RDD of pickled lines that Python workers relay, and the
    # JSON parse runs on executors inside the Generate (a Project would be
    # folded into driver-side evaluation by ConvertToLocalRelation).
    df = read_signs(spark, file_fetcher(PAGES_DIR))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Generate explode\(from_json.*\n\s*\+- LocalTableScan", plan), plan
    assert "Scan ExistingRDD" not in plan


def test_features_to_df_spreads_a_small_list_over_the_cores(spark):
    # A list too short for one full chunk per core is cut into smaller
    # chunks, so the parse and the sink's per-partition POSTs do not collapse
    # into a single task: more than half the cores (or features) get a
    # partition, and no partition is empty.
    cores = spark.sparkContext.defaultParallelism
    for n in (1, 9, 2 * cores + 1):
        features = [{"id": str(i), "geometry": None, "properties": {}} for i in range(n)]
        sizes = geojson.features_to_df(spark, features).rdd.glom().map(len).collect()
        assert sum(sizes) == n and min(sizes) > 0, sizes
        assert min(n, cores) < 2 * len(sizes) <= 2 * min(n, cores), sizes


def _sign(sid, geom_type, coordinates):
    props = {
        "communicationStatus": "OK", "direction": "N", "id": sid,
        "lastUpdated": "2026-01-01T00:00:00Z", "marker": "123.5",
        "messageText": f"msg {sid}", "name": f"sign {sid}",
        "nativeId": f"n{sid}", "routeName": "I-70", "speed": "55",
    }
    return (sid, geom_type, coordinates, props)


# What one per-feature from_json parse gives for each input, in input order.
_PACKAGED_ROWS = [
    _sign("s1", "Point", "[-105.1,39.7]"),
    _sign("s2", "LineString", "[[-105.1,39.7],[-105.2,39.8]]"),
    _sign("s3", "Polygon", "[[[-105.0,39.0],[-105.5,39.0],[-105.5,39.5],[-105.0,39.0]]]"),
    _sign("s4", "MultiPoint", "[[-104.9,38.8],[-104.8,38.9],[-104.7,39.1]]"),
    _sign("s5", "MultiLineString", "[[[-105.1,39.7],[-105.2,39.8]],[[-106.0,40.0],[-106.1,40.1]]]"),
    _sign(
        "s6", "MultiPolygon",
        "[[[[-105.0,39.0],[-105.5,39.0],[-105.0,39.5],[-105.0,39.0]]],"
        "[[[-104.0,38.0],[-104.5,38.0],[-104.0,38.5],[-104.0,38.0]]]]",
    ),
    _sign("s7", "MultiPoint", "[]"),
    _sign("s8", "Point", "[-107.25,37.5]"),
    _sign("s9", "LineString", "[[-107.0,37.0],[-107.5,37.25],[-108.0,37.5]]"),
]
_HOSTILE_FEATURES = [
    {"id": "g", "geometry": "x", "properties": {"k": "v"}},
    {"id": "l", "geometry": {"type": "Point", "coordinates": [1, 2]}, "properties": [1, 2]},
    None,
    {"id": 7, "geometry": {"type": "Point", "coordinates": [1.5, 2]}, "properties": {}},
    {"id": "n", "geometry": {"type": "Point", "coordinates": [1, 2]}, "properties": {"o": {"n": 1}}},
    "not a feature",  # shares a chunk with "n", which must survive it
    [1, 2],
]
_HOSTILE_ROWS = [
    ("g", None, None, {"k": "v"}),
    ("l", "Point", "[1,2]", None),
    (None, None, None, None),
    ("7", "Point", "[1.5,2]", {}),
    ("n", "Point", "[1,2]", {"o": '{"n":1}'}),
    (None, None, None, None),
    (None, None, None, None),
]


def test_features_to_df_matches_per_feature_parse_across_chunks(spark, monkeypatch):
    monkeypatch.setattr(geojson, "FEATURES_PER_CHUNK", 2)
    packaged = fetch_all_features(file_fetcher(PAGES_DIR))
    for features, want in ((packaged, _PACKAGED_ROWS), (_HOSTILE_FEATURES, _HOSTILE_ROWS)):
        df = geojson.features_to_df(spark, features)
        assert df.schema == geojson.FEATURE_SCHEMA
        assert [tuple(r) for r in df.collect()] == want
    empty = geojson.features_to_df(spark, [])
    assert empty.schema == geojson.FEATURE_SCHEMA
    assert empty.collect() == []


def test_rest_pipeline_end_to_end(spark):
    df = read_signs(spark, file_fetcher(PAGES_DIR))
    out = signs_pipeline(df, ["Point", "LineString", "Polygon"])
    ids = sorted(r["id"] for r in out.collect())
    # s4 MultiPoint(3) → s4-0..2; s5 MultiLineString(2) → s5-0..1;
    # s6 MultiPolygon(2) → s6-0..1; s7 empty Multi → dropped.
    assert ids == [
        "s1", "s2", "s3",
        "s4-0", "s4-1", "s4-2",
        "s5-0", "s5-1",
        "s6-0", "s6-1",
        "s8", "s9",
    ]


def test_parallel_datasource_matches_serial(spark):
    register_rest_source(spark)
    df = (
        spark.read.format("rest_signs")
        .option("transport", "file")
        .option("path", PAGES_DIR)
        .option("offsets", ",4,7")  # empty string = first page (no offset)
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    serial_ids = sorted(f["id"] for f in fetch_all_features(file_fetcher(PAGES_DIR)))
    assert sorted(r["id"] for r in df.collect()) == serial_ids


def test_http_batch_sink_posts_bounded_batches(spark, tmp_path):
    df = read_signs(spark, file_fetcher(PAGES_DIR)).coalesce(1)
    out_dir = str(tmp_path)

    def poster(url, payload):
        n = len(glob.glob(os.path.join(out_dir, "*.json")))
        with open(os.path.join(out_dir, f"post_{os.getpid()}_{n}.json"), "w") as fh:
            json.dump(payload, fh)

    http_batch_sink(df, "http://sink", batch_size=4, poster=poster)
    posts = [json.load(open(p)) for p in glob.glob(os.path.join(out_dir, "*.json"))]
    assert sum(len(p["features"]) for p in posts) == 9
    assert all(p["type"] == "FeatureCollection" for p in posts)
    assert all(len(p["features"]) <= 4 for p in posts)


def test_submit_single_collection_compat(spark):
    df = read_signs(spark, file_fetcher(PAGES_DIR))
    captured = []
    n = submit_single_collection(df, "http://sink", poster=lambda u, p: captured.append(p))
    assert n == 9
    assert len(captured) == 1
    fc = captured[0]
    assert fc["type"] == "FeatureCollection"
    feat = {f["id"]: f for f in fc["features"]}["s1"]
    assert feat["geometry"] == {"type": "Point", "coordinates": [-105.1, 39.7]}


def test_rows_to_feature_collection_shape():
    class R(dict):
        def __getitem__(self, k):
            return dict.__getitem__(self, k)

    rows = [R(id="a", geom_type="Point", coordinates="[1.5,2.5]", properties={"x": "1"})]
    fc = rows_to_feature_collection(rows)
    assert fc["features"][0]["properties"] == {"x": "1"}
    assert fc["features"][0]["geometry"]["coordinates"] == [1.5, 2.5]


class _FakeHttpResponse:
    """Minimal urllib response double: body bytes + case-insensitive headers."""

    def __init__(self, body: bytes, headers: dict):
        import email.message

        self._body = body
        self.headers = email.message.Message()
        for k, v in headers.items():
            self.headers[k] = v

    def read(self) -> bytes:
        return self._body

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _install_fake_urlopen(monkeypatch, seen_urls):
    """urllib-level double serving the packaged pages over the reference's
    URL/header contract: `apiKey` + `offset` query params in, `next-offset`
    response header out (including the literal 'None' sentinel on the last
    page, task.ts:64-72)."""
    import urllib.parse
    import urllib.request

    def fake_urlopen(url, timeout=None):
        seen_urls.append(url)
        q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        assert q["apiKey"] == ["test-token"], "apiKey must ride every request"
        offset = q.get("offset", [None])[0]
        with open(os.path.join(PAGES_DIR, f"page_{offset or '0'}.json")) as fh:
            payload = json.load(fh)
        next_offset = payload.get("next_offset")
        body = json.dumps({"features": payload["features"]}).encode()
        headers = {} if next_offset is None else {"next-offset": next_offset}
        return _FakeHttpResponse(body, headers)

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)


def test_http_transport_parity_with_file(monkeypatch):
    from etl_cotrip_signs_spark.sources.rest import http_fetcher

    seen: list[str] = []
    _install_fake_urlopen(monkeypatch, seen)
    via_http = fetch_all_features(
        http_fetcher("https://example.test/api/v1/signs", "test-token")
    )
    via_file = fetch_all_features(file_fetcher(PAGES_DIR))
    assert via_http == via_file
    # chain: first request has no offset, then offset=4, offset=7, stop at 'None'
    assert len(seen) == 3
    assert "offset" not in seen[0]
    assert "offset=4" in seen[1] and "offset=7" in seen[2]


def test_http_transport_stops_on_missing_header(monkeypatch):
    """A page with no next-offset header ends the chain (reference: header
    absent OR literal 'None', task.ts:64-72)."""
    import urllib.request

    from etl_cotrip_signs_spark.sources.rest import http_fetcher, iter_pages

    calls = []

    def fake_urlopen(url, timeout=None):
        calls.append(url)
        return _FakeHttpResponse(json.dumps({"features": [{"id": "x"}]}).encode(), {})

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    pages = list(iter_pages(http_fetcher("https://example.test/s", "t")))
    assert len(pages) == 1 and len(calls) == 1


def test_streaming_source_pages_per_microbatch(spark, tmp_path):
    """The stream reader maps one page per micro-batch (offset = page
    chain) and its union equals the serial batch scan."""
    register_rest_source(spark)
    stream = (
        spark.readStream.format("rest_signs")
        .option("transport", "file")
        .option("path", PAGES_DIR)
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("mem_rest_stream_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    got = {r["id"] for r in spark.table("mem_rest_stream_probe").collect()}
    want = {f["id"] for f in fetch_all_features(file_fetcher(PAGES_DIR))}
    assert got == want and len(got) == 9
    # one page per micro-batch: at least 3 non-empty batches in the progress log
    nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
    rows_per_batch = [p["numInputRows"] for p in nonempty]
    assert sorted(rows_per_batch) == [2, 3, 4], rows_per_batch


def test_datasource_reader_prefers_properties_id(spark, tmp_path):
    """End-to-end id precedence at the source (VERDICT r2 task 7): a feature
    carrying BOTH a top-level GeoJSON id and a differing properties.id must
    surface properties.id (task.ts:79 uses sign.properties.id
    unconditionally); top-level id remains the documented fallback. Every
    reader of the page agrees: batch DataSource, streaming DataSource, UDTF
    and the serial driver path."""
    pages = tmp_path / "pages"
    pages.mkdir()
    (pages / "page_0.json").write_text(json.dumps({
        "features": [
            {   # both ids, differing: properties.id must win
                "id": "top-level",
                "properties": {"id": "props-id"},
                "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
            },
            {   # only top-level id: documented fallback
                "id": "only-top",
                "properties": {},
                "geometry": {"type": "Point", "coordinates": [3.0, 4.0]},
            },
            {   # numeric properties id: stringified into the string column
                "properties": {"id": 42},
                "geometry": {"type": "Point", "coordinates": [5.0, 6.0]},
            },
        ],
    }))
    want = ["42", "only-top", "props-id"]
    register_rest_source(spark)
    for opts in ({"offsets": ""}, {}):  # explicit first-page offset + default
        df = (
            spark.read.format("rest_signs")
            .option("transport", "file")
            .option("path", str(pages))
            .options(**opts)
            .load()
        )
        assert sorted(r["id"] for r in df.collect()) == want
    stream = (
        spark.readStream.format("rest_signs")
        .option("transport", "file")
        .option("path", str(pages))
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("mem_rest_stream_ids")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    assert sorted(r["id"] for r in spark.table("mem_rest_stream_ids").collect()) == want
    udtf_df = read_signs_udtf(spark, str(pages), [None])
    assert sorted(r["id"] for r in udtf_df.collect()) == want
    # serial driver path goes through project_features, same precedence
    out = signs_pipeline(read_signs(spark, file_fetcher(str(pages))),
                         ["Point", "LineString", "Polygon"])
    assert sorted(r["id"] for r in out.collect()) == want


def test_http_fetcher_retries_with_backoff(monkeypatch):
    """Transient fetch failures retry on the exponential schedule and then
    succeed; a permanently failing endpoint surfaces the error after
    exhausting retries with the full schedule slept."""
    import urllib.error
    import urllib.request

    from etl_cotrip_signs_spark.sources.rest import http_fetcher

    calls = {"n": 0}

    def flaky_urlopen(url, timeout=None):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise urllib.error.URLError("transient")
        return _FakeHttpResponse(json.dumps({"features": [{"id": "x"}]}).encode(), {})

    monkeypatch.setattr(urllib.request, "urlopen", flaky_urlopen)
    sleeps: list[float] = []
    fetch = http_fetcher(
        "https://example.test/s", "t", max_retries=3, sleeper=sleeps.append
    )
    payload, nxt = fetch(None)
    assert payload["features"][0]["id"] == "x"
    assert calls["n"] == 3
    assert sleeps == [0.5, 1.0]  # exponential: slept before attempts 2 and 3

    # permanent failure: all retries consumed, error surfaces
    calls["n"] = -1000
    sleeps.clear()

    def dead_urlopen(url, timeout=None):
        raise urllib.error.URLError("down")

    monkeypatch.setattr(urllib.request, "urlopen", dead_urlopen)
    fetch = http_fetcher(
        "https://example.test/s", "t", max_retries=2, sleeper=sleeps.append
    )
    import pytest

    with pytest.raises(urllib.error.URLError):
        fetch(None)
    assert sleeps == [0.5, 1.0]


def test_http_fetcher_4xx_fails_fast_5xx_retries(monkeypatch):
    """Permanent client errors (401) surface immediately with zero sleeps;
    server errors (503) retry like transient network failures."""
    import io
    import urllib.error
    import urllib.request

    import pytest

    from etl_cotrip_signs_spark.sources.rest import http_fetcher

    def err(code):
        return urllib.error.HTTPError("u", code, "err", {}, io.BytesIO(b""))

    calls = {"n": 0}
    monkeypatch.setattr(
        urllib.request, "urlopen",
        lambda url, timeout=None: (_ for _ in ()).throw(err(401)),
    )
    sleeps: list[float] = []
    with pytest.raises(urllib.error.HTTPError):
        http_fetcher("https://e.test/s", "t", max_retries=3, sleeper=sleeps.append)(None)
    assert sleeps == []  # no retry on 4xx

    def flaky_503(url, timeout=None):
        calls["n"] += 1
        if calls["n"] <= 1:
            raise err(503)
        return _FakeHttpResponse(json.dumps({"features": []}).encode(), {})

    monkeypatch.setattr(urllib.request, "urlopen", flaky_503)
    payload, _ = http_fetcher(
        "https://e.test/s", "t", max_retries=3, sleeper=sleeps.append
    )(None)
    assert payload == {"features": []}
    assert sleeps == [0.5]  # one retry before success


def test_file_fetcher_rejects_non_finite_numbers(tmp_path):
    """`json` accepts NaN/Infinity tokens; GeoJSON numbers must be finite,
    so a page holding one fails at the fetch, naming its offset."""
    import pytest

    (tmp_path / "page_4.json").write_text(
        '{"features": [{"properties": {"id": "a"}, "geometry": '
        '{"type": "Point", "coordinates": [1.0, NaN]}}], "next_offset": "None"}'
    )
    with pytest.raises(ValueError, match=r"offset '4' holds NaN: .*must be finite"):
        file_fetcher(str(tmp_path))("4")


def test_nan_coordinates_raise_instead_of_posting_a_string(spark):
    """A NaN a caller puts in a feature dict raises at the hand-off to Spark
    (and in the DataSource row builder) instead of reaching the sink as the
    string "NaN"."""
    import pytest

    from etl_cotrip_signs_spark.sources.rest import feature_row

    feat = {
        "properties": {"id": "a"},
        "geometry": {"type": "Point", "coordinates": [1.0, float("nan")]},
    }
    with pytest.raises(ValueError, match="not JSON compliant"):
        geojson.features_to_df(spark, [feat])
    with pytest.raises(ValueError, match="not JSON compliant"):
        feature_row(feat)
