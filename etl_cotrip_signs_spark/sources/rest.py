"""Paginated REST source (A1) — serial driver loop + parallel DataSource.

The reference fetches pages serially on one event loop, chasing the
``next-offset`` response header until it is absent or the literal string
``'None'`` (``task.ts:57-73``). Two implementations:

1. :func:`fetch_all_features` — faithful serial pagination at the driver
   boundary (pages must be discovered by following the header chain), then
   hand off to Spark via ``features_to_df``: the feature list goes to the
   JVM as an Arrow table of JSON-array chunks, with no Python worker in
   between, and executors parse it. This is the semantics-exact path.
2. :class:`RestSignsDataSource` — a Spark 4 Python Data Source that maps
   one *partition per page* so executors fetch pages in parallel. Because
   the header chain is inherently serial, the parallel reader takes the
   offset list up front (``offsets`` option — discovered by a cheap probe
   or arithmetic stride). This is the 100 TB-shape path: page fetch +
   parse scales out with the cluster.

Transports are injectable: ``http`` (urllib) or ``file`` (a directory of
``page_{offset}.json`` files, used by tests and the packaged fixture —
each file carries the payload and the simulated ``next-offset`` header).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .geojson import features_to_df

# A page fetcher: offset -> (payload dict with "features", next_offset | None).
FetchFn = Callable[[str | None], tuple[dict[str, Any], str | None]]


def _finite_numbers(offset: str | None) -> Callable[[str], Any]:
    """A page's ``parse_constant``: ``json`` accepts NaN/±Infinity, GeoJSON does not."""

    def reject(token: str) -> Any:
        raise ValueError(f"page at offset {offset!r} holds {token}: GeoJSON numbers must be finite")

    return reject


def file_fetcher(pages_dir: str) -> FetchFn:
    """Transport reading pages from disk; mirrors the header chain contract."""

    def fetch(offset: str | None) -> tuple[dict[str, Any], str | None]:
        name = f"page_{offset or '0'}.json"
        with open(os.path.join(pages_dir, name)) as fh:
            payload = json.load(fh, parse_constant=_finite_numbers(offset))
        return payload, payload.get("next_offset")

    return fetch


def http_fetcher(
    base_url: str,
    token: str,
    timeout: float = 30.0,
    max_retries: int = 3,
    backoff_base: float = 0.5,
    sleeper: Callable[[float], None] | None = None,
) -> FetchFn:
    """HTTP transport matching the reference URL/header contract
    (task.ts:62-67: `apiKey` query param, `offset` param, `next-offset`
    response header).

    Engine hardening beyond the reference (which lets any fetch error kill
    the Lambda run): transient failures retry with exponential backoff
    (0.5s, 1s, 2s, ...) before surfacing. Retrying a page GET is safe —
    pagination is read-only and offset-addressed, so a duplicate request
    cannot skip or double-deliver records. ``sleeper`` is injectable so
    tests assert the schedule without wall-clock sleeps."""
    do_sleep = sleeper if sleeper is not None else __import__("time").sleep

    def fetch(offset: str | None) -> tuple[dict[str, Any], str | None]:
        import urllib.error
        import urllib.parse
        import urllib.request

        params = {"apiKey": token}
        if offset is not None:
            params["offset"] = offset
        url = f"{base_url}?{urllib.parse.urlencode(params)}"
        last_err: Exception | None = None
        for attempt in range(max_retries + 1):
            if attempt:
                do_sleep(backoff_base * (2 ** (attempt - 1)))
            try:
                with urllib.request.urlopen(url, timeout=timeout) as res:
                    text = res.read().decode("utf-8")
                    payload = json.loads(text, parse_constant=_finite_numbers(offset))
                    next_offset = res.headers.get("next-offset")
                return payload, next_offset
            except urllib.error.HTTPError as e:
                # HTTPError subclasses URLError but carries a status: only
                # server-side/throttling statuses are transient; a 4xx
                # (bad apiKey, bad offset) will fail identically on every
                # retry — surface it immediately.
                if e.code >= 500 or e.code == 429:
                    last_err = e
                else:
                    raise
            except (urllib.error.URLError, TimeoutError, ConnectionError) as e:
                last_err = e
        raise last_err  # type: ignore[misc]  # max_retries >= 0 ⇒ set

    return fetch


def _chain_ends(next_offset: str | None) -> bool:
    """The end-of-chain rule (task.ts:64-72): the next-offset header is
    absent or the literal string 'None'."""
    return next_offset is None or next_offset == "None"


def iter_pages(fetch: FetchFn) -> Iterator[tuple[str | None, dict[str, Any]]]:
    """Serial pagination: ``(offset, payload)`` per page, following
    next-offset until :func:`_chain_ends`."""
    offset: str | None = None
    while True:
        payload, next_offset = fetch(offset)
        yield offset, payload
        if _chain_ends(next_offset):
            return
        offset = next_offset


def fetch_all_features(fetch: FetchFn) -> list[dict[str, Any]]:
    """Concatenate the `features` arrays of every page (task.ts:71)."""
    features: list[dict[str, Any]] = []
    for _, payload in iter_pages(fetch):
        features.extend(payload.get("features", []))
    return features


def read_signs(spark: SparkSession, fetch: FetchFn) -> DataFrame:
    """Serial-pagination source → canonical features DataFrame."""
    return features_to_df(spark, fetch_all_features(fetch))


# ---------------------------------------------------------------------------
# Parallel variant: Spark 4 Python Data Source (one partition per page).
# ---------------------------------------------------------------------------


def feature_row(feat: dict[str, Any]) -> tuple:
    """One GeoJSON feature dict → ``(id, geom_type, coordinates, properties)``.

    Reference precedence (task.ts:79): properties.id first, unconditionally;
    the top-level GeoJSON id is only a documented-extension fallback (same
    rule as operators/signs.py project_features). Explicit None checks: a
    falsy-but-present id ('' / 0) is still an id, and every id is
    stringified into the string-typed column."""
    geom = feat.get("geometry") or {}
    props = feat.get("properties") or {}
    feat_id = props.get("id")
    if feat_id is None:
        feat_id = feat.get("id")
    return (
        None if feat_id is None else str(feat_id),
        geom.get("type"),
        json.dumps(geom.get("coordinates"), separators=(",", ":"), allow_nan=False),
        {str(k): (None if v is None else str(v)) for k, v in props.items()},
    )


def options_fetcher(options: dict[str, str]) -> FetchFn:
    """The transport a data source's options name: ``file`` or ``http``."""
    if options.get("transport", "http") == "file":
        return file_fetcher(options["path"])
    return http_fetcher(
        options.get("base_url", "https://data.cotrip.org/api/v1/signs"),
        options.get("token", ""),
    )


class _PagePartition(InputPartition):
    def __init__(self, offset: str | None):
        self.offset = offset


class RestSignsReader(DataSourceReader):
    def __init__(self, options: dict[str, str]):
        self.options = options

    def partitions(self) -> list[InputPartition]:
        offsets = self.options.get("offsets")
        if offsets:
            return [
                _PagePartition(o if o != "" else None)
                for o in offsets.split(",")
            ]
        return [_PagePartition(None)]

    def read(self, partition: _PagePartition):  # type: ignore[override]
        payload, _ = options_fetcher(self.options)(partition.offset)
        for feat in payload.get("features", []):
            yield feature_row(feat)


_STREAM_DONE = "__done__"


class RestSignsStreamReader(SimpleDataSourceStreamReader):
    """Streaming pagination: the reference's serial next-offset loop
    (task.ts:64-72) re-expressed as stream PROGRESS — each micro-batch
    ingests exactly one page, and the page offset IS the stream offset,
    checkpointed by Spark. A restart resumes from the last committed
    page instead of re-fetching the whole chain; `availableNow` drains
    the chain then stops (the scheduled-Lambda shape, A1+E2, as a
    streaming query)."""

    def __init__(self, options: dict[str, str]):
        self.options = options

    def initialOffset(self) -> dict:
        return {"page": ""}  # '' = first page (fetched with offset=None)

    def _page_rows(self, page_offset: str):
        payload, next_off = options_fetcher(self.options)(page_offset or None)
        rows = [feature_row(feat) for feat in payload.get("features", [])]
        return rows, (_STREAM_DONE if _chain_ends(next_off) else next_off)

    def read(self, start: dict):
        page = start["page"]
        if page == _STREAM_DONE:
            return iter([]), start  # chain drained; offset stops advancing
        rows, nxt = self._page_rows(page)
        return iter(rows), {"page": nxt}

    def readBetweenOffsets(self, start: dict, end: dict):
        # Recovery replay: re-fetch the page the start offset names.
        if start["page"] == _STREAM_DONE:
            return iter([])
        rows, _ = self._page_rows(start["page"])
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # offsets are checkpointed by the engine; nothing to ack


class RestSignsDataSource(DataSource):
    """`spark.read.format("rest_signs")` — parallel paginated REST scan;
    `spark.readStream.format("rest_signs")` — one page per micro-batch."""

    @classmethod
    def name(cls) -> str:
        return "rest_signs"

    def schema(self) -> str:
        return (
            "id string, geom_type string, coordinates string, "
            "properties map<string,string>"
        )

    def reader(self, schema) -> DataSourceReader:  # type: ignore[override]
        return RestSignsReader(self.options)

    def simpleStreamReader(self, schema):  # type: ignore[override]
        return RestSignsStreamReader(self.options)


def read_signs_udtf(spark: SparkSession, pages_dir: str, offsets: list[str | None]) -> DataFrame:
    """UDTF variant of the paginated scan: one table-function call per page
    offset via a lateral join — executors fetch pages in parallel, like the
    DataSource variant, but composable inside any SQL query."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="id string, geom_type string, coordinates string")
    class FetchPage:
        def eval(self, pages_dir: str, offset: str):
            payload, _ = file_fetcher(pages_dir)(offset or None)
            for feat in payload.get("features", []):
                yield feature_row(feat)[:3]

    spark.udtf.register("fetch_signs_page", FetchPage)
    offsets_df = spark.createDataFrame(
        [(o or "",) for o in offsets], "offset string"
    )
    offsets_df.createOrReplaceTempView("signs_offsets")
    return spark.sql(
        f"""
        SELECT f.* FROM signs_offsets,
        LATERAL fetch_signs_page('{pages_dir}', signs_offsets.offset) f
        """
    )


def register_rest_source(spark: SparkSession) -> None:
    """Register the parallel REST data source with a session."""
    spark.dataSource.register(RestSignsDataSource)
