"""HTTP batch sink (A6) — the reference's `submit(FeatureCollection)` step.

The reference wraps all surviving features in one FeatureCollection and
POSTs it in a single driver-side call (``/root/reference/task.ts:108-115``,
O(dataset) driver memory). At scale that is the wrong shape, so the engine
POSTs *per partition in bounded batches* via ``foreachPartition`` — each
executor ships its own FeatureCollections; the driver never materializes
the dataset. A ``collect``-based compat mode reproduces the reference's
single-collection behavior for small results.

The poster is injectable for tests (and because this container has no
network egress).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage

Poster = Callable[[str, dict[str, Any]], None]


def default_poster(url: str, payload: dict[str, Any]) -> None:  # pragma: no cover
    import urllib.request

    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    urllib.request.urlopen(req, timeout=30)


def rows_to_feature_collection(rows: list[Any]) -> dict[str, Any]:
    """Wrap canonical feature rows in a GeoJSON FeatureCollection
    (task.ts:108-113)."""
    feats = []
    for r in rows:
        feats.append(
            {
                "id": r["id"],
                "type": "Feature",
                "properties": dict(r["properties"]) if r["properties"] else {},
                "geometry": {
                    "type": r["geom_type"],
                    "coordinates": json.loads(r["coordinates"]),
                },
            }
        )
    return {"type": "FeatureCollection", "features": feats}


def feature_collections(rows: Iterable[Any], batch_size: int) -> Iterator[dict[str, Any]]:
    """Bounded FeatureCollection batches of at most ``batch_size`` rows, in
    row order — the one batching loop behind both executor-side sinks."""
    batch: list[Any] = []
    for row in rows:
        batch.append(row)
        if len(batch) >= batch_size:
            yield rows_to_feature_collection(batch)
            batch = []
    if batch:
        yield rows_to_feature_collection(batch)


def http_batch_sink(
    df: DataFrame,
    url: str,
    batch_size: int = 1000,
    poster: Poster | None = None,
) -> None:
    """Distributed sink: per-partition bounded-batch POSTs (the scale path)."""
    post = poster or default_poster

    def handle_partition(rows: Iterator[Any]) -> None:
        for fc in feature_collections(rows, batch_size):
            post(url, fc)

    df.foreachPartition(handle_partition)


def submit_single_collection(
    df: DataFrame, url: str, poster: Poster | None = None
) -> int:
    """Reference-compat sink: one FeatureCollection POST from the driver
    (task.ts:108-115). Only for small results — documents the reference's
    O(dataset) driver-memory behavior rather than hiding it."""
    rows = df.collect()
    (poster or default_poster)(url, rows_to_feature_collection(rows))
    return len(rows)


# ---------------------------------------------------------------------------
# Spark 4 Python DataSource WRITER variant of the sink: df.write.format(...)
# with commit/abort semantics (executor-side batching like http_batch_sink,
# plus an all-or-nothing commit protocol the foreachPartition form lacks).
# ---------------------------------------------------------------------------


@dataclass
class _BatchesWritten(WriterCommitMessage):
    part_paths: list[str]


class SignsSinkWriter(DataSourceWriter):
    """Per-task writer: rows → bounded FeatureCollection batches →
    one staged JSON file per batch (the file stands in for the POST; a
    real deployment swaps the file write for default_poster). Tasks
    stage under a task-unique prefix
    and `commit` publishes a manifest; `abort` leaves only unreferenced
    staging files — the same two-phase discipline as Spark's file
    sinks, applied to an HTTP-ish destination."""

    def __init__(self, options: dict[str, str]):
        self.out_dir = options["path"]
        self.batch_size = int(options.get("batch_size", "1000"))

    def write(self, it):
        os.makedirs(self.out_dir, exist_ok=True)
        task_tag = uuid.uuid4().hex[:12]
        paths: list[str] = []
        for n, fc in enumerate(feature_collections(it, self.batch_size)):
            p = os.path.join(self.out_dir, f"staged_{task_tag}_{n}.json")
            with open(p, "w") as fh:
                json.dump(fc, fh)
            paths.append(p)
        return _BatchesWritten(part_paths=paths)

    def commit(self, messages):
        manifest = sorted(
            p for m in messages if m is not None for p in m.part_paths
        )
        with open(os.path.join(self.out_dir, "_MANIFEST.json"), "w") as fh:
            json.dump({"committed": manifest}, fh)

    def abort(self, messages):
        pass  # staged files are unreferenced without a manifest


class SignsSinkDataSource(DataSource):
    """`df.write.format("signs_sink").option("path", dir).save()`."""

    @classmethod
    def name(cls) -> str:
        return "signs_sink"

    def writer(self, schema, overwrite: bool):  # type: ignore[override]
        return SignsSinkWriter(self.options)
