"""Spark 4 Python Data Source STREAMING writer — the fourth quadrant of
the custom-connector surface (batch read: RestSignsDataSource; stream
read: RestSignsStreamReader; batch write: SignsSinkDataSource; stream
write: this) [EXT — engine surface breadth].

Per micro-batch, each task stages one JSONL file under a (batch, task)-
unique name and returns its path in the commit message; ``commit(batchId)``
then publishes a per-batch manifest listing exactly the staged files of
that batch — the same two-phase discipline as Spark's file-sink commit
log, expressed through the Python API. A read-back that honors manifests
only (ignore unreferenced staging files) gets exactly-once semantics on
replay: a re-run micro-batch re-stages under new names, but commit
overwrites the SAME _manifest_<batchId>.json, so duplicates are never
referenced.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)


@dataclass
class _StagedFile(WriterCommitMessage):
    path: str
    n_rows: int


class JsonlStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict[str, str]):
        self.out_dir = options["path"]

    def write(self, it):
        os.makedirs(self.out_dir, exist_ok=True)
        p = os.path.join(self.out_dir, f"staged_{uuid.uuid4().hex[:12]}.jsonl")
        n = 0
        with open(p, "w") as fh:
            for row in it:
                fh.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _StagedFile(path=p, n_rows=n)

    def commit(self, messages, batchId: int):
        files = sorted(m.path for m in messages if m is not None)
        manifest = os.path.join(self.out_dir, f"_manifest_{batchId}.json")
        with open(manifest, "w") as fh:
            json.dump({"batch": batchId, "committed": files}, fh)

    def abort(self, messages, batchId: int):
        pass  # staged files are unreferenced without a manifest


class JsonlStreamSinkDataSource(DataSource):
    """`df.writeStream.format("jsonl_stream_sink").option("path", d)`."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_stream_sink"

    def streamWriter(self, schema, overwrite: bool):  # type: ignore[override]
        return JsonlStreamWriter(self.options)


def committed_files(out_dir: str) -> list[str]:
    """Union of all per-batch manifests — the ONLY files a consumer may
    read. Staging files not listed here are uncommitted garbage."""
    files: list[str] = []
    for m in sorted(glob.glob(f"{out_dir}/_manifest_*.json")):
        with open(m) as fh:
            files.extend(json.load(fh)["committed"])
    return files
