"""Custom Python DataSource WRITER (Spark 4 ``pyspark.sql.datasource``)
— the sink half of the DataSource surface (sources/rest.py covers the
batch + streaming read halves).

The reference loads via driver-side SQLAlchemy batch inserts
(/root/reference/app/salesforce_extractor.py:197-230); a Spark-native
sink instead writes from EVERY executor in parallel with a two-phase
commit, which is what this implements, JSON-lines-over-files standing
in for the DB wire protocol:

 - ``write(iterator)`` runs per task: rows stream to a staging part
   file named by (task, attempt) so task retries can't collide, and the
   task returns a commit message (path, row count).
 - ``commit(messages)`` runs once on the driver AFTER every task
   succeeded: staging files rename into the target directory and a
   ``_SUCCESS`` manifest records the file list + total row count.
   Readers only trust directories with the manifest — so a killed job
   leaves garbage staging files, never a half-visible dataset: the
   manifest is renamed into place last, after every part is.
 - ``abort(messages)`` removes staging output.

This is the same commit protocol Spark's file sinks use (v1 Hadoop
commit), expressed through the public Python API so any bespoke target
(a paginated REST bulk endpoint, a vector DB, a feature store) can sit
behind it. At scale the only driver-side work is the rename loop —
O(tasks), zero data movement.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)

__all__ = ["JsonLinesSinkDataSource", "read_manifest", "read_stream_manifests"]


@dataclass
class _PartCommit(WriterCommitMessage):
    staged_path: str
    n_rows: int


class _JsonLinesWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.path = options.get("path") or options["target"]
        self.overwrite = overwrite

    def write(self, iterator: Iterator) -> _PartCommit:  # executor-side
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        part = os.path.join(staging, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(part, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), default=str, sort_keys=True))
                f.write("\n")
                n += 1
        return _PartCommit(staged_path=part, n_rows=n)

    def commit(self, messages: list[_PartCommit]) -> None:  # driver-side
        if self.overwrite:
            for name in os.listdir(self.path):
                if name.startswith("part-") or name == "_SUCCESS":
                    os.remove(os.path.join(self.path, name))
        files, total = [], 0
        for m in messages:
            final = os.path.join(self.path, os.path.basename(m.staged_path))
            os.rename(m.staged_path, final)
            files.append(os.path.basename(final))
            total += m.n_rows
        manifest = {"files": sorted(files), "n_rows": total}
        tmp = os.path.join(self.path, f"_SUCCESS.tmp{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, os.path.join(self.path, "_SUCCESS"))
        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)

    def abort(self, messages: list[_PartCommit]) -> None:
        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)


class _JsonLinesStreamWriter(DataSourceStreamWriter):
    """STREAMING half of the sink (Spark 4 ``streamWriter``): the same
    stage-then-commit protocol per MICRO-BATCH, with the batch id as
    the idempotence key — exactly the contract a transactional target
    (DB transaction per epoch, bulk-API job per epoch) sits behind.

    - ``write(iterator)`` per task: rows stage under ``_staging``.
    - ``commit(messages, batchId)`` on the driver once per successful
      batch: any files from a PREVIOUS attempt of this batchId are
      removed first (restart after a commit-crash re-runs the batch —
      replace, don't duplicate), staged parts rename to
      ``batch-<id>-part-*`` and a ``_SUCCESS.<id>`` manifest publishes
      them. Readers trust only manifested files, so a crash anywhere
      leaves the previous batches fully visible and the failed batch
      fully invisible — exactly-once end to end.
    - ``abort(messages, batchId)`` drops staging only.
    """

    def __init__(self, options: dict):
        self.path = options.get("path") or options["target"]

    def write(self, iterator: Iterator) -> _PartCommit:  # executor-side
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        part = os.path.join(staging, f"spart-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(part, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), default=str, sort_keys=True))
                f.write("\n")
                n += 1
        return _PartCommit(staged_path=part, n_rows=n)

    def commit(self, messages, batchId: int) -> None:  # driver-side
        for name in os.listdir(self.path):  # replace a re-run batch
            if name.startswith(f"batch-{batchId}-part-"):
                os.remove(os.path.join(self.path, name))
        files, total = [], 0
        for i, m in enumerate(msg for msg in messages if msg is not None):
            final = os.path.join(self.path, f"batch-{batchId}-part-{i:05d}.jsonl")
            os.rename(m.staged_path, final)
            files.append(os.path.basename(final))
            total += m.n_rows
        manifest = {"batch_id": batchId, "files": sorted(files), "n_rows": total}
        tmp = os.path.join(self.path, f"_SUCCESS.{batchId}.tmp{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, os.path.join(self.path, f"_SUCCESS.{batchId}"))
        # micro-batches are sequential per stream: staging is empty of
        # other batches' parts once this one committed
        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)

    def abort(self, messages, batchId: int) -> None:
        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)


class JsonLinesSinkDataSource(DataSource):
    """``df.write.format("mcetl_jsonl_sink").option("path", dir)`` (batch)
    or ``df.writeStream.format("mcetl_jsonl_sink")`` (per-micro-batch
    two-phase commit) — register with
    ``spark.dataSource.register(JsonLinesSinkDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "mcetl_jsonl_sink"

    def writer(self, schema, overwrite: bool) -> _JsonLinesWriter:
        return _JsonLinesWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> _JsonLinesStreamWriter:
        return _JsonLinesStreamWriter(self.options)


def read_manifest(path: str) -> dict:
    """Read the ``_SUCCESS`` manifest of a committed sink directory."""
    with open(os.path.join(path, "_SUCCESS")) as f:
        return json.load(f)


def read_stream_manifests(path: str) -> dict:
    """Union the per-batch ``_SUCCESS.<batchId>`` manifests of a
    streaming sink directory: only manifested files count (uncommitted
    parts are invisible by contract)."""
    import re

    files, total, batches = [], 0, []
    for name in sorted(os.listdir(path)):
        # strict match: `_SUCCESS.<batchId>` only — a crash between the
        # tmp write and its rename leaves `_SUCCESS.<id>.tmp<pid>`
        # behind, which must stay invisible
        if re.fullmatch(r"_SUCCESS\.\d+", name):
            with open(os.path.join(path, name)) as f:
                m = json.load(f)
            files.extend(m["files"])
            total += m["n_rows"]
            batches.append(m["batch_id"])
    return {"files": sorted(files), "n_rows": total, "batches": sorted(batches)}
