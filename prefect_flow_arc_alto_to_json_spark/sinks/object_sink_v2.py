"""Custom Python Data Source WRITER (Spark 4 ``pyspark.sql.datasource``)
for the one-object-per-record sink — the V2 write-path form of
sinks/objects.py (reference S4: one pretty-printed JSON object per
document, flows/main_flow.py:79-92), the write leg beside the
streaming read of sources/catalog_stream.py.

What the V2 form adds over the foreachPartition sink: the WRITER COMMIT
PROTOCOL. Each task stages its files under ``_staging/`` with opaque
names and returns a commit message listing them; only the driver-side
``commit`` renames staged files to their visible ``{name}.json`` paths
and drops the ``_SUCCESS`` manifest. A failed/aborted job never
publishes a partial output — readers see all files or none (plus
whatever a previous successful write left, under append semantics).

Scale notes: rename-based publish is atomic on local/HDFS filesystems;
an object-store deployment swaps the rename for a manifest-commit (the
same split as sinks/upsert.py documents). Staging paths are keyed by
task UUIDs, so speculative/retried tasks can never collide.

Contract: input rows are ``(name string, payload string)`` — compose
with operators/alto.py's JSON emit to reproduce the reference's output
byte-for-byte.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)

OBJECT_SINK_SCHEMA = "name string, payload string"


class StagedBatch(WriterCommitMessage):
    def __init__(self, staged: list[tuple[str, str]]):
        self.staged = staged  # [(staged_path, final_file_name)]


class ObjectSinkWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("objectsink requires .option('path', ...)")
        self.overwrite = overwrite

    # -- executor side --------------------------------------------------
    def write(self, iterator) -> StagedBatch:
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        staged: list[tuple[str, str]] = []
        for row in iterator:
            if row.name is None:
                raise ValueError("objectsink: null name column")
            sp = os.path.join(staging, uuid.uuid4().hex)
            with open(sp, "w", encoding="utf-8") as fh:
                fh.write(row.payload if row.payload is not None else "null")
            staged.append((sp, f"{row.name}.json"))
        return StagedBatch(staged)

    # -- driver side -----------------------------------------------------
    def commit(self, messages) -> None:
        import shutil

        if self.overwrite:
            for f in os.listdir(self.path):
                if f.endswith(".json"):
                    os.remove(os.path.join(self.path, f))
        n = 0
        for m in messages:
            for sp, final in m.staged:
                os.replace(sp, os.path.join(self.path, final))
                n += 1
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            fh.write(str(n))
        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        # nothing was published; drop every staged file
        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)


class ObjectSinkDataSource(DataSource):
    """``df.write.format("objectsink").option("path", dir).save()`` over
    (name, payload) rows → one ``{name}.json`` file per row, published
    atomically at commit."""

    @classmethod
    def name(cls) -> str:
        return "objectsink"

    def schema(self) -> str:
        return OBJECT_SINK_SCHEMA

    def writer(self, schema, overwrite: bool) -> ObjectSinkWriter:
        return ObjectSinkWriter(self.options, overwrite)


def register(spark) -> None:
    spark.dataSource.register(ObjectSinkDataSource)


from ..functions.selfship import self_ship  # noqa: E402

# Worker-executed classes above must never require this package on the
# executor's PYTHONPATH — ship them by value (see functions/selfship.py).
self_ship(__name__)
