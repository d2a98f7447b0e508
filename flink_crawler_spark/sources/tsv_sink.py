"""Custom batch DataSource WRITER: the reference's text-content sink
(``CrawlTopologyBuilder.java:455-463`` — tab-separated ``url \\t text``
via ``writeAsText``) re-expressed through the PySpark DataSource API
(Spark 4), next to the WARC reader in ``warc_datasource.py``.

Two-phase commit: every task writes its partition to a hidden temp file
and returns the name as its commit message; only the driver-side
``commit()`` renames temps to final ``part-*.tsv`` names and drops the
``_SUCCESS`` marker, and ``abort()`` removes the temps — so a failed or
speculative task can never leave a half-visible file, the same
all-or-nothing contract Spark's built-in FileFormatWriter gives parquet.

REQUIREMENT: executors and driver must share one filesystem for `path`
(local[N], NFS, or a FUSE-mounted object store) — task ``write()`` uses
local ``open()`` and driver ``commit()`` renames with ``os.replace``.
On a cluster without a shared mount this sink cannot commit; use the
parquet/json writers (Hadoop FileOutputCommitter) there instead.
``commit()`` also sweeps stray ``.tmp-*`` files left by failed or
speculative task attempts whose commit messages never reached the
driver (``abort()`` only runs on whole-job abort).
The reference gets this per-file only (WARC segment rotation,
``WARCFileWriter.java:29-46``); job-level atomicity is an upgrade.

Usage::

    spark.dataSource.register(TsvContentSink)
    df.write.format("tsv_content").option("path", out).mode("append").save()
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


class TsvCommit(WriterCommitMessage):
    def __init__(self, tmp_name: str, n_rows: int):
        self.tmp_name = tmp_name
        self.n_rows = n_rows


_SQUASH = str.maketrans({"\t": " ", "\r": " ", "\n": " "})


class TsvContentWriter(DataSourceWriter):
    def __init__(self, options, schema: StructType):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("tsv_content sink requires option 'path'")
        self.columns = [f.name for f in schema.fields]

    def write(self, iterator) -> TsvCommit:
        os.makedirs(self.path, exist_ok=True)
        tmp = f".tmp-{uuid.uuid4().hex}"
        n = 0
        with open(os.path.join(self.path, tmp), "w") as fh:
            for row in iterator:
                vals = [
                    "" if v is None else str(v).translate(_SQUASH)
                    for v in (row[c] for c in self.columns)
                ]
                fh.write("\t".join(vals) + "\n")
                n += 1
        return TsvCommit(tmp, n)

    def commit(self, messages) -> None:
        total = 0
        committed = set()
        for i, m in enumerate(m for m in messages if m is not None):
            final = os.path.join(self.path, f"part-{i:05d}.tsv")
            os.replace(os.path.join(self.path, m.tmp_name), final)
            committed.add(m.tmp_name)
            total += m.n_rows
        # sweep temps from failed/speculative attempts not in any message
        for name in os.listdir(self.path):
            if name.startswith(".tmp-") and name not in committed:
                try:
                    os.remove(os.path.join(self.path, name))
                except OSError:
                    pass
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            fh.write(str(total))

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, m.tmp_name))
                except OSError:
                    pass


class TsvContentSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tsv_content"

    def schema(self) -> str:
        # writer-only source; schema comes from the frame being written
        return "url string, text string"

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return TsvContentWriter(self.options, schema)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "DataSourceStreamWriter":
        return TsvContentStreamWriter(self.options)


class TsvContentStreamWriter(DataSourceStreamWriter):
    """Streaming twin of TsvContentWriter: same per-task temp files, but
    commit is per micro-batch (exactly-once WITH the checkpoint: Spark
    replays an uncommitted batch, and ``os.replace`` makes re-commit of
    the same batch idempotent — final names embed the batch id)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("tsv_content sink requires option 'path'")

    def write(self, iterator) -> TsvCommit:
        os.makedirs(self.path, exist_ok=True)
        tmp = f".tmp-{uuid.uuid4().hex}"
        n = 0
        with open(os.path.join(self.path, tmp), "w") as fh:
            for row in iterator:
                vals = ["" if v is None else str(v).translate(_SQUASH) for v in row]
                fh.write("\t".join(vals) + "\n")
                n += 1
        return TsvCommit(tmp, n)

    def commit(self, messages, batchId: int) -> None:
        committed = set()
        for i, m in enumerate(m for m in messages if m is not None):
            final = os.path.join(self.path, f"part-b{batchId:05d}-{i:05d}.tsv")
            os.replace(os.path.join(self.path, m.tmp_name), final)
            committed.add(m.tmp_name)
        for name in os.listdir(self.path):
            if name.startswith(".tmp-") and name not in committed:
                try:
                    os.remove(os.path.join(self.path, name))
                except OSError:
                    pass
        with open(os.path.join(self.path, f"_BATCH_{batchId}"), "w") as fh:
            fh.write("ok")

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, m.tmp_name))
                except OSError:
                    pass
