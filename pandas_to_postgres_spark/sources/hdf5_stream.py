"""Spark 4 Python DataSource for HDF5 part-file directories: batch scans,
STREAMING ingest and writes of PyTables frame_table files. Planning,
schema and slice reads go through `sources/hdf` (PyTables when
importable, else the pure-Python parser), so ``format("hdf5")`` reads a
file exactly as the range scans there do: the same Arrow batches, cast
to the scan's schema (a naive ``datetime64`` is TIMESTAMP_NTZ).

    spark.dataSource.register(Hdf5DataSource)

    # batch: one Spark task per (file, row-range)
    df = (spark.read.format("hdf5")
          .option("path", "/data/landing").option("key", "data").load())

    # streaming: each micro-batch picks up the .h5 files that appeared
    # since the last checkpointed offset — the file-source contract for a
    # format Spark has no native reader for
    stream = (spark.readStream.format("hdf5")
              .option("path", "/data/landing").option("key", "data").load())

Offsets are COMPACT in steady state: a modification-time watermark plus
the ``[name, mtime_ns]`` pairs at or above it — the same bounded-state
design as Spark's own file source (``maxFileAge``). Files older than the
watermark are assumed processed, so offset size is bounded by the files
landing per ``lateFileLag`` window (default 300 s), not by the lifetime
of the landing directory. Two rules make that safe (ADVICE r6 — the
naive "newest mtime − lag" watermark silently dropped backlogs):

- The FIRST poll of a session (fresh start, restart, or each
  ``availableNow`` drain — any time the reader has not yet seen a
  committed offset) emits the FULL listing under ``wm = 0`` and lets
  ``partitions(start, end)`` subtract the checkpointed start offset.
  One unbounded offset, then ``commit()`` re-bounds; this is exactly
  Spark's file-source first-batch ``maxFileAge`` exemption, and it makes
  pre-populated directories, >lag restarts, and periodic drains lossless.
- After that, the watermark advances from the last COMMITTED offset
  (learned via ``commit(end)``), never past a listed file the committed
  offset does not cover — an uncommitted file holds the watermark down
  (and itself in ``recent``) until its batch commits.

A replayed (start, end] range re-reads exactly the same files (HDF5
files are immutable once written — the writer writes whole files), so
exactly-once downstream composes with any idempotent sink. Producers
must create files ATOMICALLY (write temp + rename — rename refreshes
mtime, which keeps late files inside the lag window) and must not
backdate mtimes below an already-committed watermark; that is the
identical contract Spark's file source imposes.

Scale: `latestOffset` is one directory listing on the driver; each
partition mmaps its file and touches only the chunks overlapping its
[start, stop) slice; rows cross to Spark as Arrow RecordBatches, never
Python tuples. `chunkRows` bounds per-task memory exactly like the batch
scan's `chunk_rows`.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from pandas_to_postgres_spark.sources.hdf import (
    hdf_nrows,
    hdf_schema,
    plan_ranges,
    read_slice,
)


def _part_files(path: str) -> list:
    return sorted(
        os.path.basename(f) for f in glob.glob(os.path.join(path, "*.h5"))
    )


@dataclass
class H5Partition(InputPartition):
    """One (file, [start, stop)) slice of one part file."""

    file: str
    start: int
    stop: int


def _plan_file(path: str, name: str, key: str, chunk_rows: int):
    """The partitions of one part file: `sources/hdf.plan_ranges`."""
    n = hdf_nrows(os.path.join(path, name), key)
    return [H5Partition(name, start, stop) for start, stop in plan_ranges(n, chunk_rows)]


def _read_partition(path: str, key: str, schema, part: H5Partition):
    """One slice → one Arrow RecordBatch of the Spark ``schema``
    (`sources/hdf.read_slice`, the scan's own slice read); an empty slice
    yields nothing."""
    if part.stop > part.start:
        yield read_slice(os.path.join(path, part.file), key, part.start, part.stop, schema)


class Hdf5Reader(DataSourceReader):
    def __init__(self, path, key, chunk_rows, schema):
        self.path, self.key = path, key
        self.chunk_rows = chunk_rows
        self.schema = schema

    def partitions(self):
        parts = []
        for name in _part_files(self.path):
            parts.extend(_plan_file(self.path, name, self.key, self.chunk_rows))
        return parts or [H5Partition(file="", start=0, stop=0)]

    def read(self, part: H5Partition) -> Iterator:
        return _read_partition(self.path, self.key, self.schema, part)


def _offset_norm(off: dict) -> tuple:
    """Normalize an offset to (wm_ns, {name: mtime_ns}).

    Semantics: a file is PROCESSED under the offset iff its mtime_ns is
    below the watermark OR its name is in the recent map. Legacy v1
    offsets ({"seen": [names]}) map to wm=0 + the seen names, so a
    checkpoint written by the unbounded-list design resumes cleanly."""
    if "seen" in off:  # v1 checkpoint compatibility
        return 0, {name: 0 for name in off["seen"]}
    return int(off.get("wm", 0)), {n: int(m) for n, m in off.get("recent", [])}


class Hdf5StreamReader(DataSourceStreamReader):
    """Micro-batch = the .h5 files that appeared since the last offset.
    Offset = {"v": 2, "wm": mtime_ns, "recent": [[name, mtime_ns], ...]}
    — bounded by the lag window (module docstring), not by directory
    lifetime. Files are immutable, so a replayed (start, end] range
    yields byte-identical rows."""

    def __init__(self, path, key, chunk_rows, schema, late_file_lag_s=300.0):
        self.path, self.key = path, key
        self.chunk_rows = chunk_rows
        self.schema = schema
        self._lag_ns = int(late_file_lag_s * 1e9)
        #: (wm, {name: mtime}) of the last offset Spark COMMITTED this
        #: session; None until the first commit (module docstring — the
        #: watermark may only advance from here, so an uncommitted or
        #: pre-restart backlog is never assumed processed).
        self._committed = None

    def initialOffset(self) -> dict:
        return {"v": 2, "wm": 0, "recent": []}

    def latestOffset(self) -> dict:
        entries = {}
        for name in _part_files(self.path):
            try:
                entries[name] = os.stat(os.path.join(self.path, name)).st_mtime_ns
            except FileNotFoundError:
                continue  # raced with producer rename/cleanup; next poll
        if self._committed is None:
            # First poll of this session: the checkpointed start offset is
            # invisible here, so claim NOTHING processed — emit the full
            # listing and let partitions() subtract the start offset. The
            # file-source first-batch exemption; commit() re-bounds.
            recent = sorted(entries.items())
            return {"v": 2, "wm": 0, "recent": [[n, m] for n, m in recent]}
        c_wm, c_recent = self._committed
        candidate = (
            max(entries.values()) - self._lag_ns if entries else c_wm
        )
        # files the committed offset does NOT cover hold the watermark at
        # (or below) their mtime until their batch commits
        pending = [
            m
            for n, m in entries.items()
            if m >= c_wm and n not in c_recent
        ]
        wm = max(c_wm, min([candidate] + pending))
        recent = sorted((n, m) for n, m in entries.items() if m >= wm)
        return {"v": 2, "wm": wm, "recent": [[n, m] for n, m in recent]}

    def partitions(self, start: dict, end: dict):
        # Derived from the two offsets ONLY — a replay must plan the same
        # files even if the directory has since gained more.
        start_wm, start_recent = _offset_norm(start)
        _, end_recent = _offset_norm(end)
        new = sorted(
            name
            for name, mtime in end_recent.items()
            if name not in start_recent and mtime >= start_wm
        )
        parts = []
        for name in new:
            parts.extend(_plan_file(self.path, name, self.key, self.chunk_rows))
        # Spark requires >= 1 partition per batch; an empty marker keeps
        # idle polls cheap
        return parts or [H5Partition(file="", start=0, stop=0)]

    def read(self, part: H5Partition) -> Iterator:
        return _read_partition(self.path, self.key, self.schema, part)

    def commit(self, end: dict) -> None:
        # nothing to clean (offsets live in Spark's checkpoint) — but the
        # committed offset is the anchor the watermark may advance from
        self._committed = _offset_norm(end)


@dataclass
class Hdf5WriteCommit(WriterCommitMessage):
    """Per-task commit message: the temp file the partition staged."""

    tmp: str
    rows: int


class Hdf5ArrowWriter(DataSourceArrowWriter):
    """``df.write.format("hdf5")`` — the WRITE half, API-symmetric with
    the round-5 read/stream halves. Maps Spark's writer commit protocol
    onto the part-file directory layout (`sinks/hdf.write_hdf_dir` writes
    through it):

    - ``write`` (per task): stage the partition's Arrow batches as ONE
      self-contained ``.tmp-<job>-<uuid>.h5`` (dot-prefixed: invisible to
      the ``*.h5`` globs of the batch/stream readers). The name is
      attempt-unique, so retried/speculative attempts never collide; the
      commit message carries it.
    - ``commit`` (driver): on overwrite, delete existing ``part-*.h5``;
      then RENAME each staged tmp to ``part-<job>-NNNNN.h5`` — on the
      shared filesystem this layout assumes (same contract as parquet
      part dirs), rename is atomic per file, which is exactly the
      visibility contract the streaming source requires of producers.
    - ``abort``: unlink the job's tmp files.

    Residual caveat (same as any file sink without a manifest): commit
    renames N files one by one, so a reader listing mid-commit can see a
    prefix of the new parts; `sources/manifest.py` adds snapshot
    isolation where that matters. No single-file concurrent writes —
    an HDF5 file's B-trees/heaps are globally linked, so one file per
    partition IS the scale-correct layout."""

    def __init__(self, options, overwrite: bool):
        import uuid  # noqa: PLC0415

        self.path = options["path"]
        self.key = options.get("key", "data")
        self.chunk_rows = int(options.get("chunkrows",
                                          options.get("chunkRows", 1000)))
        self.complevel = int(options.get("complevel", "0"))
        self.overwrite = overwrite
        self.job_id = uuid.uuid4().hex[:8]

    def write(self, iterator) -> Hdf5WriteCommit:
        import uuid  # noqa: PLC0415

        import pandas as pd  # noqa: PLC0415

        from pandas_to_postgres_spark.sources.hdf5_writer import (  # noqa: PLC0415
            write_frame_table,
        )

        frames = [b.to_pandas() for b in iterator]
        frames = [f for f in frames if len(f)]
        if not frames:
            return Hdf5WriteCommit(tmp="", rows=0)
        pdf = (
            frames[0]
            if len(frames) == 1
            else pd.concat(frames, ignore_index=True)
        )
        os.makedirs(self.path, exist_ok=True)
        tmp = f".tmp-{self.job_id}-{uuid.uuid4().hex[:12]}.h5"
        write_frame_table(
            os.path.join(self.path, tmp),
            {self.key: pdf},
            chunk_rows=self.chunk_rows,
            complevel=self.complevel,
        )
        return Hdf5WriteCommit(tmp=tmp, rows=len(pdf))

    def commit(self, messages) -> None:
        if self.overwrite:
            for old in glob.glob(os.path.join(self.path, "part-*.h5")):
                os.unlink(old)
        i = 0
        for m in messages:
            if m is None or not m.tmp:
                continue
            os.rename(
                os.path.join(self.path, m.tmp),
                os.path.join(self.path, f"part-{self.job_id}-{i:05d}.h5"),
            )
            i += 1

    def abort(self, messages) -> None:
        for stale in glob.glob(
            os.path.join(self.path, f".tmp-{self.job_id}-*.h5")
        ):
            try:
                os.unlink(stale)
            except FileNotFoundError:
                pass


class Hdf5DataSource(DataSource):
    """``format("hdf5")`` — options: path (directory of .h5 part files),
    key (default "data"), chunkRows (default 1,000,000 read / 1,000
    write), complevel (write; default 0)."""

    @classmethod
    def name(cls) -> str:
        return "hdf5"

    def _opts(self):
        path = self.options["path"]
        key = self.options.get("key", "data")
        chunk_rows = int(self.options.get("chunkrows",
                                          self.options.get("chunkRows", 10**6)))
        lag_s = float(self.options.get("latefilelag",
                                       self.options.get("lateFileLag", 300.0)))
        return path, key, chunk_rows, lag_s

    def schema(self):
        path, key, _, _ = self._opts()
        files = _part_files(path)
        if not files:
            raise ValueError(
                f"hdf5 source: no *.h5 files under {path!r} to infer a "
                "schema from — pass .schema(...) explicitly for an empty "
                "landing directory"
            )
        return hdf_schema(os.path.join(path, files[0]), key)

    def reader(self, schema) -> Hdf5Reader:
        path, key, chunk_rows, _ = self._opts()
        return Hdf5Reader(path, key, chunk_rows, schema)

    def streamReader(self, schema) -> Hdf5StreamReader:
        path, key, chunk_rows, lag_s = self._opts()
        return Hdf5StreamReader(
            path, key, chunk_rows, schema, late_file_lag_s=lag_s
        )

    def writer(self, schema, overwrite: bool) -> Hdf5ArrowWriter:
        return Hdf5ArrowWriter(self.options, overwrite)
