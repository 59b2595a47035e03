"""HDF5 sources (SURVEY.md §2.1 S2/S3/S4/S7): the engine's one HDF5 layer.

Spark has no native HDF5 source. Every HDF5 read of the engine goes
through the functions below, so each decision is made once:

- **backend:** PyTables (``pd.read_hdf``) when importable, else the
  repo's pure-Python parser (`sources/hdf5_reader` + the frame_table
  dialect in `sources/hdf5_pandas`), so every path executes without
  PyTables too (which leaves the PyTables branch unverified here). Only
  this module calls either backend; both honor the same range-read
  contract, and a range read is one Arrow batch.
- **types:** one rule (:func:`_arrow_type`) types every column; a naive
  ``datetime64`` is TIMESTAMP_NTZ, the wall time in any session zone.
- **slices:** :func:`plan_ranges` cuts a key's rows into ``[start,
  stop)`` ranges of ``chunk_rows`` (`copy_hdf.py:198-213`), one empty
  range for an empty key.
- **schema:** :func:`hdf_schema` is the Spark schema of the key's empty
  range read: no Spark job, no dependence on the session's Arrow conf,
  and an empty key gets the schema of a full one. Every slice is cast to
  its scan's schema (:func:`read_slice`).
- **scan:** :func:`scan_hdf` reads slice i in task i of a range of
  slice ids through ``mapInArrow``: no shuffle, no pandas frame. The
  reference's sequential range loop (`BigHDFTableCopy.hdf_to_pg`,
  `copy_hdf.py:175-230`) becomes a partition-parallel scan, the design
  its own docstring reaches toward (`copy_hdf.py:169-172`: range reads
  chosen over ``iterator=True`` because they are random-access). The
  reference's Small path (a whole key into pandas) is the same scan with
  one range per key. The scan is a :class:`SliceScan`: it keeps its
  slice plan ``(ids, reader)`` through name-only ``select``, ``coalesce``
  and same-column ``unionByName``, and the COPY sink runs that reader
  inside its own tasks, so an unformatted HDF5 load reaches ``COPY``
  without a JVM round trip.

Callers: :func:`load_hdf_distributed` (one file), `sinks/hdf.load_hdf_dir`
(a part-file directory) and the ``format("hdf5")`` DataSource of
`sources/hdf5_stream`, which plans and reads its partitions here.

100 TB notes: the file must be visible to every executor (shared FS).
Range reads are per-task independent; chunk size bounds task memory
exactly like the reference's ``hdf_chunksize`` (10**7 default,
`copy_hdf.py:21`). The pure backend mmaps the file per task and touches
only the superblock, index nodes, and the chunks overlapping its range.
"""

from __future__ import annotations

import bisect
import itertools
from typing import Callable, Iterator, Optional, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type

DEFAULT_CHUNK_ROWS = 10**7  # the reference's hdf_chunksize (`copy_hdf.py:21`)


def _has_pytables() -> bool:
    try:
        import tables  # noqa: F401, PLC0415

        return True
    except ImportError:
        return False


def _arrow_type(key: str, field: pa.Field) -> pa.DataType:
    """The one HDF5 type rule: the Arrow type a decoded column reads as."""
    t = field.type
    if t in (pa.bool_(), pa.float32(), pa.float64(), pa.string()) or pa.types.is_signed_integer(t):
        return t
    if pa.types.is_unsigned_integer(t) and t.bit_width < 64:
        return {8: pa.int16(), 16: pa.int32(), 32: pa.int64()}[t.bit_width]
    if pa.types.is_timestamp(t) and t.tz is None:
        return pa.timestamp("us")  # NTZ: the wall time as written, in any session
    raise TypeError(f"HDF5 key {key!r}: unsupported dtype {t} ({field.name})")


def read_hdf_range(
    file_name: str, key: str, start: int = 0, stop: Optional[int] = None
) -> pa.RecordBatch:
    """One [start, stop) range read (`copy_hdf.py:211`), backend-agnostic:
    one Arrow batch typed by :func:`_arrow_type` (ns truncate to µs)."""
    if _has_pytables():  # pragma: no cover - environment dependent
        pdf = pd.read_hdf(file_name, key, start=start, stop=stop)
        arrays = [pa.array(v, pa.string() if v.dtype == object else None) for _, v in pdf.items()]
        batch = pa.RecordBatch.from_arrays(arrays, names=[str(c) for c in pdf.columns])
    else:
        from . import hdf5_pandas  # noqa: PLC0415

        batch = hdf5_pandas.read_batch(file_name, key, start, stop)
    schema = pa.schema([pa.field(f.name, _arrow_type(key, f)) for f in batch.schema])
    return batch.cast(schema, safe=False)  # lossy only where µs truncates ns


def plan_ranges(nrows: int, chunk_rows: int) -> list[tuple[int, int]]:
    """[start, stop) ranges covering nrows — pure, unit-tested.

    Matches the reference's loop bounds (`copy_hdf.py:198-213`): empty
    input yields one empty range (empty input is valid,
    `utilities.py:107-108`); exact multiples yield no trailing empty range.
    """
    if chunk_rows <= 0:
        raise ValueError("chunk_rows must be positive")
    if nrows <= 0:
        return [(0, 0)]
    return [(start, min(start + chunk_rows, nrows)) for start in range(0, nrows, chunk_rows)]


def hdf_nrows(file_name: str, key: str) -> int:
    """Row count from HDF metadata without reading data
    (`copy_hdf.py:194-195`: ``store.get_storer(key).nrows``)."""
    if _has_pytables():  # pragma: no cover - environment dependent
        with pd.HDFStore(file_name, mode="r") as store:
            return int(store.get_storer(key).nrows)
    from . import hdf5_pandas  # noqa: PLC0415

    return hdf5_pandas.get_nrows(file_name, key)


def hdf_schema(file_name: str, key: str) -> T.StructType:
    """Spark schema of ``key``: the types of its empty range read (no row
    data is decoded, no Spark job)."""
    return from_arrow_schema(read_hdf_range(file_name, key, 0, 0).schema, prefer_timestamp_ntz=True)


def read_slice(file_name: str, key: str, start: int, stop: int, schema: T.StructType):
    """One slice of a scan as an Arrow batch of the scan's Spark ``schema``
    (inferred or user-given); a column that cannot be cast raises."""
    target = pa.schema([pa.field(f.name, to_arrow_type(f.dataType)) for f in schema])
    try:
        return read_hdf_range(file_name, key, start, stop).cast(target)
    except (pa.ArrowException, ValueError) as e:
        raise TypeError(f"HDF5 {file_name!r} key {key!r}: {e}") from e


#: ``read(i)``: the Arrow batches of slice ``i`` of one key's scan
SliceReader = Callable[[int], Iterator[pa.RecordBatch]]


def _read_parts(parts: Sequence[tuple]):
    """The reader of a scan's slice ids over its ``parts``, one
    ``(slice count, SliceReader, columns)`` per key in id order: id ``i``
    is slice ``i - start`` of the part it falls in, its batches selected
    to the part's columns."""
    starts = list(itertools.accumulate((n for n, _, _ in parts), initial=0))

    def read_ids(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for ids in batches:
            for i in ids.column("id").to_pylist():
                j = bisect.bisect_right(starts, i) - 1
                _, read, columns = parts[j]
                for batch in read(i - starts[j]):
                    yield batch.select(columns)

    return read_ids


class SliceScan(ClassicDataFrame):
    """An HDF5 scan that keeps its slice plan beside its DataFrame.

    The DataFrame is Spark's own: ``ids.mapInArrow(reader)`` for one key
    (``ids`` a DataFrame of slice ids), and Spark's result for each of the
    three operations that keep the plan: ``select`` of plain column names,
    ``coalesce``, and ``unionByName`` of two scans with the same column
    names and types (in any order). The plan ``(ids, reader)`` yields the
    same rows in the same partitions, so a consumer can run the reader in
    its own task (:meth:`slice_plan`; `sinks/postgres_copy._run_copy_tasks`
    COPYs the slices without the Arrow→rows→Arrow hop). Every other
    operation returns Spark's plain DataFrame."""

    def __new__(cls, *args):
        # the classic DataFrame's __new__ takes (jdf, session) and calls
        # __init__ with them; this class is built from its own arguments
        return object.__new__(cls)

    def __init__(self, df: DataFrame, ids: DataFrame, parts: tuple):
        super().__init__(df._jdf, df.sparkSession)
        self._ids, self._parts = ids, parts

    def slice_plan(self):
        """``(ids, read_ids)``: ``read_ids`` maps the id batches of a
        partition of ``ids`` to that partition's rows as Arrow batches."""
        return self._ids, _read_parts(self._parts)

    def select(self, *cols):
        df = super().select(*cols)
        names = list(cols[0] if len(cols) == 1 and isinstance(cols[0], list) else cols)
        own = self.columns
        plain = names and all(isinstance(c, str) and c in own for c in names)
        if not (plain and len(set(names)) == len(names) and df.columns == names):
            return df
        return SliceScan(df, self._ids, tuple((n, read, names) for n, read, _ in self._parts))

    def coalesce(self, numPartitions: int):
        return SliceScan(
            super().coalesce(numPartitions), self._ids.coalesce(numPartitions), self._parts
        )

    def unionByName(self, other: DataFrame, allowMissingColumns: bool = False):
        df = super().unionByName(other, allowMissingColumns)

        def types(d):
            return sorted((f.name, f.dataType.simpleString()) for f in d.schema)

        if not (isinstance(other, SliceScan) and types(self) == types(other)):
            return df
        offset, own = sum(n for n, _, _ in self._parts), self.columns
        ids = self._ids.union(other._ids.selectExpr(f"id + {offset} AS id"))
        return SliceScan(df, ids, self._parts + tuple((n, read, own) for n, read, _ in other._parts))


def scan_hdf(
    spark: SparkSession, files: Sequence[str], key: str, chunk_rows: int
) -> SliceScan:
    """``key`` of every file as one :class:`SliceScan`: one Spark task per
    ``(file, [start, stop))`` slice, each one range read, no exchange.
    The schema comes from the first file."""
    slices = [
        (f, start, stop)
        for f in files
        for start, stop in plan_ranges(hdf_nrows(f, key), chunk_rows)
    ]
    schema = hdf_schema(files[0], key)

    def read(i: int) -> Iterator[pa.RecordBatch]:
        file, start, stop = slices[i]
        if stop > start:
            yield read_slice(file, key, start, stop, schema)

    # slice i -> task i: spark.range splits evenly, so no exchange is needed
    ids = spark.range(len(slices), numPartitions=len(slices))
    parts = ((len(slices), read, schema.names),)
    return SliceScan(ids.mapInArrow(_read_parts(parts), schema=schema), ids, parts)


def load_hdf_distributed(
    spark: SparkSession,
    file_name: str,
    key: str,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
) -> DataFrame:
    """S3: partition-parallel HDF5 range scan of one key — the
    reference's `copy_hdf.py:211` executed N-wide (:func:`scan_hdf`)."""
    return scan_hdf(spark, [file_name], key, chunk_rows)


def hdf_keys(file_name: str) -> list[str]:
    """pandas-style keys of every table in the file (``store.keys()``)."""
    if _has_pytables():  # pragma: no cover - environment dependent
        with pd.HDFStore(file_name, mode="r") as store:
            return list(store.keys())
    from . import hdf5_pandas  # noqa: PLC0415

    return hdf5_pandas.list_keys(file_name)


def _group_meta(file_name: str, key: str, metadata_attr: str):
    if _has_pytables():  # pragma: no cover - environment dependent
        with pd.HDFStore(file_name, mode="r") as store:
            storer = store.get_storer(key)
            attrs = getattr(storer, "attrs", None)
            return getattr(attrs, metadata_attr, None) if attrs else None
    from . import hdf5_pandas  # noqa: PLC0415

    return hdf5_pandas.group_attrs(file_name, key).get(metadata_attr)


def hdf_metadata(
    file_name: str,
    keys: Optional[Sequence[str]] = None,
    metadata_attr: Optional[str] = None,
    metadata_keys: Sequence[str] = (),
) -> tuple[dict[str, set[str]], dict]:
    """S7: catalog scan — builds the many-HDF-keys→one-SQL-table routing and
    per-table metadata constants (`/root/reference/pandas_to_postgres/utilities.py:17-73`).

    Returns ``(sql_to_hdf, metadata_vars)`` where ``sql_to_hdf`` maps a SQL
    table name to the set of HDF keys that feed it and ``metadata_vars``
    maps attr → {hdf_key → value}. Keys containing '/meta' are skipped
    (`utilities.py:56-61`).
    """
    sql_to_hdf: dict[str, set[str]] = {}
    metadata_vars: dict[str, dict[str, object]] = {}
    candidate_keys = keys if keys is not None else hdf_keys(file_name)
    for key in candidate_keys:
        if "/meta" in key:
            continue
        meta = _group_meta(file_name, key, metadata_attr) if metadata_attr else None
        if meta:
            for mkey in metadata_keys:
                if mkey in meta:
                    metadata_vars.setdefault(mkey, {})[key] = meta[mkey]
            sql_name = meta.get("sql_table_name") if isinstance(meta, dict) else None
        else:
            sql_name = None
        if sql_name is None:
            # no routing metadata → key maps to a table of its own name
            sql_name = key.lstrip("/")
        sql_to_hdf.setdefault(sql_name, set()).add(key)
    return sql_to_hdf, metadata_vars
