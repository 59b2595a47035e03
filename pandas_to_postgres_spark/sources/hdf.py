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
  one range per key.

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

from typing import Iterator, Optional, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
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


def scan_hdf(
    spark: SparkSession, files: Sequence[str], key: str, chunk_rows: int
) -> DataFrame:
    """``key`` of every file as one DataFrame: one Spark task per
    ``(file, [start, stop))`` slice, each one range read, no exchange.
    The schema comes from the first file."""
    slices = [
        (f, start, stop)
        for f in files
        for start, stop in plan_ranges(hdf_nrows(f, key), chunk_rows)
    ]
    schema = hdf_schema(files[0], key)

    def read_slices(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for ids in batches:
            for i in ids.column("id").to_pylist():
                file, start, stop = slices[i]
                if stop > start:
                    yield read_slice(file, key, start, stop, schema)

    # slice i -> task i: spark.range splits evenly, so no exchange is needed
    ids = spark.range(len(slices), numPartitions=len(slices))
    return ids.mapInArrow(read_slices, schema=schema)


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
