"""HDF5 sources (SURVEY.md §2.1 S2/S3/S4/S7).

Spark has no native HDF5 source. The reference's three strategies
(`/root/reference/pandas_to_postgres/copy_hdf.py`):

- Small / full-table read (`SmallHDFTableCopy`, `HDFTableCopy`): whole key
  into pandas → here ``spark.createDataFrame(read_hdf(...))``.
- Big / range scan (`BigHDFTableCopy.hdf_to_pg`, `copy_hdf.py:175-230`):
  ``pd.read_hdf(file, key, start, stop)`` slices of ``hdf_chunksize`` rows.
  The distributed generalization: ``spark.range(n_ranges)`` →
  ``mapInPandas`` where EACH SPARK TASK performs one range read. The
  reference's sequential loop becomes a partition-parallel scan — this is
  the design the reference's own docstring reaches toward
  (`copy_hdf.py:169-172`: range reads chosen over ``iterator=True``
  precisely because they are random-access).

Backend selection: PyTables (``pd.read_hdf``) when importable, else the
repo's pure-Python HDF5 parser (`sources/hdf5_reader` + the pandas
dialect in `sources/hdf5_pandas`) — so every strategy EXECUTES in this
container too. Both backends honor the same range-read contract.

100 TB notes: the file must be visible to every executor (shared FS). Range
reads are per-task independent — no shuffle at all; chunk size bounds task
memory exactly like the reference's ``hdf_chunksize`` (10**7 default,
`copy_hdf.py:21`). The pure backend mmaps the file per task and touches
only the superblock, index nodes, and the chunks overlapping its range.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

DEFAULT_CHUNK_ROWS = 10**7  # the reference's hdf_chunksize (`copy_hdf.py:21`)


def _has_pytables() -> bool:
    try:
        import tables  # noqa: F401, PLC0415

        return True
    except ImportError:
        return False


def read_hdf_range(
    file_name: str, key: str, start: int = 0, stop: Optional[int] = None
) -> pd.DataFrame:
    """One [start, stop) range read (`copy_hdf.py:211`), backend-agnostic."""
    if _has_pytables():  # pragma: no cover - environment dependent
        return pd.read_hdf(file_name, key, start=start, stop=stop)
    from . import hdf5_pandas  # noqa: PLC0415

    return hdf5_pandas.read_hdf(file_name, key, start=start, stop=stop)


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


def load_hdf_small(spark: SparkSession, file_name: str, key: str) -> DataFrame:
    """S2/S4: whole-key read → Spark DataFrame (Arrow-accelerated)."""
    pdf = read_hdf_range(file_name, key)
    return spark.createDataFrame(pdf.reset_index(drop=True))


def load_hdf_distributed(
    spark: SparkSession,
    file_name: str,
    key: str,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    nrows: Optional[int] = None,
) -> DataFrame:
    """S3: partition-parallel HDF5 range scan.

    One Spark task per [start, stop) range; each task opens the file
    read-only and performs exactly one range read — the reference's
    `copy_hdf.py:211` executed N-wide.
    """
    if nrows is None:
        nrows = hdf_nrows(file_name, key)
    ranges = plan_ranges(nrows, chunk_rows)
    # infer the schema from a 1-row probe (schema is identical across ranges)
    probe = read_hdf_range(file_name, key, 0, max(1, min(1, nrows)))
    schema = spark.createDataFrame(probe.reset_index(drop=True)).schema

    def read_ranges(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in pdf["id"]:
                start, stop = ranges[i]
                if stop > start:
                    yield read_hdf_range(file_name, key, start, stop).reset_index(drop=True)

    # range i -> task i: spark.range splits evenly, so no exchange is needed
    ids = spark.range(len(ranges), numPartitions=len(ranges))
    return ids.mapInPandas(read_ranges, schema=schema)


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
