"""pandas-dialect layer over the pure-Python HDF5 parser.

Decodes PyTables ``frame_table`` layouts — the format
``pandas.DataFrame.to_hdf(format="table")`` writes and the reference
ingests (`/root/reference/pandas_to_postgres/copy_hdf.py:175-230`) —
into numpy columns, once, with the same ``start``/``stop`` range-read
contract as ``pd.read_hdf``: :func:`read_batch` (the scan path) hands
them on as Arrow, :func:`read_hdf` as pandas. Two field dialects:

- data-columns style: one compound member per column (what
  ``data_columns=True`` and this repo's `hdf5_writer` emit);
- block style: ``values_block_N`` array members whose column names
  arrive in the pickled ``values_block_N_kind`` attribute (the
  ``to_hdf`` default).

Only public knowledge is involved: the HDF5 File Format Specification
(parsed by `hdf5_reader`) and the PyTables attribute conventions
observable in any ``to_hdf`` file.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa

from .hdf5_reader import H5File

def _table_path(key: str) -> str:
    return "/" + key.strip("/") + "/table"


def list_keys(path: str) -> List[str]:
    """pandas-style keys ('/name') of every frame_table group (a group
    holding a ``table`` dataset), sorted like ``pd.HDFStore.keys()``."""
    with H5File(path) as f:
        return sorted(
            p[: -len("/table")]
            for p, addr in f.visit()
            if p.endswith("/table") and p != "/table" and f.is_dataset(addr)
        )


def get_nrows(path: str, key: str) -> int:
    """Row count from metadata only (the dataspace dims / NROWS attr) —
    the pure equivalent of ``store.get_storer(key).nrows``
    (`copy_hdf.py:194-195`). No chunk data is touched."""
    with H5File(path) as f:
        ds = f.dataset(_table_path(key))
        n = ds.attrs.get("NROWS")
        return int(n) if n is not None else ds.nrows


def group_attrs(path: str, key: str) -> Dict[str, object]:
    """Attributes of the key's GROUP node — where the reference keeps
    per-table routing metadata (`utilities.py:17-73`)."""
    with H5File(path) as f:
        return f.attributes("/" + key.strip("/"))


def _decode(
    path: str, key: str, start: int, stop: Optional[int]
) -> Tuple[Dict[str, np.ndarray], Optional[np.ndarray]]:
    """Rows [start, stop) of ``/key/table`` as numpy columns in frame order,
    plus the stored index. Only the chunks overlapping the range are read
    (`hdf5_reader.Dataset.read_raw`): one-task-per-range scans stay cheap."""
    with H5File(path) as f:
        ds = f.dataset(_table_path(key))
        raw, attrs = ds.read_raw(start, stop), ds.attrs
    data: Dict[str, np.ndarray] = {}
    index = None
    for field in raw.dtype.names or ():
        vals = raw[field]
        if field == "index":
            index = vals
            continue
        kind = attrs.get(f"{field}_dtype") or ""
        kind = kind.decode("utf-8", "replace") if isinstance(kind, bytes) else str(kind)
        if kind.startswith("bool"):
            vals = vals.astype(bool)
        elif kind.startswith("datetime64"):
            vals = vals.view("M8[ns]")
        cols = attrs.get(f"{field}_kind")
        if isinstance(cols, (list, tuple)) and (
            field.startswith("values_block") or list(cols) != [field]
        ):
            # block dialect: (n, k) member carries k columns
            vals = vals.reshape(len(vals), len(cols))
            data.update((str(col), vals[:, j]) for j, col in enumerate(cols))
        else:
            data[field] = vals
    nia = attrs.get("non_index_axes")
    if isinstance(nia, (list, tuple)) and nia and set(map(str, nia[0][1])) == set(data):
        data = {str(c): data[str(c)] for c in nia[0][1]}
    return data, index


def _batch(columns: Dict[str, np.ndarray]) -> pa.RecordBatch:
    # an S column arrives as binary; the cast to string checks its UTF-8
    arrays = [pa.array(v) for v in columns.values()]
    arrays = [a.cast(pa.string()) if pa.types.is_binary(a.type) else a for a in arrays]
    return pa.RecordBatch.from_arrays(arrays, names=list(columns))


def read_batch(path: str, key: str, start: int = 0, stop: Optional[int] = None) -> pa.RecordBatch:
    """Rows [start, stop) as one Arrow batch (`sources/hdf` types it)."""
    return _batch(_decode(path, key, start, stop)[0])


def read_hdf(
    path: str,
    key: str,
    start: int = 0,
    stop: Optional[int] = None,
    columns: Optional[Sequence[str]] = None,
) -> pd.DataFrame:
    """:func:`read_batch` as a DataFrame with the stored index — the pure
    backend for ``pd.read_hdf(file, key, start=, stop=)``."""
    data, index = _decode(path, key, start, stop)
    if columns is not None:
        data = {c: v for c, v in data.items() if c in set(columns)}
    df = _batch(data).to_pandas()
    if index is not None and len(index) == len(df):
        df.index = pd.Index(index, name=None)
    return df
