"""pandas-dialect layer over the pure-Python HDF5 parser.

Decodes PyTables ``frame_table`` layouts — the format
``pandas.DataFrame.to_hdf(format="table")`` writes and the reference
ingests (`/root/reference/pandas_to_postgres/copy_hdf.py:175-230`) —
into pandas DataFrames, with the same ``start``/``stop`` range-read
contract as ``pd.read_hdf``. Two field dialects are handled:

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

from typing import Dict, List, Optional, Sequence

import numpy as np
import pandas as pd

from .hdf5_reader import H5File

def _table_path(key: str) -> str:
    return "/" + key.strip("/") + "/table"


def list_keys(path: str) -> List[str]:
    """pandas-style keys ('/name') of every frame_table group, matching
    ``pd.HDFStore.keys()`` ordering (sorted paths)."""
    out: List[str] = []
    with H5File(path) as f:
        groups = {p: a for p, a in f.visit() if not f.is_dataset(a)}
        for gpath, addr in groups.items():
            if gpath == "/":
                continue
            try:
                links = f._group_links(addr)
            except Exception:
                continue
            if "table" in links and f.is_dataset(links["table"]):
                out.append(gpath)
    return sorted(out)


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


def _decode_strings(arr: np.ndarray) -> np.ndarray:
    # object, not numpy's unicode dtype: np.char.decode of an EMPTY array
    # returns float64, which would give an empty key a different schema
    return np.char.decode(arr.astype("S"), "utf-8").astype(object)


def _column_from_field(
    vals: np.ndarray, field: str, attrs: Dict[str, object]
) -> np.ndarray:
    kind = attrs.get(f"{field}_dtype")
    if isinstance(kind, bytes):
        kind = kind.decode("utf-8", errors="replace")
    if vals.dtype.kind == "S":
        return _decode_strings(vals)
    if kind == "bool" or (isinstance(kind, str) and kind.startswith("bool")):
        return vals.astype(bool)
    if isinstance(kind, str) and kind.startswith("datetime64"):
        return vals.view("M8[ns]")
    return vals


def read_hdf(
    path: str,
    key: str,
    start: int = 0,
    stop: Optional[int] = None,
    columns: Optional[Sequence[str]] = None,
) -> pd.DataFrame:
    """Rows [start, stop) of ``/key/table`` as a DataFrame — the pure
    backend for ``pd.read_hdf(file, key, start=, stop=)``. Only the
    chunks overlapping the range are read/decompressed (`hdf5_reader.
    Dataset.read_raw`), which is what makes one-task-per-range scans
    cheap (`copy_hdf.py:169-172`)."""
    with H5File(path) as f:
        ds = f.dataset(_table_path(key))
        raw = ds.read_raw(start, stop)
        attrs = ds.attrs
        names = raw.dtype.names or ()

        data: Dict[str, np.ndarray] = {}
        order: List[str] = []
        index = None
        for field in names:
            vals = raw[field]
            if field == "index":
                index = vals
                continue
            block_cols = attrs.get(f"{field}_kind")
            if isinstance(block_cols, (list, tuple)) and (
                field.startswith("values_block") or len(block_cols) != 1 or block_cols[0] != field
            ):
                # block dialect: (n, k) member carries k columns
                vals2 = vals.reshape(len(vals), len(block_cols))
                for j, col in enumerate(block_cols):
                    cv = vals2[:, j]
                    data[str(col)] = _column_from_field(cv, field, attrs)
                    order.append(str(col))
            else:
                data[field] = _column_from_field(vals, field, attrs)
                order.append(field)

        nia = attrs.get("non_index_axes")
        if isinstance(nia, (list, tuple)) and nia:
            cols = [str(c) for c in nia[0][1]]
            if set(cols) == set(order):
                order = cols
        if columns is not None:
            order = [c for c in order if c in set(columns)]
        df = pd.DataFrame({c: data[c] for c in order}, columns=order)
        if index is not None and len(index) == len(df):
            df.index = pd.Index(index, name=None)
        return df
