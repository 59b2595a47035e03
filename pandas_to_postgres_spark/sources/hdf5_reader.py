"""Pure-Python, read-only HDF5 parser — the executable backend for the
HDF5 sources (SURVEY.md §2.1 S2/S3/S4/S7) in environments without
PyTables/h5py (this container; installs prohibited).

Implements the subset of the public **HDF5 File Format Specification**
(https://docs.hdfgroup.org/hdf5/develop/_f_m_t3.html) that
``pandas.to_hdf(format="table")`` files exercise:

- superblock v0/v1 (libhdf5 default) and v2/v3
- old-style groups: symbol-table message → B-tree v1 (node type 0) →
  SNOD symbol nodes → local heap, plus compact v2 groups (Link
  messages in the object header)
- object headers v1 (with continuation blocks) and v2 (OHDR/OCHK)
- datatypes: fixed-point, IEEE float, fixed string, bitfield,
  compound v1/v2/v3 (including v1 array members), array (class 10),
  enum (mapped to its base), variable-length string (global heap)
- dataspaces v1/v2
- data layouts v3: contiguous and chunked (B-tree v1 node type 1,
  any depth), with deflate (zlib) + shuffle filter pipelines
- attributes v1/v2/v3, including PyTables' pickled-object convention

The file is mmap'ed read-only: range reads touch only the superblock,
header, index nodes, and the chunks overlapping ``[start, stop)`` — the
property that makes one-Spark-task-per-range scans
(`sources/hdf.load_hdf_distributed`) cheap on a shared filesystem, the
distributed generalization of the reference's sequential range loop
(`/root/reference/pandas_to_postgres/copy_hdf.py:175-230`).

Deliberately NOT implemented (raise, never guess): dense v2 groups
(fractal heap link storage), v4 chunk indexes, szip/user filters,
references, opaque/time datatypes.
"""

from __future__ import annotations

import io
import mmap
import pickle
import struct
import zlib
from typing import Dict, Iterator, List, Optional, Tuple

import numpy as np

SIGNATURE = b"\x89HDF\r\n\x1a\n"
UNDEF = 0xFFFFFFFFFFFFFFFF


class Hdf5FormatError(ValueError):
    pass


def _unshuffle(data: bytes, itemsize: int) -> bytes:
    """Inverse of the HDF5 shuffle filter (byte-plane transpose)."""
    n = len(data) // itemsize
    if n * itemsize != len(data):
        # trailing partial element is passed through untouched
        head = np.frombuffer(data[: n * itemsize], dtype=np.uint8)
        tail = data[n * itemsize :]
    else:
        head = np.frombuffer(data, dtype=np.uint8)
        tail = b""
    return head.reshape(itemsize, n).T.tobytes() + tail


class _Datatype:
    """Parsed datatype message → numpy dtype (+ vlen-string marker)."""

    __slots__ = ("np_dtype", "size", "is_vlen_str")

    def __init__(self, np_dtype, size: int, is_vlen_str: bool = False):
        self.np_dtype = np_dtype
        self.size = size
        self.is_vlen_str = is_vlen_str


class _Dataspace:
    __slots__ = ("dims",)

    def __init__(self, dims: Tuple[int, ...]):
        self.dims = dims

    @property
    def nelems(self) -> int:
        n = 1
        for d in self.dims:
            n *= d
        return n


class _Layout:
    __slots__ = ("cls", "addr", "size", "chunk_dims", "btree_addr", "compact")

    def __init__(self):
        self.cls = None  # 0 compact / 1 contiguous / 2 chunked
        self.addr = UNDEF
        self.size = 0
        self.chunk_dims: Tuple[int, ...] = ()
        self.btree_addr = UNDEF
        self.compact = b""


class Dataset:
    """One HDF5 dataset: typed, sliceable along the first dimension."""

    def __init__(self, f: "H5File", name: str):
        self._f = f
        self.name = name
        self.dtype: Optional[_Datatype] = None
        self.space: Optional[_Dataspace] = None
        self.layout: Optional[_Layout] = None
        self.filters: List[Tuple[int, Tuple[int, ...]]] = []
        self.attrs: Dict[str, object] = {}

    @property
    def shape(self) -> Tuple[int, ...]:
        return self.space.dims if self.space else ()

    @property
    def nrows(self) -> int:
        return self.shape[0] if self.shape else 0

    # -------------------------------------------------- data access
    def _defilter(self, raw: bytes, mask: int) -> bytes:
        """Apply the filter pipeline in reverse; bit i of ``mask`` set
        means filter i was SKIPPED when the chunk was written."""
        out = raw
        for i in range(len(self.filters) - 1, -1, -1):
            if mask & (1 << i):
                continue
            fid, cvals = self.filters[i]
            if fid == 1:  # deflate
                out = zlib.decompress(out)
            elif fid == 2:  # shuffle
                out = _unshuffle(out, cvals[0] if cvals else self.dtype.size)
            elif fid == 3:  # fletcher32: payload + 4-byte checksum
                payload, stored = out[:-4], struct.unpack("<I", out[-4:])[0]
                want = fletcher32(payload)
                # Pre-1.6.3 libhdf5 wrote the checksum byte-swapped; the
                # reference filter accepts both orders (H5Zfletcher32.c),
                # so we do too — anything else is corruption and raises
                # per this module's "raise, never guess" policy.
                swapped = struct.unpack(">I", out[-4:])[0]
                if want not in (stored, swapped):
                    raise Hdf5FormatError(
                        "fletcher32 checksum mismatch: "
                        f"stored 0x{stored:08x}, computed 0x{want:08x}"
                    )
                out = payload
            else:
                raise Hdf5FormatError(f"unsupported HDF5 filter id {fid}")
        return out

    def _chunks(self) -> Iterator[Tuple[int, int, int, bytes]]:
        """Yield (first_row, nbytes, filter_mask, addr) per stored chunk
        by walking the v1 chunk B-tree (any depth)."""
        rank = len(self.shape)
        yield from self._f._walk_chunk_btree(self.layout.btree_addr, rank)

    def read_raw(self, start: int = 0, stop: Optional[int] = None) -> np.ndarray:
        """Rows [start, stop) of the dataset as a numpy array (structured
        for compound types). Touches only the chunks that overlap."""
        if self.dtype.is_vlen_str:
            raise Hdf5FormatError(
                "variable-length string DATASETS are not supported (their "
                "payloads live in global heaps); vlen strings decode only "
                "as attributes. PyTables frame_table files use fixed-size "
                "strings."
            )
        n = self.nrows
        stop = n if stop is None else min(stop, n)
        start = max(0, start)
        count = max(0, stop - start)
        dt = self.dtype.np_dtype
        if len(self.shape) > 1:
            row_shape = self.shape[1:]
            row_elems = int(np.prod(row_shape))
        else:
            row_shape, row_elems = (), 1
        rowsize = dt.itemsize * row_elems
        out = np.zeros(count * row_elems, dtype=dt)
        if count == 0:
            return out.reshape((0, *row_shape)) if row_shape else out

        if self.layout.cls == 0:  # compact: data lives in the header
            buf = self.layout.compact
            arr = np.frombuffer(buf, dtype=dt, count=self.space.nelems)
            seg = arr[start * row_elems : stop * row_elems]
            out[:] = seg
        elif self.layout.cls == 1:  # contiguous
            if self.layout.addr == UNDEF:
                raise Hdf5FormatError("dataset has no allocated storage")
            lo = self.layout.addr + start * rowsize
            out[:] = np.frombuffer(
                self._f._mm[lo : lo + count * rowsize], dtype=dt
            )
        elif self.layout.cls == 2:  # chunked
            if len(self.shape) > 1 and tuple(
                self.layout.chunk_dims[1:]
            ) != tuple(self.shape[1:]):
                raise Hdf5FormatError(
                    "only chunking along the first dimension is supported"
                )
            chunk_rows = self.layout.chunk_dims[0]
            for first, nbytes, mask, addr in self._chunks():
                if first >= stop or first + chunk_rows <= start:
                    continue
                raw = self._defilter(
                    bytes(self._f._mm[addr : addr + nbytes]), mask
                )
                chunk = np.frombuffer(raw, dtype=dt)
                lo = max(start, first)
                hi = min(stop, first + chunk_rows)
                src = chunk[(lo - first) * row_elems : (hi - first) * row_elems]
                out[(lo - start) * row_elems : (hi - start) * row_elems] = src
        else:
            raise Hdf5FormatError(f"unsupported layout class {self.layout.cls}")
        return out.reshape((count, *row_shape)) if row_shape else out


class H5File:
    """Minimal read-only HDF5 file. ``with H5File(path) as f: ...``"""

    def __init__(self, path: str):
        self.path = path
        self._fh = open(path, "rb")  # noqa: SIM115 — lifetime == object
        self._mm = mmap.mmap(self._fh.fileno(), 0, access=mmap.ACCESS_READ)
        if self._mm[:8] != SIGNATURE:
            raise Hdf5FormatError(f"{path}: not an HDF5 file")
        self._root = self._parse_superblock()
        self._group_cache: Dict[int, Dict[str, int]] = {}

    # ------------------------------------------------------ plumbing
    def close(self) -> None:
        self._mm.close()
        self._fh.close()

    def __enter__(self) -> "H5File":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _u(self, fmt: str, off: int):
        return struct.unpack_from("<" + fmt, self._mm, off)

    def _parse_superblock(self) -> int:
        """Returns the root group OBJECT HEADER address."""
        ver = self._mm[8]
        if ver in (0, 1):
            so, sl = self._mm[13], self._mm[14]
            if (so, sl) != (8, 8):
                raise Hdf5FormatError("only 8-byte offsets/lengths supported")
            off = 24 if ver == 0 else 28  # v1 adds indexed-storage-k(2)+pad(2)
            (self._base,) = self._u("Q", off)
            if self._base != 0:
                raise Hdf5FormatError("non-zero base address not supported")
            # base, freespace, eof, driver-info, then root symbol entry
            entry = off + 4 * 8
            (_, hdr) = self._u("QQ", entry)  # link name offset, header addr
            return hdr + self._base
        if ver in (2, 3):
            so, sl = self._mm[9], self._mm[10]
            if (so, sl) != (8, 8):
                raise Hdf5FormatError("only 8-byte offsets/lengths supported")
            (self._base, _ext, _eof, root) = self._u("QQQQ", 12)
            if self._base != 0:
                raise Hdf5FormatError("non-zero base address not supported")
            return root + self._base
        raise Hdf5FormatError(f"unsupported superblock version {ver}")

    # ------------------------------------------------- object headers
    def _messages(self, addr: int) -> List[Tuple[int, int, int]]:
        """All (msg_type, body_offset, body_size) of an object header,
        following continuation blocks. Supports header v1 and v2."""
        mm = self._mm
        out: List[Tuple[int, int, int]] = []
        if mm[addr : addr + 4] == b"OHDR":  # v2
            flags = mm[addr + 5]
            p = addr + 6
            if flags & 0x20:
                p += 16  # 4 timestamps
            if flags & 0x10:
                p += 4  # compact/dense attr phase-change
            szsz = 1 << (flags & 0x3)
            size = int.from_bytes(mm[p : p + szsz], "little")
            p += szsz
            # "size of chunk 0" counts only the message bytes — the
            # prefix and trailing checksum are excluded
            blocks = [(p, size)]
            creation_tracked = bool(flags & 0x04)
            bi = 0
            while bi < len(blocks):
                bstart, bsize = blocks[bi]
                bi += 1
                q = bstart
                end = bstart + bsize
                while q + 4 <= end:
                    mtype = mm[q]
                    (msz,) = self._u("H", q + 1)
                    q += 4
                    if creation_tracked:
                        q += 2
                    if mtype == 0x10:  # continuation
                        (coff, clen) = self._u("QQ", q)
                        # OCHK block: 4-byte sig + msgs + 4-byte checksum
                        blocks.append((coff + 4, clen - 8))
                    else:
                        out.append((mtype, q, msz))
                    q += msz
            return out
        # v1
        if mm[addr] != 1:
            raise Hdf5FormatError(f"bad object header at {addr}")
        (nmsg,) = self._u("H", addr + 2)
        (hsize,) = self._u("I", addr + 8)
        blocks = [(addr + 16, hsize)]
        seen = 0
        bi = 0
        while bi < len(blocks) and seen < nmsg:
            bstart, bsize = blocks[bi]
            bi += 1
            q = bstart
            while q + 8 <= bstart + bsize and seen < nmsg:
                (mtype, msz) = self._u("HH", q)
                q += 8
                seen += 1
                if mtype == 0x10:
                    (coff, clen) = self._u("QQ", q)
                    blocks.append((coff, clen))
                elif mtype != 0:
                    out.append((mtype, q, msz))
                q += msz
        return out

    # ------------------------------------------------------- groups
    def _heap_string(self, heap_data: int, off: int) -> str:
        mm = self._mm
        end = mm.find(b"\x00", heap_data + off)
        return mm[heap_data + off : end].decode("utf-8")

    def _walk_group_btree(self, addr: int, heap_data: int, out: Dict[str, int]):
        mm = self._mm
        if mm[addr : addr + 4] != b"TREE":
            raise Hdf5FormatError(f"expected TREE at {addr}")
        level = mm[addr + 5]
        (nent,) = self._u("H", addr + 6)
        p = addr + 8 + 16  # skip siblings
        # alternating key(L) / child(O), nent children
        p += 8  # key 0
        for _ in range(nent):
            (child,) = self._u("Q", p)
            p += 16  # child + next key
            if level > 0:
                self._walk_group_btree(child, heap_data, out)
            else:
                self._read_snod(child, heap_data, out)

    def _read_snod(self, addr: int, heap_data: int, out: Dict[str, int]):
        mm = self._mm
        if mm[addr : addr + 4] != b"SNOD":
            raise Hdf5FormatError(f"expected SNOD at {addr}")
        (nsym,) = self._u("H", addr + 6)
        p = addr + 8
        for _ in range(nsym):
            (name_off, hdr) = self._u("QQ", p)
            out[self._heap_string(heap_data, name_off)] = hdr
            p += 40

    def _group_links(self, hdr_addr: int) -> Dict[str, int]:
        """name → object header address for one group."""
        if hdr_addr in self._group_cache:
            return self._group_cache[hdr_addr]
        links: Dict[str, int] = {}
        for mtype, off, _size in self._messages(hdr_addr):
            if mtype == 0x11:  # symbol table (old-style group)
                (btree, heap) = self._u("QQ", off)
                # local heap: data segment address at +24 (v0 header)
                if self._mm[heap : heap + 4] != b"HEAP":
                    raise Hdf5FormatError(f"expected HEAP at {heap}")
                (heap_data,) = self._u("Q", heap + 24)
                self._walk_group_btree(btree, heap_data, links)
            elif mtype == 0x06:  # compact link message (v2 group)
                name, target = self._parse_link(off)
                if target is not None:
                    links[name] = target
            elif mtype == 0x02:  # link info
                flags_off = off + 1
                flags = self._mm[flags_off]
                p = off + 2 + (8 if flags & 1 else 0)
                (fheap,) = self._u("Q", p)
                if fheap != UNDEF:
                    raise Hdf5FormatError(
                        "dense (fractal-heap) group links not supported"
                    )
        self._group_cache[hdr_addr] = links
        return links

    def _parse_link(self, off: int) -> Tuple[str, Optional[int]]:
        mm = self._mm
        flags = mm[off + 1]
        p = off + 2
        ltype = 0
        if flags & 0x08:
            ltype = mm[p]
            p += 1
        if flags & 0x04:
            p += 8  # creation order
        if flags & 0x10:
            p += 1  # charset
        lsz = 1 << (flags & 0x3)
        nlen = int.from_bytes(mm[p : p + lsz], "little")
        p += lsz
        name = mm[p : p + nlen].decode("utf-8")
        p += nlen
        if ltype == 0:  # hard link
            (target,) = self._u("Q", p)
            return name, target
        return name, None  # soft/external links ignored

    def _resolve(self, path: str) -> int:
        """Path → object header address."""
        addr = self._root
        for part in path.strip("/").split("/"):
            if not part:
                continue
            links = self._group_links(addr)
            if part not in links:
                raise KeyError(f"{path!r}: no object {part!r} in file")
            addr = links[part]
        return addr

    def list_group(self, path: str = "/") -> List[str]:
        return sorted(self._group_links(self._resolve(path)))

    def visit(self) -> Iterator[Tuple[str, int]]:
        """Yield (path, header_addr) for every object, root first. A group
        whose links cannot be read raises, naming it: skipping it would
        hide every key below it."""
        stack = [("/", self._root)]
        while stack:
            path, addr = stack.pop()
            yield path, addr
            try:
                links = self._group_links(addr)
            except Hdf5FormatError as e:
                raise Hdf5FormatError(f"group {path!r}: {e}") from e
            base = path.rstrip("/")
            for name, child in sorted(links.items(), reverse=True):
                stack.append((f"{base}/{name}", child))

    # ----------------------------------------------------- datatypes
    def _parse_datatype(self, off: int) -> Tuple[_Datatype, int]:
        """Parse a datatype at ``off``; returns (dtype, bytes_consumed)."""
        mm = self._mm
        cls = mm[off] & 0x0F
        ver = mm[off] >> 4
        bits = int.from_bytes(mm[off + 1 : off + 4], "little")
        (size,) = self._u("I", off + 4)
        p = off + 8
        order = ">" if bits & 1 else "<"
        if cls == 0:  # fixed-point
            signed = bool(bits & 0x08)
            code = ("i" if signed else "u") + str(size)
            return _Datatype(np.dtype(order + code), size), p + 4 - off
        if cls == 1:  # float
            return _Datatype(np.dtype(order + "f" + str(size)), size), (
                p + 12 - off
            )
        if cls == 3:  # fixed string
            return _Datatype(np.dtype(f"S{size}"), size), p - off
        if cls == 4:  # bitfield (PyTables bools)
            return _Datatype(np.dtype(f"u{size}"), size), p + 4 - off
        if cls == 6:  # compound
            nmembers = bits & 0xFFFF
            names, formats, offsets = [], [], []
            for _ in range(nmembers):
                if ver == 3:
                    end = mm.find(b"\x00", p)
                    name = mm[p:end].decode("utf-8")
                    p = end + 1
                    osz = 1
                    while (1 << (8 * osz)) < size:
                        osz += 1
                    moff = int.from_bytes(mm[p : p + osz], "little")
                    p += osz
                    sub, used = self._parse_datatype(p)
                    p += used
                    shape: Tuple[int, ...] = ()
                else:
                    end = mm.find(b"\x00", p)
                    name = mm[p:end].decode("utf-8")
                    p += ((end - p) // 8 + 1) * 8  # padded to 8
                    (moff,) = self._u("I", p)
                    p += 4
                    if ver == 1:
                        ndims = mm[p]
                        p += 4 + 4 + 4  # dimensionality+reserved, perm, reserved
                        dims = struct.unpack_from("<4I", mm, p)
                        p += 16
                        shape = tuple(int(d) for d in dims[:ndims])
                    else:
                        shape = ()
                    sub, used = self._parse_datatype(p)
                    p += used
                names.append(name)
                offsets.append(moff)
                formats.append((sub.np_dtype, shape) if shape else sub.np_dtype)
            dt = np.dtype(
                {"names": names, "formats": formats, "offsets": offsets,
                 "itemsize": size}
            )
            return _Datatype(dt, size), p - off
        if cls == 8:  # enum → decode as its base type
            base, used = self._parse_datatype(p)
            p += used
            nmem = bits & 0xFFFF
            for _ in range(nmem):  # member names
                end = mm.find(b"\x00", p)
                p = p + ((end - p) // 8 + 1) * 8 if ver < 3 else end + 1
            p += nmem * size  # member values, one base-type value each
            return _Datatype(base.np_dtype, size), p - off
        if cls == 9:  # variable-length
            vtype = bits & 0x0F
            base, used = self._parse_datatype(p)
            p += used
            if vtype == 1:  # vlen string
                return _Datatype(np.dtype("O"), size, is_vlen_str=True), p - off
            raise Hdf5FormatError("vlen sequences not supported")
        if cls == 10:  # array
            ndims = mm[p]
            if ver == 2:
                p += 4
                dims = struct.unpack_from(f"<{ndims}I", mm, p)
                p += 4 * ndims + 4 * ndims  # dims + permutations
            else:
                p += 1
                dims = struct.unpack_from(f"<{ndims}I", mm, p)
                p += 4 * ndims
            base, used = self._parse_datatype(p)
            p += used
            return (
                _Datatype(
                    np.dtype((base.np_dtype, tuple(int(d) for d in dims))), size
                ),
                p - off,
            )
        raise Hdf5FormatError(f"unsupported datatype class {cls}")

    def _parse_dataspace(self, off: int) -> _Dataspace:
        mm = self._mm
        ver = mm[off]
        rank = mm[off + 1]
        flags = mm[off + 2]
        p = off + (8 if ver == 1 else 4)
        dims = struct.unpack_from(f"<{rank}Q", mm, p)
        return _Dataspace(tuple(int(d) for d in dims))

    # ---------------------------------------------------- attributes
    def _global_heap_object(self, addr: int, index: int) -> bytes:
        mm = self._mm
        if mm[addr : addr + 4] != b"GCOL":
            raise Hdf5FormatError(f"expected GCOL at {addr}")
        (total,) = self._u("Q", addr + 8)
        p = addr + 16
        while p < addr + total:
            (idx, _rc) = self._u("HH", p)
            (osz,) = self._u("Q", p + 8)
            if idx == 0:
                break
            if idx == index:
                return bytes(mm[p + 16 : p + 16 + osz])
            p += 16 + ((osz + 7) // 8) * 8
        raise Hdf5FormatError(f"global heap object {index} not found")

    def _decode_value(self, dt: _Datatype, space: _Dataspace, data_off: int):
        mm = self._mm
        n = space.nelems
        if dt.is_vlen_str:
            vals = []
            for i in range(n):
                p = data_off + 16 * i
                (_ln,) = self._u("I", p)
                (gaddr, gidx) = self._u("QI", p + 4)
                vals.append(
                    self._global_heap_object(gaddr, gidx).decode("utf-8")
                )
            return vals[0] if not space.dims else vals
        nbytes = dt.np_dtype.itemsize * n
        arr = np.frombuffer(mm[data_off : data_off + nbytes], dtype=dt.np_dtype)
        if not space.dims:
            v = arr[0]
            if dt.np_dtype.kind == "S":
                return _maybe_unpickle(bytes(v))
            if dt.np_dtype.kind in "iu":
                return int(v)
            if dt.np_dtype.kind == "f":
                return float(v)
            return v
        return arr.reshape(space.dims)

    def _parse_attribute(self, off: int) -> Tuple[str, object]:
        mm = self._mm
        ver = mm[off]
        if ver == 1:
            (nsz, dtsz, dssz) = self._u("HHH", off + 2)
            p = off + 8
            name = mm[p : p + nsz].split(b"\x00")[0].decode("utf-8")
            p += ((nsz + 7) // 8) * 8
            dt, _ = self._parse_datatype(p)
            p += ((dtsz + 7) // 8) * 8
            space = self._parse_dataspace(p)
            p += ((dssz + 7) // 8) * 8
        elif ver in (2, 3):
            (nsz, dtsz, dssz) = self._u("HHH", off + 2)
            p = off + 8 + (1 if ver == 3 else 0)
            name = mm[p : p + nsz].split(b"\x00")[0].decode("utf-8")
            p += nsz
            dt, _ = self._parse_datatype(p)
            p += dtsz
            space = self._parse_dataspace(p)
            p += dssz
        else:
            raise Hdf5FormatError(f"unsupported attribute version {ver}")
        return name, self._decode_value(dt, space, p)

    def attributes(self, path_or_addr) -> Dict[str, object]:
        addr = (
            path_or_addr
            if isinstance(path_or_addr, int)
            else self._resolve(path_or_addr)
        )
        out: Dict[str, object] = {}
        for mtype, off, _sz in self._messages(addr):
            if mtype == 0x0C:
                try:
                    name, value = self._parse_attribute(off)
                    out[name] = value
                except Hdf5FormatError:
                    continue  # exotic attr types: skip, never fail the read
        return out

    # ------------------------------------------------------ datasets
    def dataset(self, path: str) -> Dataset:
        addr = self._resolve(path)
        ds = Dataset(self, path)
        for mtype, off, _sz in self._messages(addr):
            if mtype == 0x01:
                ds.space = self._parse_dataspace(off)
            elif mtype == 0x03:
                ds.dtype, _ = self._parse_datatype(off)
            elif mtype == 0x08:
                ds.layout = self._parse_layout(off)
            elif mtype == 0x0B:
                ds.filters = self._parse_filters(off)
            elif mtype == 0x0C:
                try:
                    name, value = self._parse_attribute(off)
                    ds.attrs[name] = value
                except Hdf5FormatError:
                    continue
        if ds.space is None or ds.dtype is None or ds.layout is None:
            raise Hdf5FormatError(f"{path!r} is not a dataset")
        return ds

    def is_dataset(self, addr: int) -> bool:
        return any(m == 0x08 for m, _o, _s in self._messages(addr))

    def _parse_layout(self, off: int) -> _Layout:
        mm = self._mm
        ver = mm[off]
        lay = _Layout()
        if ver != 3:
            raise Hdf5FormatError(f"unsupported data layout version {ver}")
        lay.cls = mm[off + 1]
        p = off + 2
        if lay.cls == 0:
            (csz,) = self._u("H", p)
            lay.compact = bytes(mm[p + 2 : p + 2 + csz])
        elif lay.cls == 1:
            (lay.addr, lay.size) = self._u("QQ", p)
        elif lay.cls == 2:
            nd = mm[p]  # dataset rank + 1
            (lay.btree_addr,) = self._u("Q", p + 1)
            dims = struct.unpack_from(f"<{nd}I", mm, p + 9)
            lay.chunk_dims = tuple(int(d) for d in dims[: nd - 1])
        else:
            raise Hdf5FormatError(f"unsupported layout class {lay.cls}")
        return lay

    def _parse_filters(self, off: int) -> List[Tuple[int, Tuple[int, ...]]]:
        mm = self._mm
        ver = mm[off]
        nf = mm[off + 1]
        p = off + (8 if ver == 1 else 2)
        out = []
        for _ in range(nf):
            (fid,) = self._u("H", p)
            p += 2
            if ver == 1 or fid >= 256:
                (nlen,) = self._u("H", p)
                p += 2
            else:
                nlen = 0
            (_flags, nvals) = self._u("HH", p)
            p += 4
            if nlen:
                pad = ((nlen + 7) // 8) * 8 if ver == 1 else nlen
                p += pad
            cvals = struct.unpack_from(f"<{nvals}I", mm, p)
            p += 4 * nvals
            if ver == 1 and nvals % 2:
                p += 4
            out.append((fid, tuple(int(v) for v in cvals)))
        return out

    def _walk_chunk_btree(
        self, addr: int, rank: int
    ) -> Iterator[Tuple[int, int, int, int]]:
        mm = self._mm
        if addr == UNDEF:
            return
        if mm[addr : addr + 4] != b"TREE":
            raise Hdf5FormatError(f"expected chunk TREE at {addr}")
        level = mm[addr + 5]
        (nent,) = self._u("H", addr + 6)
        keysize = 8 + 8 * (rank + 1)
        p = addr + 24  # past signature/type/level/entries/siblings
        for _ in range(nent):
            (nbytes, mask) = self._u("II", p)
            (first,) = self._u("Q", p + 8)  # offset along dim 0
            (child,) = self._u("Q", p + keysize)
            if level > 0:
                yield from self._walk_chunk_btree(child, rank)
            else:
                yield int(first), int(nbytes), int(mask), int(child)
            p += keysize + 8


def fletcher32(data: bytes) -> int:
    """HDF5 Fletcher-32 checksum (H5checksum.c H5_checksum_fletcher32):
    big-endian 16-bit words, an odd trailing byte padded with 0x00 low,
    two running sums folded mod 65535. Congruence shortcut: the C code's
    repeated ``(x & 0xffff) + (x >> 16)`` folds are ≡ x (mod 65535) and
    never reach 0 from a nonzero sum, so compute the exact big-int sums
    per slab and take the matching representative at the end."""
    n = len(data)
    words = np.frombuffer(data, dtype=">u2", count=n // 2).astype(np.uint64)
    s1 = 0
    s2 = 0
    slab = 1 << 20  # words*weights fit uint64 per slab (2^16 * 2^20 * 2^20)
    for off in range(0, len(words), slab):
        w = words[off : off + slab]
        k = len(w)
        s2 += s1 * k + int(
            (w * np.arange(k, 0, -1, dtype=np.uint64)).sum()
        )
        s1 += int(w.sum())
    if n % 2:
        s1 += data[-1] << 8
        s2 += s1

    def _rep(x: int) -> int:
        r = x % 65535
        return 65535 if (r == 0 and x != 0) else r

    return (_rep(s2) << 16) | _rep(s1)


class _RestrictedUnpickler(pickle.Unpickler):
    """Unpickler for PyTables/pandas HDF5 attribute values ONLY.

    ``_maybe_unpickle`` runs on every attribute of every opened file, so a
    plain ``pickle.loads`` would execute arbitrary code from an untrusted
    .h5. PyTables attrs only ever pickle builtin scalars/containers and
    numpy scalars/dtypes (GLOBAL opcodes appear only for the numpy
    reconstructors); anything else is refused and the caller falls back
    to returning the raw text."""

    _NUMPY = {
        "dtype",
        "ndarray",
        "bool_",
        "_reconstruct",
        "scalar",
        "datetime64",
        "timedelta64",
    }

    def find_class(self, module: str, name: str):
        if module == "builtins" and name in {
            "complex",
            "bytearray",
            "set",
            "frozenset",
            "slice",
            "range",
        }:
            return getattr(__import__("builtins"), name)
        if (
            module in ("numpy", "numpy.core.multiarray", "numpy._core.multiarray")
            and name in self._NUMPY
        ):
            mod = __import__(module, fromlist=[name])
            return getattr(mod, name)
        raise pickle.UnpicklingError(
            f"attribute pickle references disallowed global {module}.{name}"
        )


def _maybe_unpickle(raw: bytes):
    """PyTables convention: non-scalar attribute values are stored as
    pickled byte strings. Protocol-2+ pickles start with b'\\x80'; try
    those through a restricted unpickler (builtin containers + numpy
    scalars/dtypes only — attrs of untrusted files must not execute
    code), fall back to utf-8 text (trailing NULs stripped)."""
    if raw[:1] == b"\x80":
        try:
            return _RestrictedUnpickler(io.BytesIO(raw)).load()
        except Exception:
            pass
    return raw.rstrip(b"\x00").decode("utf-8", errors="replace")
