"""Executable HDF5 path (SURVEY.md §2.1 S2/S3/S4/S7).

Round-trips real HDF5 bytes — written by the repo's own pure-Python
writer in the PyTables frame_table dialect — through the pure-Python
parser, the pandas layer, and the Spark sources. This flips S2–S4/S7
from planning-logic-only to executed reads in a container without
PyTables, covering the reference's signature capability
(`/root/reference/pandas_to_postgres/copy_hdf.py:175-230`).
"""

import os

import numpy as np
import pandas as pd
import pytest

from pandas_to_postgres_spark import compat
from pandas_to_postgres_spark.sources import hdf, hdf5_pandas
from pandas_to_postgres_spark.sources.hdf5_reader import H5File, Hdf5FormatError
from pandas_to_postgres_spark.sources.hdf5_writer import write_frame_table


def _frame(n=500, seed=0):
    rs = np.random.RandomState(seed)
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "val": rs.randn(n),
            "name": [f"item_{i % 23}" for i in range(n)],
            "ok": (np.arange(n) % 3 == 0),
        }
    )


def naive_ts_part(dirpath, n=3):
    """``{dirpath}/part-00000.h5`` holding key ``data``: int64 ``id`` and
    a naive ``ts`` (int64 field + ``ts_dtype="datetime64"``, as PyTables
    writes one) of 2024-01-01 00:00 plus ``id`` hours."""
    import pandas_to_postgres_spark.sources.hdf5_writer as w

    rec = np.zeros(n, dtype=[("index", "<i8"), ("id", "<i8"), ("ts", "<i8")])
    rec["index"] = rec["id"] = np.arange(n)
    rec["ts"] = (np.datetime64("2024-01-01T00:00", "ns") + np.arange(n) * np.timedelta64(1, "h")).view("<i8")
    attrs = {"CLASS": "TABLE", "NROWS": n, "ts_dtype": "datetime64", "non_index_axes": [(1, ["id", "ts"])]}
    b = w._FileBuilder()
    gaddr = b.write_group({"table": b.write_table(rec, attrs, chunk_rows=16, complevel=0)},
                          {"pandas_type": "frame_table"})
    p = os.path.join(str(dirpath), "part-00000.h5")
    with open(p, "wb") as fh:
        fh.write(b.finish(b.write_group({"data": gaddr}, {})))
    return p


@pytest.fixture()
def h5(tmp_path):
    p = str(tmp_path / "t.h5")
    write_frame_table(p, {"data": _frame()}, chunk_rows=64)
    return p


class TestReaderRoundTrip:
    def test_basic_fields_and_dtypes(self, h5):
        df = _frame()
        with H5File(h5) as f:
            ds = f.dataset("/data/table")
            assert ds.nrows == len(df)
            arr = ds.read_raw()
            assert (arr["id"] == df["id"].values).all()
            assert np.allclose(arr["val"], df["val"].values)
            assert [x.decode() for x in arr["name"]] == list(df["name"])
            assert (arr["ok"].astype(bool) == df["ok"].values).all()
            assert ds.attrs["CLASS"] == "TABLE"
            assert ds.attrs["NROWS"] == len(df)

    def test_range_reads_touch_only_overlap(self, h5):
        with H5File(h5) as f:
            ds = f.dataset("/data/table")
            seg = ds.read_raw(100, 260)
            assert (seg["id"] == np.arange(100, 260)).all()
            # clamped bounds
            assert len(ds.read_raw(480, 10_000)) == 20
            assert len(ds.read_raw(490, 490)) == 0

    def test_compressed_shuffle_deflate(self, tmp_path):
        p = str(tmp_path / "c.h5")
        df = _frame(4000, seed=1)
        write_frame_table(p, {"c": df}, chunk_rows=256, complevel=6)
        with H5File(p) as f:
            ds = f.dataset("/c/table")
            assert [fid for fid, _ in ds.filters] == [2, 1]  # shuffle, deflate
            arr = ds.read_raw(1000, 1300)
            assert (arr["id"] == np.arange(1000, 1300)).all()
            assert np.allclose(arr["val"], df["val"].values[1000:1300])
        # compression actually shrank the payload
        plain = str(tmp_path / "p.h5")
        write_frame_table(plain, {"c": df}, chunk_rows=256)
        assert os.path.getsize(p) < os.path.getsize(plain) * 0.8

    def test_level1_chunk_btree(self, tmp_path):
        p = str(tmp_path / "b.h5")
        df = pd.DataFrame({"a": np.arange(10_000, dtype=np.int64)})
        write_frame_table(p, {"big": df}, chunk_rows=100)  # 100 chunks > 32
        with H5File(p) as f:
            ds = f.dataset("/big/table")
            assert (ds.read_raw()["a"] == np.arange(10_000)).all()
            assert (ds.read_raw(9_876, 9_999)["a"] == np.arange(9_876, 9_999)).all()

    def test_nested_groups_and_visit(self, tmp_path):
        p = str(tmp_path / "n.h5")
        write_frame_table(
            p,
            {
                "grp/inner": pd.DataFrame({"v": [1.5, 2.5]}),
                "top": pd.DataFrame({"s": ["x", "yy", "zzz"]}),
            },
            chunk_rows=2,
        )
        with H5File(p) as f:
            assert f.list_group("/") == ["grp", "top"]
            assert f.list_group("/grp") == ["inner"]
            assert np.allclose(f.dataset("/grp/inner/table").read_raw()["v"], [1.5, 2.5])
            paths = [pth for pth, _ in f.visit()]
            assert "/grp/inner/table" in paths and "/top/table" in paths

    def test_empty_frame(self, tmp_path):
        p = str(tmp_path / "e.h5")
        write_frame_table(p, {"e": pd.DataFrame({"a": np.array([], dtype=np.int64)})})
        with H5File(p) as f:
            ds = f.dataset("/e/table")
            assert ds.nrows == 0
            assert len(ds.read_raw()) == 0

    def test_pickled_attr_convention(self, h5):
        with H5File(h5) as f:
            ds = f.dataset("/data/table")
            # non-scalar attrs round-trip through the PyTables pickle slot
            assert ds.attrs["non_index_axes"] == [(1, ["id", "val", "name", "ok"])]
            ga = f.attributes("/data")
            assert ga["pandas_type"] == "frame_table"

    def test_attr_unpickle_is_restricted(self):
        """Attribute pickles from untrusted files must not execute code:
        only builtin containers/scalars and numpy scalar/dtype globals
        resolve; anything else falls back to the raw-text path."""
        import pickle

        from pandas_to_postgres_spark.sources.hdf5_reader import _maybe_unpickle

        # benign PyTables-shaped payloads round-trip
        assert _maybe_unpickle(pickle.dumps([(1, ["a", "b"])])) == [(1, ["a", "b"])]
        assert _maybe_unpickle(pickle.dumps({"k": (1.5, None)})) == {"k": (1.5, None)}
        assert _maybe_unpickle(pickle.dumps({1, 2})) == {1, 2}
        v = _maybe_unpickle(pickle.dumps(np.int64(7)))
        assert int(v) == 7
        assert _maybe_unpickle(pickle.dumps(np.dtype("<i8"))) == np.dtype("<i8")

        # a malicious GLOBAL (os.system) must NOT resolve — the fallback
        # returns decoded text instead of calling anything
        evil = b"\x80\x04\x95!\x00\x00\x00\x00\x00\x00\x00\x8c\x02os\x94\x8c\x06system\x94\x93\x94\x8c\x08echo pwn\x94\x85\x94R\x94."
        out = _maybe_unpickle(evil)
        assert isinstance(out, str)  # fell back to text, did not execute

        # any non-allowlisted global (importable but not sanctioned)
        # likewise falls back instead of resolving
        import fractions

        out2 = _maybe_unpickle(pickle.dumps(fractions.Fraction(1, 2)))
        assert isinstance(out2, str)

    def test_not_hdf5_rejected(self, tmp_path):
        p = str(tmp_path / "x.bin")
        with open(p, "wb") as fh:
            fh.write(b"definitely not hdf5 bytes" * 4)
        with pytest.raises(Hdf5FormatError):
            H5File(p)

    def test_missing_key_raises(self, h5):
        with H5File(h5) as f:
            with pytest.raises(KeyError):
                f.dataset("/nope/table")


class TestPandasLayer:
    def test_read_hdf_matches_source(self, h5):
        df = _frame()
        got = hdf5_pandas.read_hdf(h5, "data")
        assert list(got.columns) == ["id", "val", "name", "ok"]
        assert (got["id"].values == df["id"].values).all()
        assert np.allclose(got["val"].values, df["val"].values)
        assert (got["name"].values == df["name"].values).all()
        assert got["ok"].dtype == bool
        assert (got["ok"].values == df["ok"].values).all()
        assert (got.index.values == np.arange(len(df))).all()

    def test_range_and_columns(self, h5):
        got = hdf5_pandas.read_hdf(h5, "data", start=37, stop=81, columns=["id", "ok"])
        assert list(got.columns) == ["id", "ok"]
        assert (got["id"].values == np.arange(37, 81)).all()

    def test_unreadable_group_fails_the_key_listing(self, tmp_path, monkeypatch):
        """A group whose links cannot be read (e.g. dense fractal-heap
        links) raises naming it, instead of its keys going missing."""
        p = str(tmp_path / "k.h5")
        write_frame_table(p, {"a": _frame(3), "b": _frame(3), "c": _frame(3)})
        with H5File(p) as f:
            bad = f._resolve("/b")
        links = H5File._group_links

        def group_links(self, addr):
            if addr == bad:
                raise Hdf5FormatError("dense (fractal-heap) group links not supported")
            return links(self, addr)

        monkeypatch.setattr(H5File, "_group_links", group_links)
        with pytest.raises(Hdf5FormatError, match="'/b'"):
            hdf.hdf_keys(p)

    def test_nrows_keys_attrs(self, h5):
        assert hdf5_pandas.get_nrows(h5, "data") == 500
        assert hdf5_pandas.list_keys(h5) == ["/data"]
        ga = hdf5_pandas.group_attrs(h5, "data")
        assert ga["pandas_type"] == "frame_table"

    def test_block_dialect_decoding(self, tmp_path):
        """values_block_N members + pickled <field>_kind lists — the
        ``to_hdf`` default (no data_columns). Synthesized via a numpy
        structured array with a 2-wide float member."""
        import pandas_to_postgres_spark.sources.hdf5_writer as w

        n = 40
        rec = np.zeros(
            n,
            dtype=np.dtype(
                [("index", "<i8"), ("values_block_0", "<f8", (2,)), ("city", "S6")]
            ),
        )
        rec["index"] = np.arange(n)
        rs = np.random.RandomState(3)
        rec["values_block_0"] = rs.randn(n, 2)
        rec["city"] = [f"c{i % 5}".encode() for i in range(n)]
        attrs = {
            "CLASS": "TABLE",
            "NROWS": n,
            "values_block_0_kind": ["price", "qty"],
            "city_kind": ["city"],
            "non_index_axes": [(1, ["price", "qty", "city"])],
        }
        b = w._FileBuilder()
        taddr = b.write_table(rec, attrs, chunk_rows=16, complevel=0)
        gaddr = b.write_group({"table": taddr}, {"pandas_type": "frame_table"})
        root = b.write_group({"blk": gaddr}, {})
        p = str(tmp_path / "blk.h5")
        with open(p, "wb") as fh:
            fh.write(b.finish(root))

        got = hdf5_pandas.read_hdf(p, "blk", start=5, stop=25)
        assert list(got.columns) == ["price", "qty", "city"]
        assert np.allclose(got["price"].values, rec["values_block_0"][5:25, 0])
        assert np.allclose(got["qty"].values, rec["values_block_0"][5:25, 1])
        assert (got["city"].values == [f"c{i % 5}" for i in range(5, 25)]).all()


class TestTypeRule:
    def test_widens_unsigned_truncates_ns_and_rejects_the_rest(self, monkeypatch):
        """`sources/hdf.read_hdf_range` types a decoded batch by the one
        HDF5 type rule: uint8/16/32 widen (Spark has no unsigned type), a
        naive ns timestamp truncates to a naive µs one, and any other
        dtype raises naming its column."""
        import pyarrow as pa

        def read_as(*arrays):
            batch = pa.RecordBatch.from_arrays(
                [pa.array(a) for a in arrays], names=[f"c{i}" for i in range(len(arrays))]
            )
            monkeypatch.setattr(hdf5_pandas, "read_batch", lambda *_: batch)
            return hdf.read_hdf_range("f.h5", "k")

        got = read_as(
            np.array([255], dtype=np.uint8),
            np.array([65535], dtype=np.uint16),
            np.array([2**32 - 1], dtype=np.uint32),
            np.array(["2024-01-01T00:00:00.123456789"], dtype="M8[ns]"),
            pa.array(["x"]),
        )
        assert got.schema.types == [
            pa.int16(), pa.int32(), pa.int64(), pa.timestamp("us"), pa.string()
        ]
        assert got.column("c2")[0].as_py() == 2**32 - 1
        assert str(got.column("c3")[0]) == "2024-01-01 00:00:00.123456"
        for bad in (np.array([1], dtype=np.uint64), pa.array([1], pa.timestamp("us", tz="UTC"))):
            with pytest.raises(TypeError, match=r"'k'.*\(c0\)"):
                read_as(bad)


class TestSparkSources:
    def test_load_hdf_distributed(self, spark, tmp_path):
        p = str(tmp_path / "d.h5")
        df = _frame(5000, seed=2)
        write_frame_table(p, {"data": df}, chunk_rows=512, complevel=4)
        sdf = hdf.load_hdf_distributed(spark, p, "data", chunk_rows=1000)
        assert sdf.rdd.getNumPartitions() == 5  # one task per range
        got = sdf.toPandas().sort_values("id").reset_index(drop=True)
        assert len(got) == 5000
        assert (got["id"].values == df["id"].values).all()
        assert np.allclose(got["val"].values, df["val"].values)
        assert (got["name"].values == df["name"].values).all()
        assert (got["ok"].values == df["ok"].values).all()
        # range i is read by task i straight off spark.range: no shuffle
        assert "Exchange" not in sdf._jdf.queryExecution().executedPlan().toString()

    @pytest.mark.parametrize("arrow", ["true", "false"])
    def test_one_schema_whatever_arrow_conf(self, spark, tmp_path, arrow):
        """Every HDF5 read path gives one file the same rows and schema,
        whatever ``spark.sql.execution.arrow.pyspark.enabled`` says:
        float32 stays ``float``."""
        from pyspark.sql import types as T

        from pandas_to_postgres_spark.sinks.hdf import load_hdf_dir
        from pandas_to_postgres_spark.sources.hdf5_stream import Hdf5DataSource

        d = str(tmp_path / "f32")
        os.makedirs(d)
        df = _frame(250, seed=9).assign(
            f32=lambda x: x["val"].astype(np.float32)
        )
        p = os.path.join(d, "part-00000.h5")
        write_frame_table(p, {"data": df}, chunk_rows=64)
        spark.dataSource.register(Hdf5DataSource)
        conf = "spark.sql.execution.arrow.pyspark.enabled"
        old = spark.conf.get(conf)
        spark.conf.set(conf, arrow)
        try:
            reads = {
                "distributed": hdf.load_hdf_distributed(spark, p, "data", 100),
                "dir": load_hdf_dir(spark, d, "data", chunk_rows=100),
                "format": spark.read.format("hdf5").option("path", d)
                .option("chunkRows", 100).load(),
                "big=False": compat.HDFTableCopy(
                    p, ["data"], spark, sink=None, table_name="t", big=False
                )._load(formatted=False),
            }
            schemas = {name: r.schema for name, r in reads.items()}
            rows = {name: sorted(r.collect()) for name, r in reads.items()}
        finally:
            spark.conf.set(conf, old)
        assert schemas["distributed"]["f32"].dataType == T.FloatType()
        assert all(s == schemas["distributed"] for s in schemas.values()), schemas
        assert len(rows["distributed"]) == 250
        assert all(r == rows["distributed"] for r in rows.values())

    def test_naive_timestamp_reads_as_written_in_any_session_zone(self, spark, tmp_path):
        """A naive ``datetime64`` column is TIMESTAMP_NTZ on every read
        path, so a non-UTC session reads the wall time as written."""
        import datetime

        from pyspark.sql import types as T

        from pandas_to_postgres_spark.sinks.hdf import load_hdf_dir
        from pandas_to_postgres_spark.sources.hdf5_stream import Hdf5DataSource

        p = naive_ts_part(tmp_path)
        spark.dataSource.register(Hdf5DataSource)
        conf = "spark.sql.session.timeZone"
        old = spark.conf.get(conf)
        spark.conf.set(conf, "America/New_York")
        try:
            reads = {
                "distributed": hdf.load_hdf_distributed(spark, p, "data", 2),
                "dir": load_hdf_dir(spark, str(tmp_path), "data", chunk_rows=2),
                "format": spark.read.format("hdf5").option("path", str(tmp_path))
                .option("chunkRows", 2).load(),
                "big=False": compat.HDFTableCopy(
                    p, ["data"], spark, sink=None, table_name="t", big=False
                )._load(formatted=False),
            }
            schemas = {name: r.schema for name, r in reads.items()}
            rows = {name: sorted(r.collect()) for name, r in reads.items()}
        finally:
            spark.conf.set(conf, old)
        assert schemas["distributed"]["ts"].dataType == T.TimestampNTZType()
        assert all(s == schemas["distributed"] for s in schemas.values()), schemas
        assert all(r == rows["distributed"] for r in rows.values()), rows
        assert [r.ts for r in rows["distributed"]] == [
            datetime.datetime(2024, 1, 1, h) for h in range(3)
        ]

    def test_later_part_file_is_cast_to_the_first_files_schema(self, spark, tmp_path):
        """A part file whose column is ``float32`` where the first file's
        is ``float64`` reads as ``double`` with its values unchanged."""
        from pyspark.sql import types as T

        from pandas_to_postgres_spark.sinks.hdf import load_hdf_dir
        from pandas_to_postgres_spark.sources.hdf5_stream import Hdf5DataSource

        first, second = _frame(40, seed=1), _frame(30, seed=2)
        second["id"] += 40
        second["val"] = second["val"].astype(np.float32)
        write_frame_table(str(tmp_path / "part-00000.h5"), {"data": first}, chunk_rows=16)
        write_frame_table(str(tmp_path / "part-00001.h5"), {"data": second}, chunk_rows=16)
        spark.dataSource.register(Hdf5DataSource)
        want = np.concatenate([first["val"].values, second["val"].values.astype(np.float64)])
        for df in (
            load_hdf_dir(spark, str(tmp_path), "data", chunk_rows=16),
            spark.read.format("hdf5").option("path", str(tmp_path)).option("chunkRows", 16).load(),
        ):
            assert df.schema["val"].dataType == T.DoubleType()
            got = df.toPandas().sort_values("id")
            assert (got["id"].values == np.arange(70)).all()
            assert (got["val"].values == want).all()

    def test_empty_key_reads_with_full_schema(self, spark, tmp_path):
        """A 0-row key is valid input (`utilities.py:107-108`): it reads
        as 0 rows with the schema of a full key, and a routed table with
        an empty slice still loads its other keys."""
        p = str(tmp_path / "e.h5")
        write_frame_table(
            p,
            {"s1": _frame(20), "s2": _frame(20).iloc[:0], "solo": _frame(5)},
            group_meta={
                "s1": {"pg_meta": {"sql_table_name": "t"}},
                "s2": {"pg_meta": {"sql_table_name": "t"}},
            },
        )
        full = hdf.load_hdf_distributed(spark, p, "s1", 8).schema
        empty = hdf.load_hdf_distributed(spark, p, "s2", 8)
        assert empty.schema == full and empty.count() == 0
        small = compat.HDFTableCopy(
            p, ["s2"], spark, sink=None, table_name="t", big=False
        )._load(formatted=False)
        assert small.schema == full and small.count() == 0
        seen = {}
        compat.hdf_to_postgres(
            p, spark, lambda name, df: seen.__setitem__(name, df.count()),
            metadata_attr="pg_meta", big=True, hdf_chunksize=8,
        )
        assert seen == {"t": 20, "solo": 5}

    def test_hdf_nrows_and_metadata_routing(self, spark, tmp_path):
        p = str(tmp_path / "m.h5")
        write_frame_table(
            p,
            {
                "a_slice1": _frame(10),
                "a_slice2": _frame(10),
                "meta_only/skipme": _frame(3),
            },
            group_meta={
                "a_slice1": {"pg_meta": {"sql_table_name": "a", "levels": 2}},
                "a_slice2": {"pg_meta": {"sql_table_name": "a", "levels": 2}},
            },
        )
        assert hdf.hdf_nrows(p, "a_slice1") == 10
        routing, mvars = hdf.hdf_metadata(
            p, metadata_attr="pg_meta", metadata_keys=("levels",)
        )
        # '/meta' keys skipped (utilities.py:56-61); slices route to one table
        assert routing == {"a": {"/a_slice1", "/a_slice2"}}
        assert mvars == {"levels": {"/a_slice1": 2, "/a_slice2": 2}}

    def test_compat_hdf_copy_executes(self, spark, tmp_path):
        """The reference's HDFTableCopy drive now EXECUTES: two HDF keys
        union into one sink table (`copy_hdf.py:98-120`)."""
        p = str(tmp_path / "cc.h5")
        write_frame_table(
            p, {"s1": _frame(20, seed=4), "s2": _frame(30, seed=5)}, chunk_rows=16
        )
        seen = {}
        copy = compat.HDFTableCopy(
            file_name=p,
            hdf_tables=["s1", "s2"],
            spark=spark,
            sink=lambda name, df: seen.__setitem__(name, df.count()),
            table_name="t",
            big=True,
            hdf_chunksize=12,
        )
        copy.copy()
        assert seen == {"t": 50}

    def test_compat_copy_takes_rows_from_the_sink(self, spark, tmp_path):
        """A sink that returns the rows it loaded spares the copy a second
        scan of the source: no Spark job runs after the sink's."""
        p = str(tmp_path / "rows.h5")
        write_frame_table(p, {"k": _frame(4000)}, chunk_rows=500)
        sc = spark.sparkContext
        group = "compat-copy-rows"
        seen = {}

        def sink(name, df):
            n = df.count()
            seen["jobs"] = set(sc.statusTracker().getJobIdsForGroup(group))
            return n

        copy = compat.HDFTableCopy(
            p, ["k"], spark, sink, "t", big=True, hdf_chunksize=1000
        )
        sc.setJobGroup(group, "compat copy rows")
        try:
            copy.copy()
            after = set(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            for prop in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
                sc.setLocalProperty(f"spark.{prop}", None)
        assert copy.rows == 4000
        assert seen["jobs"] and after == seen["jobs"]


class TestSliceScan:
    """``scan_hdf``'s DataFrame keeps its slice plan through name-only
    ``select``, ``coalesce`` and ``unionByName`` of same-column scans, and
    the plan yields the DataFrame's rows; anything else is Spark's plain
    DataFrame, with Spark's result and errors."""

    @pytest.fixture()
    def scans(self, spark, tmp_path):
        p = str(tmp_path / "ss.h5")
        a = _frame(40, seed=3)
        b = _frame(30, seed=4)[["name", "ok", "id", "val"]].assign(id=lambda x: x["id"] + 40)
        write_frame_table(p, {"a": a, "b": b}, chunk_rows=8)
        scans = {k: hdf.scan_hdf(spark, [p], k, 9) for k in "ab"}
        # the writer widens every int to int64: lay out an int32 id by hand
        import pandas_to_postgres_spark.sources.hdf5_writer as w

        c = _frame(20, seed=5)
        rec = np.zeros(20, dtype=[("index", "<i8"), ("id", "<i4"), ("val", "<f8")])
        rec["index"], rec["id"], rec["val"] = np.arange(20), c["id"] + 100, c["val"]
        attrs = {"CLASS": "TABLE", "NROWS": 20, "non_index_axes": [(1, ["id", "val"])]}
        fb = w._FileBuilder()
        group = fb.write_group(
            {"table": fb.write_table(rec, attrs, chunk_rows=8, complevel=0)},
            {"pandas_type": "frame_table"},
        )
        with open(tmp_path / "i32.h5", "wb") as fh:
            fh.write(fb.finish(fb.write_group({"c": group}, {})))
        scans["c"] = hdf.scan_hdf(spark, [str(tmp_path / "i32.h5")], "c", 9)
        return scans

    @staticmethod
    def _plain(df):
        from pyspark.sql.classic.dataframe import DataFrame

        return DataFrame(df._jdf, df.sparkSession)

    @staticmethod
    def _by_partition(df):
        from pyspark.sql import functions as F

        return sorted(df.withColumn("__part", F.spark_partition_id()).collect())

    def test_plan_keeping_operations(self, scans):
        """Each kept operation returns a scan whose slice plan yields the
        DataFrame's rows, partition by partition."""
        a, b = scans["a"], scans["b"]
        kept = {
            "scan": a,
            "select": a.select("val", "id"),
            "select list": a.select(["name"]),
            "coalesce": a.coalesce(2),
            "unionByName": a.unionByName(b),
            "chain": b.unionByName(a).unionByName(b).select("id", "name").coalesce(3),
        }
        for name, got in kept.items():
            assert isinstance(got, hdf.SliceScan), name
            ids, read = got.slice_plan()
            fused = ids.mapInArrow(read, got.schema)
            assert fused.rdd.getNumPartitions() == got.rdd.getNumPartitions(), name
            assert self._by_partition(fused) == self._by_partition(got), name
        assert kept["unionByName"].count() == 70 and kept["chain"].count() == 100

    def test_other_operations_are_plain_with_the_same_result(self, scans):
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        from pandas_to_postgres_spark.functions.normalize import apply_formatters

        a, b = scans["a"], scans["b"]
        plain_a = self._plain(a)

        def formatter(df):
            return df.withColumn("val", F.col("val") * 2)

        other = {
            "withColumn": (a.withColumn("z", F.lit(1)), plain_a.withColumn("z", F.lit(1))),
            "filter": (a.filter("id > 10"), plain_a.filter("id > 10")),
            "formatter": (apply_formatters(a, [formatter]), formatter(plain_a)),
            "select expr": (a.select(F.col("id")), plain_a.select(F.col("id"))),
            "select case": (a.select("ID"), plain_a.select("ID")),
            "select repeated": (a.select("id", "id"), plain_a.select("id", "id")),
            "unionByName subset": (
                a.unionByName(b.select("id", "val"), allowMissingColumns=True),
                plain_a.unionByName(self._plain(b).select("id", "val"), allowMissingColumns=True),
            ),
        }
        for name, (got, want) in other.items():
            assert not isinstance(got, hdf.SliceScan), name
            assert got.columns == want.columns, name
            assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str), name
        with pytest.raises(AnalysisException, match="Cannot resolve column name"):
            a.unionByName(b.select("id", "val"))

    def test_int32_and_int64_keys_widen_to_bigint(self, scans):
        """A key pair whose ``id`` is int32 in one and int64 in the other
        unions as Spark unions them: ``id`` bigint, every row."""
        a = scans["a"].select("id", "val")
        assert scans["c"].schema["id"].dataType.simpleString() == "int"
        for pair in ((a, scans["c"]), (scans["c"], a)):
            got = pair[0].unionByName(pair[1])
            assert not isinstance(got, hdf.SliceScan)
            assert got.schema["id"].dataType.simpleString() == "bigint"
            assert sorted(r.id for r in got.collect()) == list(range(40)) + list(range(100, 120))

    def test_formatted_copy_lands_formatted_rows(self, spark, tmp_path):
        from pyspark.sql import functions as F

        p = str(tmp_path / "fmt.h5")
        write_frame_table(p, {"s1": _frame(20, seed=1), "s2": _frame(10, seed=2)}, chunk_rows=8)
        seen = {}

        def sink(name, df):
            seen[name] = (type(df), sorted(df.collect()))

        def formatter(df, hdf_table=None):
            return df.select("id", F.lit(hdf_table).alias("key"))

        compat.HDFTableCopy(
            p, ["s1", "s2"], spark, sink, "t", big=True, hdf_chunksize=6, formatters=[formatter]
        ).copy()
        kind, rows = seen["t"]
        assert not issubclass(kind, hdf.SliceScan)
        assert sorted((r.key, r.id) for r in rows) == sorted(
            [("s1", i) for i in range(20)] + [("s2", i) for i in range(10)]
        )


class TestHdfSink:
    def test_write_dir_roundtrip(self, spark, tmp_path):
        from pandas_to_postgres_spark.sinks.hdf import load_hdf_dir, write_hdf_dir

        df = _frame(2000, seed=7)
        sdf = spark.createDataFrame(df).repartition(6)
        out = str(tmp_path / "hdfdir")
        nparts = write_hdf_dir(sdf, out, key="t", chunk_rows=128, complevel=4)
        assert 1 <= nparts <= 6
        assert len(os.listdir(out)) == nparts
        loaded = load_hdf_dir(spark, out, key="t", chunk_rows=300)
        back = loaded.toPandas().sort_values("id").reset_index(drop=True)
        assert "Exchange" not in loaded._jdf.queryExecution().executedPlan().toString()
        assert len(back) == 2000
        assert (back["id"].values == df["id"].values).all()
        assert np.allclose(back["val"].values, df["val"].values)
        assert (back["name"].values == df["name"].values).all()
        assert (back["ok"].values == df["ok"].values).all()

    def test_empty_partitions_skipped(self, spark, tmp_path):
        from pandas_to_postgres_spark.sinks.hdf import load_hdf_dir, write_hdf_dir

        sdf = spark.createDataFrame(_frame(3)).repartition(8)
        out = str(tmp_path / "sparse")
        nparts = write_hdf_dir(sdf, out)
        assert nparts <= 3  # empty partitions write nothing
        back = load_hdf_dir(spark, out).toPandas()
        assert sorted(back["id"]) == [0, 1, 2]

    def test_failed_overwrite_keeps_previous_dataset(self, spark, tmp_path):
        """Overwrite is committed by the job: a write that fails in one
        partition leaves the previous dataset whole and no temp files."""
        import glob
        import time

        from pyspark.sql import functions as F

        from pandas_to_postgres_spark.sinks.hdf import load_hdf_dir, write_hdf_dir

        out = str(tmp_path / "atomic")
        nparts = write_hdf_dir(spark.createDataFrame(_frame(300)).repartition(3), out)

        @F.udf("long")
        def boom(i):
            if i == 33:
                time.sleep(1)  # the other partitions stage their files first
                raise ValueError("boom")
            return i

        bad = spark.range(0, 40, numPartitions=4).select(boom("id").alias("id"))
        with pytest.raises(Exception, match="boom"):
            write_hdf_dir(bad, out)
        back = load_hdf_dir(spark, out).toPandas()
        assert sorted(back["id"]) == list(range(300))
        assert len(glob.glob(os.path.join(out, "part-*.h5"))) == nparts
        assert glob.glob(os.path.join(out, ".tmp-*")) == []

    def test_unsupported_dtype_rejected(self, spark):
        from pandas_to_postgres_spark.sinks.hdf import write_hdf_dir
        from pyspark.sql import functions as F

        sdf = spark.range(3).select(F.current_timestamp().alias("ts"))
        with pytest.raises(TypeError, match="unsupported"):
            write_hdf_dir(sdf, "/tmp/never-written")

    def test_single_file_guard(self, spark, tmp_path):
        from pandas_to_postgres_spark.sinks.hdf import write_hdf_single
        from pandas_to_postgres_spark.sources import hdf5_pandas

        sdf = spark.createDataFrame(_frame(50))
        p = str(tmp_path / "one.h5")
        n = write_hdf_single(sdf, p, key="dim")
        assert n == 50
        assert hdf5_pandas.get_nrows(p, "dim") == 50
        with pytest.raises(ValueError, match="max_rows"):
            write_hdf_single(sdf, p, max_rows=10)


class TestV2Dialect:
    """Hand-assembled superblock-v2 file: OHDR v2 object headers, compact
    Link messages (v2 groups), v3 attributes, contiguous layout — the
    newer-libhdf5 paths the frame_table writer (v0/v1 dialect) never
    emits, so they get their own byte-level fixture."""

    @staticmethod
    def _build(tmp_path):
        import struct

        from pandas_to_postgres_spark.sources import hdf5_writer as w

        UNDEF = 0xFFFFFFFFFFFFFFFF
        buf = bytearray(b"\x00" * 48)  # superblock v2 is 48 bytes

        def alloc(b):
            while len(buf) % 8:
                buf.append(0)
            a = len(buf)
            buf.extend(b)
            return a

        def ohdr(messages):
            body = b"".join(
                struct.pack("<BHB", m, len(mb), 0) + mb for m, mb in messages
            )
            return (
                b"OHDR" + bytes([2, 0]) + bytes([len(body)]) + body + b"\x00" * 4
            )

        def attr3(name, dtb, dsb, data):
            nm = name.encode() + b"\x00"
            return (
                bytes([3, 0])
                + struct.pack("<HHH", len(nm), len(dtb), len(dsb))
                + bytes([0])
                + nm
                + dtb
                + dsb
                + data
            )

        def link(name, target):
            nm = name.encode()
            return bytes([1, 0, len(nm)]) + nm + struct.pack("<Q", target)

        vals = np.arange(10, dtype=np.int64)
        data_addr = alloc(vals.tobytes())
        dt_i8 = w._dt_int(8)
        ds_msg = w._dataspace((10,))
        layout = struct.pack("<BBQQ", 3, 1, data_addr, 80)  # v3 contiguous
        dset = alloc(
            ohdr(
                [
                    (0x01, ds_msg),
                    (0x03, dt_i8),
                    (0x08, layout),
                    (
                        0x0C,
                        attr3(
                            "UNITS",
                            w._dt_string(5),
                            w._dataspace(()),
                            b"meter",
                        ),
                    ),
                ]
            )
        )
        grp = alloc(ohdr([(0x06, link("t", dset))]))
        root = alloc(ohdr([(0x06, link("g", grp))]))
        sb = (
            b"\x89HDF\r\n\x1a\n"
            + bytes([2, 8, 8, 0])
            + struct.pack("<QQQQ", 0, UNDEF, len(buf), root)
            + b"\x00" * 4
        )
        buf[: len(sb)] = sb
        p = str(tmp_path / "v2.h5")
        with open(p, "wb") as fh:
            fh.write(bytes(buf))
        return p

    def test_v2_superblock_groups_dataset_attr(self, tmp_path):
        p = self._build(tmp_path)
        with H5File(p) as f:
            assert f.list_group("/") == ["g"]
            assert f.list_group("/g") == ["t"]
            ds = f.dataset("/g/t")
            assert (ds.read_raw() == np.arange(10)).all()
            assert (ds.read_raw(3, 7) == np.arange(3, 7)).all()
            assert ds.attrs["UNITS"] == "meter"

    def test_vlen_dataset_rejected_clearly(self, tmp_path):
        """vlen-string DATASETS raise (payloads live in global heaps) —
        never decode garbage."""
        import struct

        from pandas_to_postgres_spark.sources import hdf5_writer as w

        buf = bytearray(b"\x00" * 48)

        def alloc(b):
            while len(buf) % 8:
                buf.append(0)
            a = len(buf)
            buf.extend(b)
            return a

        def ohdr(messages):
            body = b"".join(
                struct.pack("<BHB", m, len(mb), 0) + mb for m, mb in messages
            )
            return (
                b"OHDR" + bytes([2, 0]) + bytes([len(body)]) + body + b"\x00" * 4
            )

        # vlen-string datatype: class 9 v1, type=string(1), base = S1
        vlen_dt = struct.pack("<B3sI", 0x19, b"\x01\x00\x00", 16) + w._dt_string(1)
        layout = struct.pack("<BBQQ", 3, 1, 4096, 16)
        dset = ohdr([(0x01, w._dataspace((1,))), (0x03, vlen_dt), (0x08, layout)])
        daddr = alloc(dset)
        root = alloc(
            ohdr([(0x06, bytes([1, 0, 1]) + b"v" + struct.pack("<Q", daddr))])
        )
        sb = (
            b"\x89HDF\r\n\x1a\n"
            + bytes([2, 8, 8, 0])
            + struct.pack("<QQQQ", 0, 0xFFFFFFFFFFFFFFFF, len(buf), root)
            + b"\x00" * 4
        )
        buf[: len(sb)] = sb
        p = str(tmp_path / "vlen.h5")
        with open(p, "wb") as fh:
            fh.write(bytes(buf))
        with H5File(p) as f:
            ds = f.dataset("/v")
            assert ds.dtype.is_vlen_str
            with pytest.raises(Hdf5FormatError, match="variable-length"):
                ds.read_raw()


class TestHdf5DataSource:
    """Spark 4 Python DataSource over the pure parser: batch scans and
    streaming ingest of .h5 part directories (`sources/hdf5_stream`)."""

    @staticmethod
    def _mk(dirpath, name, lo, n, seed):
        rs = np.random.RandomState(seed)
        write_frame_table(
            os.path.join(dirpath, name),
            {
                "data": pd.DataFrame(
                    {
                        "id": np.arange(lo, lo + n, dtype=np.int64),
                        "v": rs.randn(n),
                        "s": [f"r{i % 9}" for i in range(n)],
                    }
                )
            },
            chunk_rows=32,
        )

    @pytest.fixture()
    def registered(self, spark):
        from pandas_to_postgres_spark.sources.hdf5_stream import Hdf5DataSource

        try:
            spark.dataSource.register(Hdf5DataSource)
        except Exception:
            pass  # already registered in this session
        return spark

    def test_batch_read(self, registered, tmp_path):
        spark = registered
        d = str(tmp_path / "land")
        os.makedirs(d)
        self._mk(d, "a.h5", 0, 100, 1)
        self._mk(d, "b.h5", 100, 70, 2)
        df = (
            spark.read.format("hdf5")
            .option("path", d)
            .option("key", "data")
            .option("chunkRows", 40)
            .load()
        )
        got = df.toPandas().sort_values("id").reset_index(drop=True)
        assert len(got) == 170
        assert (got["id"].values == np.arange(170)).all()
        assert got["v"].dtype == np.float64 and got["s"].dtype == object
        # one task per (file, range): 100/40 -> 3 + 70/40 -> 2
        assert df.rdd.getNumPartitions() == 5

    def test_stream_delta_only_drains(self, registered, tmp_path):
        spark = registered
        d = str(tmp_path / "land")
        ck = str(tmp_path / "ck")
        os.makedirs(d)
        self._mk(d, "a.h5", 0, 100, 1)
        sdf = (
            spark.readStream.format("hdf5")
            .option("path", d)
            .option("key", "data")
            .load()
        )
        seen = []

        def sink(batch_df, _bid):
            seen.extend(r.id for r in batch_df.collect())

        def drain():
            q = (
                sdf.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain()
        assert sorted(seen) == list(range(100))
        # new part file -> same checkpoint -> exactly the delta
        self._mk(d, "b.h5", 100, 40, 2)
        seen.clear()
        drain()
        assert sorted(seen) == list(range(100, 140))
        # idle drain: nothing new, nothing emitted
        seen.clear()
        drain()
        assert seen == []

    def test_datasource_write_roundtrip_append_overwrite(
        self, registered, tmp_path
    ):
        """df.write.format('hdf5'): append adds part files atomically
        (rename — the contract the streaming source imposes on
        producers), overwrite replaces them; both read back exactly."""
        spark = registered
        d = str(tmp_path / "wland")

        def mk(lo, n):
            return spark.range(lo, lo + n).selectExpr(
                "id", "CAST(id AS DOUBLE) / 2 AS v", "concat('s', id % 5) AS s"
            )

        mk(0, 100).repartition(3).write.format("hdf5").option(
            "path", d
        ).option("key", "data").mode("append").save()
        back = (
            spark.read.format("hdf5")
            .option("path", d)
            .option("key", "data")
            .load()
        )
        got = back.toPandas().sort_values("id").reset_index(drop=True)
        assert list(got["id"]) == list(range(100))
        assert (got["v"].values == np.arange(100) / 2).all()
        # append a second job: both jobs' parts coexist
        mk(100, 50).repartition(2).write.format("hdf5").option(
            "path", d
        ).mode("append").save()
        n2 = spark.read.format("hdf5").option("path", d).load().count()
        assert n2 == 150
        # overwrite replaces everything
        mk(500, 20).write.format("hdf5").option("path", d).mode(
            "overwrite"
        ).save()
        got3 = (
            spark.read.format("hdf5").option("path", d).load().toPandas()
        )
        assert sorted(got3["id"]) == list(range(500, 520))
        # no tmp litter left behind
        import glob as _glob

        assert _glob.glob(os.path.join(d, ".tmp-*")) == []

    def test_datasource_write_feeds_stream_source(self, registered, tmp_path):
        """The write path composes with the round-5 stream source: a
        batch append lands atomically and the next availableNow drain
        picks up exactly the delta."""
        spark = registered
        d = str(tmp_path / "sland")
        ck = str(tmp_path / "sck")
        mk = lambda lo, n: spark.range(lo, lo + n).selectExpr(  # noqa: E731
            "id", "CAST(id AS DOUBLE) AS v", "'x' AS s"
        )
        mk(0, 40).repartition(2).write.format("hdf5").option("path", d).mode(
            "append"
        ).save()
        seen = []

        def sink(batch_df, _bid):
            seen.extend(r.id for r in batch_df.collect())

        def drain():
            sdf = spark.readStream.format("hdf5").option("path", d).load()
            q = (
                sdf.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain()
        assert sorted(seen) == list(range(40))
        mk(40, 25).write.format("hdf5").option("path", d).mode("append").save()
        seen.clear()
        drain()
        assert sorted(seen) == list(range(40, 65))

    @staticmethod
    def _touch(d, name, sec):
        import os as _os

        p = _os.path.join(d, name)
        with open(p, "wb") as fh:
            fh.write(b"x")
        _os.utime(p, ns=(sec * 10**9,) * 2)

    def test_stream_offset_is_bounded(self, tmp_path):
        """ADVICE r5 + r6: the offset must NOT grow with directory
        lifetime, but boundedness kicks in only AFTER a commit — the
        first poll of a session emits the full listing (the file-source
        first-batch exemption), because the reader cannot see the
        checkpointed start offset and must not assume anything
        processed. Once committed, files older than lateFileLag behind
        the newest drop out of 'recent' and the watermark covers them."""
        import os as _os

        from pandas_to_postgres_spark.sources.hdf5_stream import Hdf5StreamReader

        d = str(tmp_path / "land")
        _os.makedirs(d)
        r = Hdf5StreamReader(d, "data", 10**6, ["id"], late_file_lag_s=60.0)
        now = 1_700_000_000
        for i in range(50):  # an "old" backlog, 1h apart each
            self._touch(d, f"old{i:03d}.h5", now - 3600 * (50 - i))
        self._touch(d, "newest.h5", now)
        off = r.latestOffset()
        # FIRST poll: everything (51 files) — nothing committed yet, so
        # the backlog must be in the offset or it would never be planned
        assert off["wm"] == 0 and len(off["recent"]) == 51
        r.commit(off)
        off2 = r.latestOffset()
        # after the commit only files inside the 60s lag window remain
        assert [n for n, _ in off2["recent"]] == ["newest.h5"]
        assert off2["wm"] == (now - 60) * 10**9
        # idle poll: identical offset (no spurious batches)
        assert r.latestOffset() == off2

    def test_first_batch_reads_prepopulated_backlog(self, tmp_path):
        """ADVICE r6 (high): a pre-populated landing dir must be read IN
        FULL by the first batch — the old 'newest − lag' watermark
        dropped all but the last lag window."""
        import os as _os

        import pandas_to_postgres_spark.sources.hdf5_stream as hs

        d = str(tmp_path / "land")
        _os.makedirs(d)
        now = 1_700_000_000
        for i in range(5):
            self._touch(d, f"old{i}.h5", now - 3600 * (5 - i))  # hours old
        self._touch(d, "new.h5", now)
        r = hs.Hdf5StreamReader(d, "data", 10**6, ["id"], late_file_lag_s=60.0)
        start = r.initialOffset()
        end = r.latestOffset()
        orig = hs._plan_file
        hs._plan_file = lambda path, name, key, cr: [
            hs.H5Partition(file=name, start=0, stop=1)
        ]
        try:
            planned = sorted({p.file for p in r.partitions(start, end) if p.file})
        finally:
            hs._plan_file = orig
        assert planned == sorted([f"old{i}.h5" for i in range(5)] + ["new.h5"])

    def test_restart_after_long_downtime_loses_nothing(self, tmp_path):
        """ADVICE r6 (high): files that landed during >lag downtime (or
        between availableNow drains) must all be planned by the next
        session's first batch, even those more than lag older than the
        newest file."""
        import os as _os

        import pandas_to_postgres_spark.sources.hdf5_stream as hs

        d = str(tmp_path / "land")
        _os.makedirs(d)
        now = 1_700_000_000
        self._touch(d, "a.h5", now - 7200)
        r1 = hs.Hdf5StreamReader(d, "data", 10**6, ["id"], late_file_lag_s=60.0)
        committed = r1.latestOffset()  # session 1 processed + committed a.h5
        # downtime: files land across 2h, far beyond the 60s lag
        for i, age in enumerate([7000, 5000, 3000, 100, 0]):
            self._touch(d, f"down{i}.h5", now - age)
        r2 = hs.Hdf5StreamReader(d, "data", 10**6, ["id"], late_file_lag_s=60.0)
        end = r2.latestOffset()  # new session: no commit seen yet
        orig = hs._plan_file
        hs._plan_file = lambda path, name, key, cr: [
            hs.H5Partition(file=name, start=0, stop=1)
        ]
        try:
            planned = sorted(
                {p.file for p in r2.partitions(committed, end) if p.file}
            )
        finally:
            hs._plan_file = orig
        assert planned == [f"down{i}.h5" for i in range(5)]  # a.h5 not replayed

    def test_watermark_never_passes_uncommitted_file(self, tmp_path):
        """ADVICE r6 (high): after a commit, a file the committed offset
        does not cover (e.g. landed while its batch is in flight with a
        within-contract backdated mtime) holds the watermark down and
        stays in 'recent' until committed — it cannot be skipped."""
        import os as _os

        import pandas_to_postgres_spark.sources.hdf5_stream as hs

        d = str(tmp_path / "land")
        _os.makedirs(d)
        now = 1_700_000_000
        self._touch(d, "a.h5", now - 300)
        r = hs.Hdf5StreamReader(d, "data", 10**6, ["id"], late_file_lag_s=60.0)
        r.commit(r.latestOffset())
        # lands with an mtime 200s behind the (about to land) newest —
        # beyond the 60s lag, above the committed watermark
        self._touch(d, "late.h5", now - 200)
        self._touch(d, "fresh.h5", now)
        off = r.latestOffset()
        names = [n for n, _ in off["recent"]]
        assert "late.h5" in names and "fresh.h5" in names
        assert off["wm"] <= (now - 200) * 10**9
        # once its batch commits, the watermark advances past it again
        r.commit(off)
        off2 = r.latestOffset()
        assert off2["wm"] == (now - 60) * 10**9
        assert [n for n, _ in off2["recent"]] == ["fresh.h5"]

    def test_stream_offset_delta_and_replay(self, tmp_path):
        """partitions(start, end) is a pure function of the offsets: a
        replay plans the same files even after the directory gains more;
        files below the start watermark are assumed processed."""
        import os as _os

        from pandas_to_postgres_spark.sources.hdf5_stream import Hdf5StreamReader

        d = str(tmp_path / "land")
        _os.makedirs(d)
        start = {
            "v": 2,
            "wm": 1000,
            "recent": [["b.h5", 1500], ["c.h5", 2000]],
        }
        end = {
            "v": 2,
            "wm": 1800,
            "recent": [["c.h5", 2000], ["d.h5", 2500], ["e.h5", 2600]],
        }
        r = Hdf5StreamReader(d, "data", 10**6, ["id"])
        names = lambda s, e: sorted(  # noqa: E731
            {p.file for p in r.partitions(s, e) if p.file}
        )
        # d/e are new; c was already in start.recent
        import pandas_to_postgres_spark.sources.hdf5_stream as hs

        orig = hs._plan_file
        hs._plan_file = lambda path, name, key, cr: [
            hs.H5Partition(file=name, start=0, stop=1)
        ]
        try:
            assert names(start, end) == ["d.h5", "e.h5"]
            # replay is deterministic — directory state is irrelevant
            assert names(start, end) == ["d.h5", "e.h5"]
            # a file whose mtime predates start.wm is assumed processed
            end2 = dict(end, recent=end["recent"] + [["stale.h5", 900]])
            assert names(start, end2) == ["d.h5", "e.h5"]
            # legacy v1 checkpoint resumes: everything not in 'seen' is new
            legacy = {"seen": ["c.h5"]}
            assert names(legacy, end) == ["d.h5", "e.h5"]
        finally:
            hs._plan_file = orig

    def test_empty_dir_schema_error(self, registered, tmp_path):
        spark = registered
        d = str(tmp_path / "empty")
        os.makedirs(d)
        with pytest.raises(Exception, match="no \\*\\.h5 files"):
            spark.read.format("hdf5").option("path", d).load().collect()


class TestReaderExtraPaths:
    """Reader paths the frame_table writer never emits: compact layout
    (data inline in the header) and the fletcher32 filter (payload +
    4-byte checksum)."""

    def test_compact_layout(self, tmp_path):
        import struct

        from pandas_to_postgres_spark.sources import hdf5_writer as w

        buf = bytearray(b"\x00" * 48)

        def alloc(b):
            while len(buf) % 8:
                buf.append(0)
            a = len(buf)
            buf.extend(b)
            return a

        def ohdr(messages):
            body = b"".join(
                struct.pack("<BHB", m, len(mb), 0) + mb for m, mb in messages
            )
            return b"OHDR" + bytes([2, 0]) + bytes([len(body)]) + body + b"\x00" * 4

        vals = np.arange(6, dtype=np.int64)
        compact = struct.pack("<BBH", 3, 0, 48) + vals.tobytes()  # v3, class 0
        dset = alloc(
            ohdr([(0x01, w._dataspace((6,))), (0x03, w._dt_int(8)), (0x08, compact)])
        )
        root = alloc(
            ohdr([(0x06, bytes([1, 0, 1]) + b"c" + struct.pack("<Q", dset))])
        )
        sb = (
            b"\x89HDF\r\n\x1a\n"
            + bytes([2, 8, 8, 0])
            + struct.pack("<QQQQ", 0, 0xFFFFFFFFFFFFFFFF, len(buf), root)
            + b"\x00" * 4
        )
        buf[: len(sb)] = sb
        p = str(tmp_path / "compact.h5")
        with open(p, "wb") as fh:
            fh.write(bytes(buf))
        with H5File(p) as f:
            ds = f.dataset("/c")
            assert ds.layout.cls == 0
            assert (ds.read_raw() == np.arange(6)).all()
            assert (ds.read_raw(2, 5) == np.arange(2, 5)).all()

    @staticmethod
    def _fletcher_file(tmp_path, raw, name="fletcher.h5"):
        """Assemble a one-chunk [fletcher32] dataset whose stored chunk
        bytes are exactly ``raw`` (payload + 4-byte trailer)."""
        import struct

        from pandas_to_postgres_spark.sources import hdf5_writer as w
        from pandas_to_postgres_spark.sources.hdf5_writer import _FileBuilder

        b = _FileBuilder()
        chunk_addr = b.alloc(raw)
        # single-leaf chunk B-tree for one 20-row chunk
        leaf = (
            struct.pack("<4sBBHQQ", b"TREE", 1, 0, 1, 0xFFFFFFFFFFFFFFFF, 0xFFFFFFFFFFFFFFFF)
            + struct.pack("<IIQQQ", len(raw), 0, 0, 0, chunk_addr)
            + struct.pack("<IIQQ", 0, 0, 20, 0)
        )
        btree = b.alloc(leaf)
        # filter pipeline v1 with ONE filter: fletcher32 (id 3, no cdata)
        filt = struct.pack("<BB2x4x", 1, 1) + struct.pack("<HHHH", 3, 0, 0, 0)
        layout = struct.pack("<BBBQ2I", 3, 2, 2, btree, 20, 8)
        msgs = [
            w._msg(0x01, w._dataspace((20,))),
            w._msg(0x03, w._dt_int(8)),
            w._msg(0x0B, filt),
            w._msg(0x08, layout),
        ]
        taddr = b.alloc(w._object_header(msgs))
        root = b.write_group({"f": taddr}, {})
        p = str(tmp_path / name)
        with open(p, "wb") as fh:
            fh.write(b.finish(root))
        return p

    def test_fletcher32_filter_verified_and_stripped(self, tmp_path):
        """A chunked dataset whose pipeline is [fletcher32]: the reader
        verifies the trailing Fletcher-32 checksum (H5checksum.c word
        order) then strips it before interpreting the payload."""
        import struct

        from pandas_to_postgres_spark.sources.hdf5_reader import fletcher32

        vals = np.arange(20, dtype=np.int64)
        payload = vals.tobytes()
        raw = payload + struct.pack("<I", fletcher32(payload))
        p = self._fletcher_file(tmp_path, raw)
        with H5File(p) as f:
            ds = f.dataset("/f")
            assert [fid for fid, _ in ds.filters] == [3]
            assert (ds.read_raw() == np.arange(20)).all()
        # pre-1.6.3 bug-compat: byte-swapped stored checksum also accepted
        raw_swapped = payload + struct.pack(">I", fletcher32(payload))
        p2 = self._fletcher_file(tmp_path, raw_swapped, "fletcher_swapped.h5")
        with H5File(p2) as f:
            assert (f.dataset("/f").read_raw() == np.arange(20)).all()

    def test_fletcher32_corruption_raises(self, tmp_path):
        """A flipped payload byte must raise, not decode silently."""
        import struct

        import pytest

        from pandas_to_postgres_spark.sources.hdf5_reader import (
            Hdf5FormatError,
            fletcher32,
        )

        vals = np.arange(20, dtype=np.int64)
        payload = bytearray(vals.tobytes())
        checksum = struct.pack("<I", fletcher32(bytes(payload)))
        payload[17] ^= 0x40  # corrupt one byte AFTER checksumming
        p = self._fletcher_file(tmp_path, bytes(payload) + checksum)
        with H5File(p) as f:
            with pytest.raises(Hdf5FormatError, match="fletcher32"):
                f.dataset("/f").read_raw()

    def test_fletcher32_reference_vectors(self):
        """Pin the vectorized checksum against a literal transcription of
        the C algorithm, across empty/odd/even/fold-heavy inputs."""
        from pandas_to_postgres_spark.sources.hdf5_reader import fletcher32

        # Independent oracle: literal transcription of libhdf5's
        # H5_checksum_fletcher32 (H5checksum.c) — 360-word inner blocks,
        # ``(x & 0xffff) + (x >> 16)`` folds, odd byte padded low.
        def c_ref(data):
            fold = lambda x: (x & 0xFFFF) + (x >> 16)  # noqa: E731
            s1 = s2 = 0
            words = [
                (data[i] << 8) | data[i + 1]
                for i in range(0, len(data) - len(data) % 2, 2)
            ]
            i = 0
            while i < len(words):
                for w in words[i : i + 360]:
                    s1 += w
                    s2 += s1
                i += 360
                s1, s2 = fold(s1), fold(s2)
            if len(data) % 2:
                s1 += data[-1] << 8
                s2 += s1
                s1, s2 = fold(s1), fold(s2)
            s1, s2 = fold(s1), fold(s2)
            return (s2 << 16) | s1

        for blob in (
            b"",
            b"a",
            b"ab",
            b"abcde",
            bytes(range(256)) * 33 + b"x",
            b"\x00" * 1000,
            b"\xff" * 1001,
        ):
            assert fletcher32(blob) == c_ref(blob), blob[:8]
