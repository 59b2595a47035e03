"""Pure-logic unit tests (no SparkSession): SQL builders, CSV
serialization, range planning, routing — the testable cores of the sink,
HDF source, and orchestration."""

import pyarrow as pa
import pytest

from pandas_to_postgres_spark.orchestration import resolve_routing
from pandas_to_postgres_spark.sinks.postgres_copy import (
    ForeignKey,
    TargetTable,
    _ArrowCsvStream,
    analyze_sql,
    copy_freeze_sql,
    copy_sql,
    create_fk_sql,
    create_pk_sql,
    drop_fk_sql,
    drop_pk_sql,
    stage_name,
    stage_pattern,
    truncate_sql,
)
from pandas_to_postgres_spark.sources.hdf import plan_ranges

T = TargetTable(
    schema="public",
    name="orders",
    columns=("o_orderkey", "o_custkey"),
    primary_key=("o_orderkey",),
    pk_name="orders_pkey",
    foreign_keys=(
        ForeignKey("orders_cust_fk", "FOREIGN KEY (o_custkey) REFERENCES customer(c_custkey)"),
    ),
)


class TestSqlBuilders:
    def test_truncate(self):
        assert truncate_sql(T) == 'TRUNCATE TABLE "public"."orders";'

    def test_analyze(self):
        assert analyze_sql(T) == 'ANALYZE "public"."orders";'

    def test_pk_roundtrip(self):
        assert (
            drop_pk_sql(T)
            == 'ALTER TABLE "public"."orders" DROP CONSTRAINT IF EXISTS "orders_pkey" CASCADE;'
        )
        assert (
            create_pk_sql(T)
            == 'ALTER TABLE "public"."orders" ADD CONSTRAINT "orders_pkey" PRIMARY KEY ("o_orderkey");'
        )

    def test_pk_required(self):
        no_pk = TargetTable("public", "t", ("a",))
        with pytest.raises(ValueError):
            create_pk_sql(no_pk)

    def test_fk_roundtrip(self):
        fk = T.foreign_keys[0]
        assert "DROP CONSTRAINT IF EXISTS" in drop_fk_sql(T, fk)
        assert create_fk_sql(T, fk).endswith(
            'ADD CONSTRAINT "orders_cust_fk" FOREIGN KEY (o_custkey) REFERENCES customer(c_custkey);'
        )

    def test_copy_column_list(self):
        assert (
            copy_sql(T)
            == 'COPY "public"."orders" ("o_orderkey", "o_custkey") FROM STDIN WITH CSV'
        )
        assert copy_freeze_sql(T).endswith("FREEZE")


def _stream(*batches):
    return _ArrowCsvStream(iter(batches))


class TestArrowCsvStream:
    B = pa.RecordBatch.from_pydict(
        {"a": pa.array([1, None, 3], pa.int64()), "b": ["x", None, ""]}
    )

    def test_null_is_empty_field_and_empty_string_quoted(self):
        # the cast_pandas obligation: NULL → empty CSV field → SQL NULL,
        # while "" stays a distinct (quoted) empty string
        s = _stream(self.B)
        assert s.read() == b'1,"x"\n,\n3,""\n'
        assert s.rows == 3

    def test_no_header(self):
        assert b"a" not in _stream(self.B).read()

    def test_empty_iterator_yields_nothing(self):
        s = _stream()
        assert s.read() == b"" and s.read(7) == b"" and s.rows == 0

    def test_small_reads_reassemble(self):
        whole = _stream(self.B, self.B).read()
        s = _stream(self.B, self.B)
        parts = list(iter(lambda: s.read(4), b""))
        assert max(map(len, parts)) == 4 and len(parts) > 2
        assert b"".join(parts) == whole and s.rows == 6

    def test_big_batch_streams_in_bounded_pieces(self, monkeypatch):
        """A 200k-row batch read 64 KB at a time: the same bytes as one
        ``write_csv`` of the batch, encoded 10k rows at a time, and the
        stream never holds more than one piece's CSV besides the read."""
        import pyarrow.csv as pcsv

        n = 200_000
        big = pa.RecordBatch.from_pydict(
            {"k": pa.array(range(n), pa.int64()), "s": [f"row {i}" for i in range(n)]}
        )
        sink = pa.BufferOutputStream()
        pcsv.write_csv(big, sink, pcsv.WriteOptions(include_header=False))
        whole = sink.getvalue().to_pybytes()

        pieces, write_csv = [], pcsv.write_csv

        def recording(batch, out, options):
            write_csv(batch, out, options)
            pieces.append((batch.num_rows, out.tell()))

        monkeypatch.setattr(pcsv, "write_csv", recording)
        s = _stream(big)
        parts = []
        while True:
            part = s.read(1 << 16)
            if not part:
                break
            assert len(part) <= 1 << 16
            assert len(s._buf) <= max(size for _, size in pieces)
            parts.append(part)
        assert b"".join(parts) == whole
        assert max(rows for rows, _ in pieces) == _ArrowCsvStream.PIECE_ROWS
        assert sum(rows for rows, _ in pieces) == n == s.rows
        assert s.bytes == len(whole) and s.encode_s > 0 and s.source_s >= 0


class TestStageNames:
    TABLE = "t" * 60

    def test_fit_distinct_and_scoped(self):
        import re

        names = [stage_name(self.TABLE, "s1", p) for p in (0, 1, 2**31 - 1)]
        assert all(len(n.encode()) <= 63 for n in names)
        assert len(set(names)) == 3
        own = re.compile(stage_pattern(self.TABLE, "s1"))
        other = re.compile(stage_pattern(self.TABLE, "s2"))
        assert all(own.search(n) and not other.search(n) for n in names)
        # a long name sharing the 32-byte head is another table
        assert not own.search(stage_name(self.TABLE + "x", "s1", 0))
        assert not own.search(names[0] + "_preview")


class TestPlanRanges:
    def test_exact_multiple_no_trailing_empty(self):
        assert plan_ranges(20, 10) == [(0, 10), (10, 20)]

    def test_remainder(self):
        assert plan_ranges(25, 10) == [(0, 10), (10, 20), (20, 25)]

    def test_empty_input_is_one_empty_range(self):
        # `utilities.py:107-108`: empty input is valid, one empty chunk
        assert plan_ranges(0, 10) == [(0, 0)]

    def test_single_row(self):
        assert plan_ranges(1, 10) == [(0, 1)]

    def test_bad_chunk(self):
        with pytest.raises(ValueError):
            plan_ranges(10, 0)


class TestRouting:
    def test_catalog_only(self):
        r = resolve_routing({"t1": {"/a", "/b"}, "t2": {"/c"}})
        assert r == {"t1": {"/a", "/b"}, "t2": {"/c"}}

    def test_keys_filter(self):
        r = resolve_routing({"t1": {"/a", "/b"}, "t2": {"/c"}}, keys=["/a"])
        assert r == {"t1": {"/a"}}

    def test_unknown_key_maps_to_itself_not_charset(self):
        # the reference's `set(x)` bug (`hdf_to_postgres.py:161`) would
        # yield the *characters* of the key; fixed behavior maps the key
        r = resolve_routing({}, keys=["/mytable"])
        assert r == {"mytable": {"/mytable"}}

    def test_empty_raises(self):
        with pytest.raises(ValueError):
            resolve_routing({}, keys=[])


class TestReferenceUtilityParity:
    """Same-name drop-ins for the reference's pandas utilities
    (`/root/reference/pandas_to_postgres/utilities.py:76-167`)."""

    def test_cast_pandas_int_bool_nulls(self):
        import numpy as np
        import pandas as pd

        from pandas_to_postgres_spark import cast_pandas

        class Col:
            def __init__(self, name, t):
                self.name, self.type = name, t

        df = pd.DataFrame({"i": [1.0, np.nan], "b": [0.0, np.nan]})
        out = cast_pandas(df, columns=[Col("i", "BIGINT"), Col("b", "BOOLEAN")])
        assert str(out["i"].dtype) == "Int64"
        assert out["i"].iloc[1] is pd.NA
        assert out["b"].tolist() == [False, None]

    def test_cast_pandas_missing_column_skipped(self):
        import pandas as pd

        from pandas_to_postgres_spark import cast_pandas

        class Col:
            def __init__(self, name, t):
                self.name, self.type = name, t

        df = pd.DataFrame({"x": [1]})
        out = cast_pandas(df, columns=[Col("nope", "INTEGER")])
        assert out["x"].tolist() == [1]

    def test_df_generator_chunks_and_empty(self):
        import pandas as pd

        from pandas_to_postgres_spark import df_generator

        chunks = list(df_generator(pd.DataFrame({"x": range(5)}), chunksize=2))
        assert [len(c) for c in chunks] == [2, 2, 1]
        empties = list(df_generator(pd.DataFrame({"x": []}), chunksize=2))
        assert len(empties) == 1 and len(empties[0]) == 0  # empty input valid

    def test_create_file_object_header_and_nulls(self):
        import numpy as np
        import pandas as pd

        from pandas_to_postgres_spark import create_file_object

        fo = create_file_object(pd.DataFrame({"a": [1.0, np.nan], "s": ["x", "y"]}))
        lines = fo.read().splitlines()
        assert lines[0] == "a,s"          # header row = COPY column list
        assert lines[2].startswith(",")   # NaN → empty field → SQL NULL

    def test_copy_worker_invokes_copy(self):
        from pandas_to_postgres_spark import copy_worker

        class FakeCopy:
            rows = 0

            def copy(self):
                self.rows = 7

        assert copy_worker(FakeCopy()) == 7


class TestFormatterKwargs:
    """The reference hook contract `f(df, copy_obj=self, **kwargs)`
    (`_base_copy.py:152-156`) with per-table metadata constants injected on
    the HDF path (`copy_hdf.py:44-46,105`)."""

    def test_df_only_formatter_unchanged(self):
        from pandas_to_postgres_spark.functions.normalize import apply_formatters

        seen = []
        out = apply_formatters("df0", [lambda df: (seen.append(df), "df1")[1]],
                               hdf_table="/t1", levels=3)
        assert out == "df1" and seen == ["df0"]

    def test_kwargs_formatter_receives_constants(self):
        from pandas_to_postgres_spark.functions.normalize import apply_formatters

        got = {}

        def hook(df, **kwargs):
            got.update(kwargs)
            return df

        apply_formatters("df0", [hook], copy_obj="CO", hdf_table="/t1", levels=3)
        assert got == {"copy_obj": "CO", "hdf_table": "/t1", "levels": 3}

    def test_named_param_formatter_gets_only_its_params(self):
        from pandas_to_postgres_spark.functions.normalize import apply_formatters

        got = {}

        def hook(df, levels=None):
            got["levels"] = levels
            return df

        apply_formatters("df0", [hook], hdf_table="/t1", levels=3)
        assert got == {"levels": 3}

    def test_hdf_copy_threads_per_key_metadata(self, monkeypatch):
        """A metadata-driven formatter sees its OWN key's constant for each
        of the keys feeding one SQL table (the reference's one:many routing)."""
        import pandas_to_postgres_spark.compat as compat
        from pandas_to_postgres_spark.compat import HDFTableCopy

        class FakeDF:
            def __init__(self, tag):
                self.tag = tag

            def unionByName(self, other):
                return FakeDF(self.tag + "+" + other.tag)

            def count(self):
                return 1

        monkeypatch.setattr(
            compat, "load_hdf_distributed", lambda spark, f, k, chunk_rows: FakeDF(k)
        )
        seen = []

        def hook(df, hdf_table=None, levels=None, **kwargs):
            seen.append((df.tag, hdf_table, levels))
            return df

        sunk = []
        c = HDFTableCopy(
            "f.h5", ["/a", "/b"], spark=None,
            sink=lambda name, df: sunk.append((name, df.tag)),
            table_name="t", formatters=[hook],
            metadata_vars={"levels": {"/a": 2, "/b": 5}},
        )
        c.copy()
        assert seen == [("/a", "/a", 2), ("/b", "/b", 5)]
        assert sunk == [("t", "/a+/b")]
        assert c.rows == 1


class TestResyncAndFrameSampling:
    def test_resync_skips_stuffed_ff00_before_rst(self):
        """An encoder that byte-aligns with 1-bits emits a stuffed
        FF 00 pad immediately before the RST marker; _resync must skip
        it (and FF fill-byte runs) and consume the marker, not stop at
        the stuffed FF and feed the marker bytes back as entropy data."""
        from pandas_to_postgres_spark.operators.jpeg_codec import (
            BitReader,
            _resync,
        )

        # stuffed pad -> RST0 -> payload
        rd = BitReader(b"\xff\x00\xff\xd0\xab")
        assert _resync(rd, 3) == [0, 0, 0]
        assert rd.pos == 4 and rd.nbits == 0

        # fill-byte run folded into the marker (T.81 B.1.1.2)
        rd = BitReader(b"\x12\xff\xff\xff\xd1\xcd")
        _resync(rd, 0)
        assert rd.pos == 5

        # non-RST marker: left unconsumed for the caller
        rd = BitReader(b"\xff\x00\xff\xd9")
        _resync(rd, 0)
        assert rd.pos == 2 and rd.data[rd.pos : rd.pos + 2] == b"\xff\xd9"

    def test_video_sample_indices_bounded_for_every_count(self):
        from pandas_to_postgres_spark.operators.media_codecs import (
            sample_indices,
        )

        for n in range(0, 64):
            idx = list(sample_indices(n))
            assert len(idx) <= 4, n
            assert all(0 <= i < n for i in idx)
            if n:
                assert idx[0] == 0  # always include the first frame
        assert list(sample_indices(5)) == [0, 2, 4]  # was 5 decodes
        assert list(sample_indices(7)) == [0, 2, 4, 6]
        assert list(sample_indices(8)) == [0, 2, 4, 6]
        assert list(sample_indices(100)) == [0, 25, 50, 75]


class TestBpeMergeSemantics:
    """Hand-computed golden vocabulary for the BPE merge loop.

    The registered queries' DuckDB oracles replay the SAME relational
    merge logic, so an oracle match cannot catch a semantics bug shared
    by both sides. This pins the Sennrich conventions independently:
    non-greedy pair COUNTING ('aaaa' contributes 3 to (a,a)), greedy
    LEFT-TO-RIGHT non-overlapping MERGING ('aaaa' -> aa|aa, 'aaa' ->
    aa|a), (count DESC, left, right) binary-collation tie-breaks, and
    merged symbols feeding later iterations."""

    def test_hand_computed_merges_and_final_syms(self, spark):
        from pyspark.sql import functions as F

        from pandas_to_postgres_spark.plans.llm import _bpe_merge_loop

        words = spark.createDataFrame(
            [("aaaa", 3), ("ab", 5)], "word string, freq long"
        )
        merges, syms = _bpe_merge_loop(words, n_iter=4)
        got = [
            tuple(r)
            for r in merges.orderBy("iteration")
            .select("iteration", "left_sym", "right_sym", "pair_freq")
            .collect()
        ]
        # iter 1: (a,a) = 3 occurrences/word * freq 3 = 9 (non-greedy
        #         count) beats (a,b)=5 and (b,</w>)=5
        # iter 2: 'aaaa' is now aa|aa|</w> so (aa,aa)=3; the cnt-5 tie
        #         (a,b) vs (b,</w>) breaks on left: 'a' < 'b'
        # iter 3: 'ab' is now ab|</w>; (ab,</w>)=5 is the max
        # iter 4: cnt-3 tie (aa,aa) vs (aa,</w>) breaks on right:
        #         '</w>' < 'aa' in binary collation ('<' = 0x3C < 'a')
        assert got == [
            (1, "a", "a", 9),
            (2, "a", "b", 5),
            (3, "ab", "</w>", 5),
            (4, "aa", "</w>", 3),
        ]
        final = {
            r["word"]: r["toks"]
            for r in syms.groupBy("word")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "sym"))).alias("s"))
            .select("word", F.col("s.sym").alias("toks"))
            .collect()
        }
        assert final == {"aaaa": ["aa", "aa</w>"], "ab": ["ab</w>"]}

    def test_odd_run_merges_left_to_right(self, spark):
        from pandas_to_postgres_spark.plans.llm import _bpe_merge_loop

        words = spark.createDataFrame([("aaa", 1)], "word string, freq long")
        _, syms = _bpe_merge_loop(words, n_iter=1)
        toks = [
            r["sym"] for r in syms.orderBy("pos").collect()
        ]
        # greedy left-to-right: aa|a|</w>, never a|aa|</w>
        assert toks == ["aa", "a", "</w>"]


class TestAdpcmIma:
    """IMA ADPCM (WAV 0x11): golden nibble steps hand-computed from the
    spec's reference decoder, round-trip SNR, and container parsing."""

    def test_golden_nibble_steps(self):
        from pandas_to_postgres_spark.operators.media_codecs import (
            _ima_decode_nibble,
        )

        # step ladder index 0 -> step=7: nib 0b0111 adds 0+1+3+7=11
        assert _ima_decode_nibble(0b0111, 0, 0) == (11, 8)
        # index 10 -> step=19: nib 0b1111 subtracts 2+4+9+19=34
        assert _ima_decode_nibble(0b1111, 100, 10) == (66, 18)
        # index adjustment clamps at [0, 88]
        assert _ima_decode_nibble(0b0000, 0, 0)[1] == 0
        assert _ima_decode_nibble(0b0111, 0, 88)[1] == 88
        # predictor clamps at int16 bounds
        p, _ = _ima_decode_nibble(0b0111, 32760, 88)
        assert p == 32767

    def test_round_trip_snr_and_ratio(self):
        import numpy as np

        from pandas_to_postgres_spark.operators.media_codecs import (
            decode_adpcm_ima,
            encode_adpcm_ima,
        )

        t = np.arange(8000) / 8000.0
        x = 0.5 * np.sin(2 * np.pi * 440 * t)
        wav = encode_adpcm_ima(x, 8000)
        y, rate = decode_adpcm_ima(wav)
        assert rate == 8000 and len(y) == len(x)
        err = np.sqrt(np.mean((x - y) ** 2))
        snr = 20 * np.log10(np.sqrt(np.mean(x**2)) / err)
        assert snr > 20, f"IMA ADPCM sine SNR too low: {snr:.1f} dB"
        # 4 bits/sample vs 16-bit PCM: ~4:1 plus headers
        assert len(wav) < 0.30 * (len(x) * 2)

    def test_container_fields_and_gates(self):
        import struct

        import numpy as np
        import pytest

        from pandas_to_postgres_spark.operators.media_codecs import (
            decode_adpcm_ima,
            encode_adpcm_ima,
        )

        wav = encode_adpcm_ima(np.zeros(100), rate=16000)
        assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
        i = wav.index(b"fmt ")
        tag, ch, rate = struct.unpack_from("<HHI", wav, i + 8)
        assert (tag, ch, rate) == (0x11, 1, 16000)
        y, r = decode_adpcm_ima(wav)
        assert r == 16000 and len(y) == 100
        assert float(np.abs(y).max()) == 0.0
        with pytest.raises(ValueError):
            decode_adpcm_ima(b"nope")

    def test_featurize_real_dispatches_adpcm(self, spark):
        import numpy as np

        from pandas_to_postgres_spark.operators.media_codecs import (
            encode_adpcm_ima,
            extract_features_real,
        )

        t = np.arange(4000) / 8000.0
        payload = encode_adpcm_ima(np.sin(2 * np.pi * 220 * t), 8000)
        df = spark.createDataFrame(
            [(1, bytearray(payload), "audio/adpcm")],
            "doc_id long, payload binary, mime string",
        )
        row = extract_features_real(df).first()
        assert row["mime"] == "audio/adpcm"
        assert abs(row["feature"][0] - 0.5) < 0.01  # duration s
        assert 0.6 < row["feature"][1] < 0.8  # sine RMS ~ 0.707


def _pool_min(n):
    return lambda pool: min(pool, n)


class TestEventDrainGates:
    """The event-stream drains' one volume probe
    (streaming/events.py::_batch_volume) and the two decisions read off
    it: the state-store partition count the drain runs with —
    ceil(rows / 65536) when narrower than spark.sql.shuffle.partitions,
    restored on exit — and the microbatch widening — min(pool,
    ceil(rows / target_rows)) when the source has fewer files than the
    pool and the width at least doubles the file count. Unknown volume
    leaves both gates alone."""

    #: id -> (layout, target_rows, shuffle.partitions,
    #:        (partitions inside the drain, width))
    #: layout: rows per file of events.parquet (one entry: a file; more: a
    #: directory of parts), "x" = unreadable footer, "pool" = one
    #: unreadable file per pool slot, None = no source; a callable width
    #: is a function of the pool
    CASES = {
        # 5000 rows / 1000-row target = 5 tasks >= 2x the 1 file
        "large_single_file_widens_by_volume": ([5000], 1000, 1, (1, _pool_min(5))),
        # width 1 < 2x files: no exchange
        "tiny_single_file_stays_narrow": ([100], 1000, 1, (1, 0)),
        # 6000 rows / 1000 = 6 tasks < 2x the 4 files: not worth a shuffle
        "marginal_gain_stays_narrow": ([1500] * 4, 1000, 1, (1, 0)),
        # no volume signal: stay narrow, keep the configured state width
        "unreadable_footers_stay_narrow": (["x"], 65536, 4, (4, 0)),
        "pool_width_files_disable_the_repartition": ("pool", 65536, 1, (1, 0)),
        # stream-stream join opt-out: its first operator is the stateful
        # join exchange, so a pre-shuffle widening is pure cost
        "nonpositive_target_disables_widening": ([5000], 0, 1, (1, 0)),
        "small_source_narrows_and_restores": ([1000], 65536, 4, (1, 0)),
        # ceil(70000 / 65536) = 2 already fills the 2 configured
        "large_source_is_a_noop": ([70000], 0, 2, (2, 0)),
        # the sf0.01 events file: 1 state partition; the sketch drains'
        # 8192-row target widens it, the default target does not
        "sf001_events_default_target": ([10000], 65536, 4, (1, 0)),
        "sf001_events_sketch_target": ([10000], 8192, 4, (1, _pool_min(2))),
    }

    @staticmethod
    def _write_source(sf, layout, pool):
        import pyarrow.parquet as pq

        if layout is None:
            return
        if layout == "pool":
            layout = ["x"] * pool
        path = sf / "events.parquet"
        paths = [path]
        if len(layout) > 1:
            path.mkdir()
            paths = [path / f"part-{i:05d}.parquet" for i in range(len(layout))]
        for p, rows in zip(paths, layout):
            if rows == "x":
                p.write_bytes(b"x")
            else:
                pq.write_table(pa.table({"x": pa.array(range(rows))}), str(p))

    @pytest.fixture
    def partitions(self, spark):
        """Set spark.sql.shuffle.partitions for one test, then put the
        session's own value back."""
        before = spark.conf.get("spark.sql.shuffle.partitions")
        yield lambda n: spark.conf.set("spark.sql.shuffle.partitions", str(n))
        spark.conf.set("spark.sql.shuffle.partitions", before)

    @pytest.mark.parametrize("case", list(CASES))
    def test_decisions(self, spark, tmp_path, partitions, case):
        from pandas_to_postgres_spark.streaming.events import _event_drain

        layout, target, parts, (want_parts, want_width) = self.CASES[case]
        pool = spark.sparkContext.defaultParallelism
        self._write_source(tmp_path, layout, pool)
        partitions(parts)
        with _event_drain(spark, str(tmp_path), target) as drain:
            inside = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(parts)
        if callable(want_width):
            want_width = want_width(pool)
        assert (inside, drain.width) == (want_parts, want_width)

    def test_probe_stops_reading_footers_once_settled(
        self, spark, tmp_path, partitions, monkeypatch
    ):
        import types

        import pyarrow.parquet as pq

        from pandas_to_postgres_spark.streaming.events import (
            _batch_volume,
            _event_drain,
        )

        reads = []

        def footer(path):
            reads.append(path)
            return types.SimpleNamespace(
                metadata=types.SimpleNamespace(num_rows=40000)
            )

        monkeypatch.setattr(pq, "ParquetFile", footer)
        d = tmp_path / "events.parquet"
        d.mkdir()
        for i in range(8):
            (d / f"part-{i}.parquet").write_bytes(b"")
        # 3 configured state partitions: the swap is settled (a no-op)
        # once rows exceed 2 x 65536, i.e. after 4 of the 8 footers
        partitions(3)
        with _event_drain(spark, str(tmp_path), target_rows=0):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert len(reads) == 4
        # files >= pool and no state gate: no footer at all
        reads.clear()
        assert _batch_volume(str(d), 8, 65536, 1)[0] == 8
        assert reads == []

    def test_overlapping_drains_restore_the_session(
        self, spark, tmp_path, partitions
    ):
        """Drain A (200k rows) narrows 32 -> 4; drain B (1k rows) starting
        while A is open must not save A's 4 as the value to restore (B
        would put it back after A restored 32). Drains serialize, so each
        sees the session's own 32."""
        import threading

        import pyarrow.parquet as pq

        from pandas_to_postgres_spark.streaming.events import _event_drain

        for name, rows in (("a", 200_000), ("b", 1000)):
            (tmp_path / name).mkdir()
            pq.write_table(
                pa.table({"x": pa.array(range(rows))}),
                str(tmp_path / name / "events.parquet"),
            )
        a_in, b_in, a_out = (threading.Event() for _ in range(3))
        seen, errors = {}, []

        def drain(name, entered, wait_for, timeout):
            try:
                with _event_drain(spark, str(tmp_path / name)):
                    seen[name] = spark.conf.get("spark.sql.shuffle.partitions")
                    entered.set()
                    # unserialized, B enters while A waits here and
                    # exits after A has restored
                    wait_for.wait(timeout)
            except Exception as e:  # surfaced by the assert below
                errors.append(e)
            finally:
                if name == "a":
                    a_out.set()

        partitions(32)
        a = threading.Thread(target=drain, args=("a", a_in, b_in, 1))
        b = threading.Thread(target=drain, args=("b", b_in, a_out, 30))
        a.start()
        a_in.wait(30)
        b.start()
        a.join(60)
        b.join(60)
        assert not a.is_alive() and not b.is_alive()
        assert errors == []
        assert seen == {"a": "4", "b": "1"}
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


class TestStreamWidth:
    """The microbatch widening (streaming/events.py::_gates, width) of a
    drain whose source is missing."""

    def test_missing_path_is_a_noop(self, spark, tmp_path):
        from pandas_to_postgres_spark.streaming.events import _gates

        assert _gates(spark, str(tmp_path / "nope"), 1000) == (0, 0)


class TestScaledStatePartitions:
    """The state-partition swap (streaming/events.py::_event_drain) of a
    drain whose source is missing."""

    def test_missing_source_is_a_noop(self, spark, tmp_path):
        from pandas_to_postgres_spark.streaming.events import _event_drain

        before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            with _event_drain(spark, str(tmp_path / "nope")) as drain:
                inside = spark.conf.get("spark.sql.shuffle.partitions")
            assert (inside, drain.width) == ("4", 0)
            assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)


class TestStorageGuard:
    """The setup statements of a direct COPY task (sinks/postgres_copy)."""

    def test_lock_then_filenode_check(self):
        from pandas_to_postgres_spark.sinks.postgres_copy import _storage_guard

        lock, check = _storage_guard(TargetTable("s", "it's", ("a",)), "16390")
        assert lock == 'LOCK TABLE "s"."it\'s" IN ROW EXCLUSIVE MODE'
        assert "pg_relation_filenode('\"s\".\"it''s\"'::regclass)" in check
        assert "IS DISTINCT FROM 16390 THEN RAISE EXCEPTION" in check
        # a table without storage of its own (partitioned) reads NULL
        assert "IS DISTINCT FROM NULL " in _storage_guard(T, None)[1]


class TestBenchTierErrors:
    def test_failure_is_recorded_and_tier_drops_out(self):
        import bench

        errors: dict = {}
        assert bench._tier(errors, "ok", lambda x: x + 1, 1) == 2

        def no_server():
            raise RuntimeError("server did not start")

        assert bench._tier(errors, "pg", no_server) is None
        bench._tier(errors, "pg", lambda: 1 / 0)  # the first failure is kept
        assert errors == {"pg": "RuntimeError: server did not start"}


class _FakeConn:
    """A client connection that records each statement, or fails it."""

    def __init__(self, log: list, fail: bool):
        self.log, self.fail, self.autocommit = log, fail, False

    def cursor(self):
        return self

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def execute(self, sql, params=None):
        if self.fail:
            raise ConnectionError("server closed the connection")
        self.log.append(sql)

    def close(self):
        pass


class TestDeferredStageDrops:
    """The pending stage drop per server of sinks/postgres_copy, against a
    fake client."""

    def _fake_client(self, monkeypatch, log, rerun_fails=False):
        import types

        from pandas_to_postgres_spark.sinks import postgres_copy

        client = types.SimpleNamespace(
            connect=lambda **_: _FakeConn(log, rerun_fails)
        )
        monkeypatch.setattr(postgres_copy, "_psycopg2", lambda: client)

    def test_no_failed_drop_is_lost_under_contention(self, monkeypatch):
        """Threads (more than cores) defer drops, a third of which fail:
        every stage is still dropped, by its drop or by the re-run of the
        join that follows it."""
        import sys
        import threading

        from pandas_to_postgres_spark.sinks.postgres_copy import (
            StageMessage,
            _defer_sweep,
            join_stage_drops,
        )

        log: list = []
        self._fake_client(monkeypatch, log)
        join_stage_drops()
        names = [f"s_{t}_{i}" for t in range(16) for i in range(20)]

        def defer(t):
            for i in range(20):
                name = f"s_{t}_{i}"
                conn = _FakeConn(log, fail=i % 3 == 0)
                _defer_sweep(conn, {}, T, [StageMessage(name, 1)], None)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=defer, args=(t,)) for t in range(16)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(60)
            assert not any(th.is_alive() for th in threads)
            join_stage_drops()
        finally:
            sys.setswitchinterval(old)
        dropped = sorted(sql.rsplit(".", 1)[1].strip('"') for sql in log)
        assert dropped == sorted(names)

    def test_failed_rerun_raises_with_the_stage_names(self, monkeypatch):
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            StageMessage,
            _defer_sweep,
            join_stage_drops,
        )

        log: list = []
        self._fake_client(monkeypatch, log, rerun_fails=True)
        join_stage_drops()
        messages = [StageMessage("orders__stg_x_0", 3), StageMessage(None, 0)]
        _defer_sweep(_FakeConn(log, fail=True), {}, T, messages, None)
        with pytest.raises(RuntimeError, match=r"\['orders__stg_x_0'\]"):
            join_stage_drops()
        join_stage_drops()  # raised once: nothing is pending any more
        assert log == []
        # a deferral whose join raises still hands its own drop off
        _defer_sweep(_FakeConn(log, fail=True), {}, T, messages, None)
        with pytest.raises(RuntimeError, match="could not drop"):
            _defer_sweep(
                _FakeConn(log, fail=False), {}, T,
                [StageMessage("orders__stg_y_0", 1)], None,
            )
        join_stage_drops()
        assert log == ['DROP TABLE IF EXISTS "public"."orders__stg_y_0"']

    def test_each_server_joins_only_its_own_drop(self, monkeypatch):
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            StageMessage,
            _defer_sweep,
            join_stage_drops,
        )

        log: list = []
        self._fake_client(monkeypatch, log, rerun_fails=True)
        join_stage_drops()
        a, b = {"host": "a", "port": 1}, {"host": "b", "port": 1}
        _defer_sweep(_FakeConn(log, fail=True), a, T, [StageMessage("s_a", 1)], None)
        _defer_sweep(_FakeConn(log, fail=False), b, T, [StageMessage("s_b", 1)], None)
        join_stage_drops(b)  # server a's failed drop is not b's
        _defer_sweep(_FakeConn(log, fail=False), b, T, [StageMessage("s_b2", 1)], None)
        with pytest.raises(RuntimeError, match=r"\['s_a'\]"):
            join_stage_drops()
        join_stage_drops()
        assert sorted(sql.rsplit(".", 1)[1] for sql in log) == ['"s_b"', '"s_b2"']
