"""Binary IR-stream chunk writer round-trip (K1 object payloads)."""

from pyspark.sql import functions as F

from fluent_bit_clp_spark.datagen import transcripts
from fluent_bit_clp_spark.functions.clp_pandas import _decode_one
from fluent_bit_clp_spark.operators.irstream import read_ir_chunk, write_ir_chunks
from fluent_bit_clp_spark.plans.pipeline import encode_pipeline


def test_ir_chunk_roundtrip(spark):
    df = transcripts(spark, 500, with_edge_rows=False)
    enc = encode_pipeline(df, spark).cache()
    chunks = write_ir_chunks(enc).collect()
    assert sum(c.n_events for c in chunks) == enc.count()
    assert all(c.n_bytes_compressed < c.n_bytes_raw for c in chunks if c.n_events > 5)
    # decode every event of every chunk back to text; compare against input
    decoded_texts = []
    for c in chunks:
        for ev in read_ir_chunk(bytes(c.ir_zstd)):
            decoded_texts.append(
                _decode_one(ev["logtype"], ev["var_kinds"],
                            ev["encoded_vars"], ev["dict_vars"])
            )
    want = sorted(r.text for r in enc.select("text").collect())
    assert sorted(decoded_texts) == want


def test_ir_chunks_one_per_sink_chunk(spark):
    df = transcripts(spark, 500, with_edge_rows=False)
    enc = encode_pipeline(df, spark)
    chunks = write_ir_chunks(enc)
    expected = enc.select("sink", "chunk_id").distinct().count()
    assert chunks.count() == expected
    # monotone per-sink chunk ids (R3 analogue)
    rows = chunks.select("sink", "chunk_id").collect()
    per_sink = {}
    for r in rows:
        per_sink.setdefault(r.sink, []).append(r.chunk_id)
    for sink, ids in per_sink.items():
        assert sorted(ids) == list(range(len(ids))), sink


def test_read_ir_chunks_df_roundtrip(spark):
    """The DataFrame-level IR reader (consumer surface) reproduces every
    event; decode of the read-back equals the original text."""
    from fluent_bit_clp_spark.operators.irstream import read_ir_chunks_df
    from fluent_bit_clp_spark.functions.clp_native import clp_decode

    df = transcripts(spark, 300, with_edge_rows=False)
    enc = encode_pipeline(df, spark)
    blobs = write_ir_chunks(enc)
    events = read_ir_chunks_df(blobs)
    assert events.count() == enc.count()
    dec = clp_decode(events, "t")
    got = sorted(r.t for r in dec.select("t").collect())
    want = sorted(r.text for r in df.select("text").collect())
    assert got == want


def test_zstd_codec_real_frames():
    """The IR blob codec produces STANDARD zstd frames (magic 28 B5 2F FD)
    in this container (pyarrow-bundled codec) — decompressible by any
    zstd tooling, matching the reference's Zstd stage."""
    from fluent_bit_clp_spark.operators.irstream import (
        _compress,
        _decompress,
    )

    data = b"log line payload " * 500
    comp = _compress(data)
    assert comp[:4] == bytes.fromhex("28b52ffd")  # RFC 8878 frame magic
    assert _decompress(comp) == data
    assert len(comp) < len(data)


def test_compression_stats_query(spark):
    """The A3 observability query reports real compression: every sink's
    stream compresses below raw IR bytes, events are all accounted."""
    import __spark_entry__ as E

    rows = E.queries()["pipeline_compression_stats"](spark, "unused").collect()
    assert rows
    assert sum(r.n_events for r in rows) == 2007  # transcripts(2000) + edges
    for r in rows:
        assert r.bytes_compressed < r.bytes_raw, r.sink
        assert r.compression_ratio > 1.0


def test_compression_ratio_band(spark):
    """VERDICT r4 #6: with the codec pinned (zstd, standard frames —
    test_zstd_codec_real_frames) the end-to-end ratio is deterministic,
    so the reference's headline compression claim (README.md:16-18) gets
    a regression GATE, not just a >1 sanity check.

    Two fixed corpora, bands ~10-30%% under the measured values:
    - template corpus (20k turns, hash-unique variables — adversarial
      for variable separation): text→compressed ≥ 3.5 (measured 4.17
      on the v4 delta/varint wire; the v3 absolute-ts wire gave 3.27);
    - template-heavy corpus (edge rows: massive repeated payloads):
      text→compressed ≥ 80 (measured ~114).
    """
    from fluent_bit_clp_spark.datagen import transcripts
    from fluent_bit_clp_spark.operators.irstream import write_ir_chunks
    from fluent_bit_clp_spark.plans.pipeline import encode_pipeline

    for n, edge, band in ((20_000, False, 3.5), (2_000, True, 80.0)):
        df = transcripts(spark, n, with_edge_rows=edge)
        text_bytes = df.agg(F.sum(F.octet_length("text"))).first()[0]
        chunks = write_ir_chunks(encode_pipeline(df, spark))
        comp = chunks.agg(F.sum("n_bytes_compressed")).first()[0]
        ratio = text_bytes / comp
        assert ratio >= band, (n, edge, ratio)


def test_v3_blobs_still_decode():
    """Back-compat: v3 streams (absolute i64 timestamps, fixed u32
    lengths) written by earlier rounds must still decode."""
    import struct

    from fluent_bit_clp_spark.operators.irstream import (
        _compress,
        read_ir_chunk,
        read_ir_header,
    )

    tz = b"America/Toronto"
    lt = "user \x11 did \x11".encode()
    dv = b"u77"
    raw = b"".join([
        struct.pack("<BB", 3, 0),
        struct.pack("<H", len(tz)), tz,
        # event: tag, flags(has_ts), abs i64 ts, n_vars u32, lt_len u32
        struct.pack("<BB", 0x01, 0x01),
        struct.pack("<q", 1_700_000_000_123),
        struct.pack("<I", 2),
        struct.pack("<I", len(lt)), lt,
        struct.pack("<BI", 2, len(dv)), dv,   # dict var
        struct.pack("<Bq", 0, -42),           # int var
        struct.pack("<B", 0x00),              # EOS
    ])
    blob = _compress(raw)
    assert read_ir_header(blob) == {
        "version": 3, "encoding": 0, "timezone": "America/Toronto",
    }
    (ev,) = read_ir_chunk(blob)
    assert ev["ts_ms"] == 1_700_000_000_123
    assert ev["logtype"] == lt.decode()
    assert ev["var_kinds"] == [2, 0]
    assert ev["encoded_vars"][1] == -42 and ev["dict_vars"][0] == "u77"


def test_v4_delta_timestamps_roundtrip_extremes(spark):
    """Zigzag-varint deltas: negative ts, ts=-1, null-ts events in the
    middle (must not advance the delta reference), and out-of-order
    timestamps (negative deltas) all round-trip."""
    from fluent_bit_clp_spark.operators.irstream import (
        read_ir_chunk,
        write_ir_chunks,
    )

    rows = [
        ("s", 0, "c", 0, 5_000, "a \x11", [0], [1], [None]),
        ("s", 0, "c", 1, None, "b", [], [], []),        # no ts: ref unchanged
        ("s", 0, "c", 2, 1_000, "c \x11", [0], [2], [None]),  # negative delta
        ("s", 0, "c", 3, -1, "d", [], [], []),          # genuine -1 ms
    ]
    df = spark.createDataFrame(
        rows,
        "sink string, chunk_id long, conv_id string, turn_idx int, "
        "ts_ms long, logtype string, var_kinds array<int>, "
        "encoded_vars array<long>, dict_vars array<string>",
    )
    (chunk,) = write_ir_chunks(df).collect()
    evs = read_ir_chunk(bytes(chunk.ir_zstd))
    assert [e["ts_ms"] for e in evs] == [5_000, None, 1_000, -1]
    assert [e["logtype"] for e in evs] == ["a \x11", "b", "c \x11", "d"]


def test_timezone_in_preamble(spark):
    """VERDICT r2 #3: the configured IANA timezone is serialized into every
    stream's preamble (reference: internal/irzstd/disk.go:61, default
    America/Toronto per internal/outctx/config.go:35,62) and surfaced by
    the reader; events still round-trip after the header."""
    from fluent_bit_clp_spark.operators.irstream import (
        DEFAULT_TIMEZONE,
        read_ir_header,
    )
    from fluent_bit_clp_spark.sources.tables import JobConfig

    df = transcripts(spark, 100, with_edge_rows=False)
    enc = encode_pipeline(df, spark).cache()
    cfg = JobConfig(input_path="x", output_dir="y", timezone="Asia/Tokyo")
    chunks = write_ir_chunks(enc, timezone=cfg.timezone).collect()
    assert chunks
    for c in chunks:
        hdr = read_ir_header(bytes(c.ir_zstd))
        assert hdr["timezone"] == "Asia/Tokyo"
        assert read_ir_chunk(bytes(c.ir_zstd))  # events intact after header
    # default matches the reference's config default
    hdr = read_ir_header(bytes(write_ir_chunks(enc).collect()[0].ir_zstd))
    assert hdr["timezone"] == DEFAULT_TIMEZONE == "America/Toronto"


def test_object_key_naming(spark):
    """Upload keys mirror the reference's {tag}_{index}_{time}_{id} naming
    deterministically (content-derived id, first-event time)."""
    import re

    df = transcripts(spark, 200, with_edge_rows=False)
    enc = encode_pipeline(df, spark)
    chunks = write_ir_chunks(enc).collect()
    pat = re.compile(
        r"^(?P<sink>.+)_(?P<idx>\d+)_\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z"
        r"_[0-9a-f]{8}[.](zst|zlib)$"
    )
    for c in chunks:
        m = pat.match(c.object_key)
        assert m, c.object_key
        assert m.group("sink") == c.sink
        assert int(m.group("idx")) == c.chunk_id
    # deterministic: a second materialization produces identical keys
    again = {c.object_key for c in write_ir_chunks(enc).collect()}
    assert again == {c.object_key for c in chunks}


def test_truncated_header_raises_typed_error():
    """ADVICE r3: a truncated/corrupt preamble must raise the same typed
    ValueError family as version/format violations — never a silently
    short timezone or a downstream IndexError."""
    import struct

    import pytest

    from fluent_bit_clp_spark.operators.irstream import VERSION, _parse_header

    with pytest.raises(ValueError, match="truncated"):
        _parse_header(bytes([VERSION]))  # < 2 bytes
    with pytest.raises(ValueError, match="truncated"):
        _parse_header(bytes([VERSION, 0, 9]))  # tz length field cut short
    with pytest.raises(ValueError, match="truncated"):
        # tz_len=50 but only 4 timezone bytes present
        _parse_header(bytes([VERSION, 0]) + struct.pack("<H", 50) + b"Asia")


def test_object_tagging_mirrors_reference(spark):
    """K1 detail: every upload object carries the reference's
    fluentBitTag=<tag> tagging string (manager.go:18-19,92-97) so a
    downstream S3 lifecycle/filter rule keyed on the Fluent Bit tag works
    identically against our objects."""
    df = transcripts(spark, 100, with_edge_rows=False)
    enc = encode_pipeline(df, spark)
    for c in write_ir_chunks(enc).collect():
        assert c.object_tagging == f"fluentBitTag={c.sink}"


_GOLDEN_SCHEMA = (
    "sink string, chunk_id long, conv_id string, turn_idx int, "
    "ts_ms long, logtype string, var_kinds array<int>, "
    "encoded_vars array<long>, dict_vars array<string>"
)


def _golden_rows(i_hi: int, i_lo: int, f_word: int) -> list:
    """A fixed frame, deliberately out of (conv_id, turn_idx) order, over
    three (sink, chunk_id) groups: null ts, a negative ts delta, a
    variable-free row with a null logtype, null arrays, kinds 0/1/2 with a
    non-ASCII dictionary variable, and ints at the encoding's extremes."""
    return [
        ("app", 0, "c1", 2, None, None, [], [], []),
        ("app", 0, "c1", 1, 1_700_000_000_500, "at \x11 f \x13 u \x12",
         [0, 1, 2], [i_hi, f_word, None], [None, None, "naïve-Ω€"]),
        ("app", 0, "c1", 0, 1_700_000_001_000, "lo \x11",
         [0], [i_lo], [None]),
        ("app", 0, "c0", 5, 1_700_000_000_000, "x", None, None, None),
        ("app", 1, "c2", 0, 1_700_000_002_000, "d \x12 \x12",
         [2, 2], [None, None], ["", "日本"]),
        ("sys", 3, "c9", 0, -5, "neg \x11", [0], [-1], [None]),
        ("sys", 3, "c9", 1, -7, "", [], [], []),
    ]


# (encoding, sink, chunk_id) -> (n_events, first_ts_ms, sha256 of the
# decompressed stream, n_bytes_raw, object_key); any change to the v4
# wire bytes or the compressed blob breaks these.
_GOLDEN = {
    ("i64", "app", 0): (
        4, 1_700_000_000_000,
        "961d2ab4598612eb1a1dc24551d445b3d9103198fce39c44aea74ec9d2260cdd",
        104, "app_0_2023-11-14T22:13:20Z_3be8e754.zst",
    ),
    ("i64", "app", 1): (
        1, 1_700_000_002_000,
        "354725e48fbd22e689da601fe560cd803bfb3e77b3eb4f3e3623c85c8464be41",
        45, "app_1_2023-11-14T22:13:22Z_c617d7dd.zst",
    ),
    ("i64", "sys", 3): (
        2, -7,
        "397376715e590ab441b5d8b877155aff0b8716e9662cd988624c79cde8602e81",
        44, "sys_3_1969-12-31T23:59:59Z_de6b8a10.zst",
    ),
    ("4byte", "app", 0): (
        4, 1_700_000_000_000,
        "98623320442ac4fea0b96d68ec1d363667d7d19fcc141341bf38039520fc3458",
        92, "app_0_2023-11-14T22:13:20Z_9276acfe.zst",
    ),
    ("4byte", "app", 1): (
        1, 1_700_000_002_000,
        "92de48dd8ae2d635de143197632943386b882b5dba6689fcd79031a54c48de06",
        45, "app_1_2023-11-14T22:13:22Z_66da31ac.zst",
    ),
    ("4byte", "sys", 3): (
        2, -7,
        "77de357059b9796c5e9506d84fa62ff183529a7b69697f700922af0ae45120a3",
        40, "sys_3_1969-12-31T23:59:59Z_d6e897e6.zst",
    ),
}


def test_ir_v4_byte_golden(spark):
    """The v4 wire bytes, object keys and per-chunk columns of a fixed
    frame are pinned under both encodings (the other tests only check
    decode round-trips, which a symmetric reader/writer change passes)."""
    import hashlib

    from fluent_bit_clp_spark.operators.irstream import _decompress

    frames = {
        "i64": _golden_rows(2**63 - 1, -(2**63), 0x3FF8000000000000),
        "4byte": _golden_rows(2**31 - 1, -(2**31), 0xFFFFFFFF),
    }
    got, blobs = {}, {}
    for mode, rows in frames.items():
        df = spark.createDataFrame(rows, _GOLDEN_SCHEMA)
        for c in write_ir_chunks(df, encoding=mode).collect():
            blobs[mode, c.sink, c.chunk_id] = bytes(c.ir_zstd)
            raw = _decompress(bytes(c.ir_zstd))
            assert len(raw) == c.n_bytes_raw
            assert c.n_bytes_compressed == len(c.ir_zstd)
            assert c.object_tagging == f"fluentBitTag={c.sink}"
            got[mode, c.sink, c.chunk_id] = (
                c.n_events, c.first_ts_ms,
                hashlib.sha256(raw).hexdigest(), c.n_bytes_raw, c.object_key,
            )
    assert got == _GOLDEN
    evs = read_ir_chunk(blobs["i64", "app", 0])
    assert [e["ts_ms"] for e in evs] == [
        1_700_000_000_000, 1_700_000_001_000, 1_700_000_000_500, None,
    ]
    assert [e["logtype"] for e in evs] == [
        "x", "lo \x11", "at \x11 f \x13 u \x12", "",
    ]
    assert evs[0]["var_kinds"] == [] and evs[3]["var_kinds"] == []
    assert evs[1]["encoded_vars"] == [-(2**63)]
    assert evs[2]["var_kinds"] == [0, 1, 2]
    assert evs[2]["encoded_vars"][:2] == [2**63 - 1, 0x3FF8000000000000]
    assert evs[2]["dict_vars"][2] == "naïve-Ω€"
