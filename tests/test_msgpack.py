"""Msgpack source: byte-golden fixtures for all four reference wire forms
(`internal/decoder/decoder.go:30-36,105-176`, v2 uint64-ms
`out_clp_s3_v2.go:285-295`, v1 uint64-s `flush/flush.go:122-134`), the
malformed-record drop-and-count policy, and the Spark mapInArrow surface.

Fixture bytes are handwritten per the public msgpack spec — NOT produced
by our encoder — so decode correctness is pinned against the format, not
against our own code.
"""

import struct

from fluent_bit_clp_spark.sources.msgpack import (
    decode_msgpack_chunks,
    encode_record,
    iter_records,
    read_msgpack_files,
)

# --- handcrafted wire bytes -------------------------------------------------

SEC, NSEC = 1_700_000_000, 123_000_000  # → 1700000000123 ms
MS = SEC * 1000 + NSEC // 1_000_000

# fixext8(type=0, BE sec, BE nsec)
FIXEXT8_TS = b"\xd7\x00" + struct.pack(">II", SEC, NSEC)
# {"log": "hello"} : fixmap(1) + fixstr"log" + fixstr"hello"
RECORD = b"\x81\xa3log\xa5hello"
RECORD_JSON = '{"log":"hello"}'

V1_FIXEXT = b"\x92" + FIXEXT8_TS + RECORD  # [FlbTime, record]
V1_UINT_S = b"\x92\xcf" + struct.pack(">Q", SEC) + RECORD  # [uint64 s, record]
V2_UINT_MS = b"\x92\xcf" + struct.pack(">Q", MS) + RECORD  # [uint64 ms, record]
# [[FlbTime, {}], record] — v2 metadata layout
V2_META = b"\x92\x92" + FIXEXT8_TS + b"\x80" + RECORD


def test_v1_fixext_flbtime():
    assert list(iter_records(V1_FIXEXT, "v1")) == [(MS, RECORD_JSON, False)]
    # FlbTime decode is mode-independent
    assert list(iter_records(V1_FIXEXT, "v2")) == [(MS, RECORD_JSON, False)]


def test_v1_uint64_seconds():
    assert list(iter_records(V1_UINT_S, "v1")) == [
        (SEC * 1000, RECORD_JSON, False)
    ]


def test_v2_uint64_millis():
    assert list(iter_records(V2_UINT_MS, "v2")) == [(MS, RECORD_JSON, False)]


def test_v2_metadata_layout():
    assert list(iter_records(V2_META, "v2")) == [(MS, RECORD_JSON, False)]


def test_multi_record_stream():
    blob = V2_UINT_MS + V2_META + V1_FIXEXT
    out = list(iter_records(blob, "v2"))
    assert [r[0] for r in out] == [MS, MS, MS]
    assert all(not r[2] for r in out)


def test_malformed_short_metadata_array():
    # [[FlbTime], record] — inner array below minMetadataLen (decoder.go:114)
    blob = b"\x92\x91" + FIXEXT8_TS + RECORD + V2_UINT_MS
    out = list(iter_records(blob, "v2"))
    assert out[0] == (None, None, True)
    assert out[1] == (MS, RECORD_JSON, False)  # stream continues


def test_malformed_not_a_pair():
    # fixarray(1) containing just a record — wrong arity
    blob = b"\x91" + RECORD + V2_UINT_MS
    out = list(iter_records(blob, "v2"))
    assert out[0] == (None, None, True)
    assert out[1][2] is False


def test_malformed_bad_ts_type_keeps_record():
    # ["x", record]: unrecognized ts type → null ts + flagged, record kept
    # (we deviate from the reference's wall-clock substitution on purpose)
    blob = b"\x92\xa1x" + RECORD
    assert list(iter_records(blob, "v2")) == [(None, RECORD_JSON, True)]


def test_truncated_stream_aborts_with_flag():
    blob = V2_UINT_MS + V2_META[: len(V2_META) // 2]
    out = list(iter_records(blob, "v2"))
    assert out[0][2] is False
    assert out[-1] == (None, None, True)


def test_record_json_sorted_keys_nested():
    # map keys must serialize sorted (Go json.Marshal semantics)
    rec = b"\x82\xa1b\x01\xa1a\x92\xc3\xcb" + struct.pack(">d", 1.5)
    blob = b"\x92\xcf" + struct.pack(">Q", MS) + rec
    assert list(iter_records(blob, "v2")) == [
        (MS, '{"a":[true,1.5],"b":1}', False)
    ]


def test_encoder_roundtrip_all_layouts():
    for layout in ("v1_fixext", "v1_uint_s", "v2_uint_ms", "v2_meta"):
        mode = "v1" if layout == "v1_uint_s" else "v2"
        blob = encode_record(MS, {"log": "hello"}, layout)
        (ts_ms, rec, bad) = next(iter(iter_records(blob, mode)))
        want = (MS // 1000) * 1000 if layout == "v1_uint_s" else MS
        assert (ts_ms, rec, bad) == (want, RECORD_JSON, False), layout


def test_spark_decode_chunks(spark):
    rows = [("c0", V2_UINT_MS + V2_META), ("c1", V1_FIXEXT), ("c2", None)]
    df = spark.createDataFrame(rows, "src string, content binary")
    out = decode_msgpack_chunks(df, "v2").collect()
    got = {(r.src, r.rec_idx): (r.ts_ms, r.record_json, r.malformed) for r in out}
    assert got[("c0", 0)] == (MS, RECORD_JSON, False)
    assert got[("c0", 1)] == (MS, RECORD_JSON, False)
    assert got[("c1", 0)] == (MS, RECORD_JSON, False)
    assert got[("c2", 0)] == (None, None, True)


def test_spark_read_msgpack_files(spark, tmp_path):
    d = tmp_path / "chunks"
    d.mkdir()
    (d / "a.msgpack").write_bytes(V2_UINT_MS)
    (d / "b.msgpack").write_bytes(V2_META + V1_FIXEXT)
    out = read_msgpack_files(spark, str(d), "v2")
    rows = out.collect()
    assert len(rows) == 3
    assert all(r.ts_ms == MS and not r.malformed for r in rows)


# --- property-based round-trip (hypothesis) --------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**64 - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=40),
)
_json_vals = st.recursive(
    _scalars,
    lambda kids: st.one_of(
        st.lists(kids, max_size=4),
        st.dictionaries(st.text(max_size=8), kids, max_size=4),
    ),
    max_leaves=12,
)


@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=0, max_value=(2**31 - 1) * 1000),
    st.dictionaries(st.text(max_size=8), _json_vals, max_size=4),
    st.sampled_from(["v1_fixext", "v2_uint_ms", "v2_meta"]),
)
def test_property_roundtrip_arbitrary_records(ts_ms, record, layout):
    """Any JSON-able record survives encode→decode with the exact ts and
    Go-style sorted-key JSON rendering."""
    import json

    blob = encode_record(ts_ms, record, layout)
    (got_ts, got_json, bad) = next(iter(iter_records(blob, "v2")))
    assert not bad
    assert got_ts == ts_ms
    assert got_json == json.dumps(
        record, sort_keys=True, separators=(",", ":"), ensure_ascii=False
    )


def test_msgpack_to_pipeline_end_to_end(spark, tmp_path):
    """Full integration: msgpack chunk files → decode → single-key message
    extraction → encode pipeline → per-sink output, with round-trip text
    equality and the malformed record surfacing as an encode failure."""
    import json
    import os

    from pyspark.sql import functions as F

    from fluent_bit_clp_spark.functions.clp_native import clp_decode_column
    from fluent_bit_clp_spark.plans.pipeline import run_to_sinks
    from fluent_bit_clp_spark.sources.msgpack import (
        msgpack_to_transcripts,
        read_msgpack_files,
    )

    d = tmp_path / "chunks"
    d.mkdir()
    msgs = [f"level=warn worker {i} took {i * 1.5:.1f} ms" for i in range(20)]
    blob = b"".join(
        encode_record(1_700_000_000_000 + i, {"log": m, "file_path": "/var/log/x"})
        for i, m in enumerate(msgs)
    )
    (d / "a.msgpack").write_bytes(blob)
    # second chunk: one record whose ts type is bogus (null ts → failure)
    (d / "b.msgpack").write_bytes(
        b"\x92\xa1x" + b"\x81\xa3log\xa2ok"
    )
    decoded = read_msgpack_files(spark, str(d), "v2")
    transcripts = msgpack_to_transcripts(decoded)
    out = str(tmp_path / "out")
    res = run_to_sinks(spark, transcripts, out, "run-mp")
    assert res["ingest"]["num_events"] == 21
    assert res["ingest"]["encode_failures"] == 1  # the null-ts record
    back = spark.read.parquet(os.path.join(out, "sinks"))
    assert set(r.sink for r in back.select("sink").distinct().collect()) == {"ops"}
    dec = back.withColumn("t", clp_decode_column())
    got = sorted(
        r.t for r in dec.where(F.col("conv_id").like("%a.msgpack")).collect()
    )
    assert got == sorted(msgs)
    # level extraction saw 'level=warn' (LEVEL_WARN == 3)
    assert back.where(F.col("level_id") == 3).count() == 20


def test_adversarial_deep_nesting_is_malformed_row():
    """Thousands of nested fixarrays must degrade to one malformed row,
    not a RecursionError escaping the task (round-2 review fix)."""
    blob = b"\x91" * 3000 + b"\xc0"
    assert list(iter_records(blob, "v2")) == [(None, None, True)]


def test_uint64_ts_beyond_int64_is_malformed():
    """A uint64 ts >= 2^63 (legal msgpack) must flag, not overflow the
    Arrow bigint column."""
    blob = b"\x92\xcf" + struct.pack(">Q", 1 << 63) + RECORD
    assert list(iter_records(blob, "v2")) == [(None, RECORD_JSON, True)]
    # v1 multiply-overflow path too
    blob = b"\x92\xcf" + struct.pack(">Q", (1 << 62)) + RECORD
    assert list(iter_records(blob, "v1")) == [(None, RECORD_JSON, True)]


def test_nonfinite_float_record_is_malformed():
    """NaN/Inf floats are legal msgpack but invalid JSON; Go json.Marshal
    errors and the reference drops the record (decoder.go:166-172) — we
    flag the row malformed instead of emitting unparseable 'NaN' text
    (ADVICE r2)."""
    for word in (float("nan"), float("inf"), float("-inf")):
        rec = b"\x81\xa1k\xcb" + struct.pack(">d", word)  # {'k': nan/inf}
        blob = b"\x92\xcf" + struct.pack(">Q", MS) + rec
        assert list(iter_records(blob, "v2")) == [(None, None, True)]


def test_bin_typed_map_key_decodes_as_string():
    """RawToString analogue covers bin-typed keys: b'log' renders as
    JSON key "log", not "b'log'"."""
    rec = b"\x81\xc4\x03log\xa5hello"  # {bin8 'log': 'hello'}
    blob = b"\x92\xcf" + struct.pack(">Q", MS) + rec
    assert list(iter_records(blob, "v2")) == [(MS, RECORD_JSON, False)]


@settings(max_examples=120, deadline=None)
@given(
    st.dictionaries(
        st.text(max_size=64),  # >31-char keys take the str8 key path;
        # short keys the cached fixstr one
        st.one_of(
            st.text(max_size=300),  # str8/str16 values, escapes included
            st.integers(min_value=-(2**63), max_value=2**64 - 1),
            st.floats(allow_nan=False, allow_infinity=False),
            st.lists(st.text(max_size=40), max_size=3),
        ),
        max_size=6,
    )
)
def test_fused_emitter_differential(record):
    """The decode→JSON emitter must render byte-identically to
    json.dumps(sort_keys, compact, ensure_ascii=False) across marker
    widths (fixstr/str8/str16), escape-needing text, and both map-key
    paths (fixstr and longer keys)."""
    import json

    blob = encode_record(1_700_000_000_123, record, "v2_uint_ms")
    (_, got_json, bad) = next(iter(iter_records(blob, "v2")))
    assert not bad
    assert got_json == json.dumps(
        record, sort_keys=True, separators=(",", ":"), ensure_ascii=False
    )


def test_fused_emitter_bails_to_generic_on_bin_and_ext():
    """bin/ext values inside a record render by the decoder's policy:
    bin → utf-8 string, foreign ext → null (RawToString / unknown-ext),
    same as before round 6."""
    # {"b": bin8"xy", "e": fixext1(7), "k": "v"}
    rec = (b"\x83\xa1b\xc4\x02xy"
           b"\xa1e\xd4\x07\x00"
           b"\xa1k\xa1v")
    blob = b"\x92\xcf" + struct.pack(">Q", MS) + rec
    assert list(iter_records(blob, "v2")) == [
        (MS, '{"b":"xy","e":null,"k":"v"}', False)
    ]


def test_fused_emitter_duplicate_keys_keep_last():
    """Duplicate map keys keep the LAST value (dict semantics)."""
    # {"k": "a", "k": "b"} on the wire
    rec = b"\x82\xa1k\xa1a\xa1k\xa1b"
    blob = b"\x92\xcf" + struct.pack(">Q", MS) + rec
    assert list(iter_records(blob, "v2")) == [(MS, '{"k":"b"}', False)]


# --- wire values with no JSON-native type (hypothesis) ---------------------
#
# Each strategy draws (wire bytes, expected Python value): the expected
# value is built from what was drawn, never by decoding, and _BAD marks a
# value that must turn the whole record into one malformed row.

_BAD = object()
GOOD = V2_UINT_MS  # decodes to (MS, RECORD_JSON, False)

_STR = [(0xD9, ">B"), (0xDA, ">H"), (0xDB, ">I")]
_BIN = [(0xC4, ">B"), (0xC5, ">H"), (0xC6, ">I")]
_EXT = [(0xC7, ">B"), (0xC8, ">H"), (0xC9, ">I")]
_ARR = [(0xDC, ">H"), (0xDD, ">I")]
_MAP = [(0xDE, ">H"), (0xDF, ">I")]
_INTS = [
    (0xCC, ">B"), (0xCD, ">H"), (0xCE, ">I"), (0xCF, ">Q"),
    (0xD0, ">b"), (0xD1, ">h"), (0xD2, ">i"), (0xD3, ">q"),
]


def _sized(draw, n, forms, fix=None):
    """Header of a length-``n`` object: the fix form ``(marker, max)``
    when it holds ``n`` and is drawn, else a drawn length form that does."""
    if fix is not None and n <= fix[1] and draw(st.booleans()):
        return bytes([fix[0] | n])
    m, f = draw(st.sampled_from(
        [(m, f) for m, f in forms if n < 1 << (8 * struct.calcsize(f))]
    ))
    return bytes([m]) + struct.pack(f, n)


@st.composite
def _w_str(draw, text=st.text(max_size=300)):
    s = draw(text)
    b = s.encode("utf-8")
    return _sized(draw, len(b), _STR, (0xA0, 31)) + b, s


@st.composite
def _w_bin(draw):
    b = draw(st.binary(max_size=300))
    return _sized(draw, len(b), _BIN) + b, b.decode("utf-8", "replace")


@st.composite
def _w_ext(draw):
    code = struct.pack(">b", draw(st.integers(-128, 127)))
    data = draw(st.binary(max_size=20))
    fix = {1: 0xD4, 2: 0xD5, 4: 0xD6, 8: 0xD7, 16: 0xD8}.get(len(data))
    if fix is not None and draw(st.booleans()):
        return bytes([fix]) + code + data, None
    return _sized(draw, len(data), _EXT) + code + data, None


@st.composite
def _w_int(draw):
    v = draw(st.integers(min_value=-(2**63), max_value=2**64 - 1))
    forms = []
    for m, f in _INTS:
        try:
            forms.append(bytes([m]) + struct.pack(f, v))
        except struct.error:  # v does not fit this width
            pass
    if 0 <= v <= 0x7F:
        forms.append(bytes([v]))
    if -32 <= v < 0:
        forms.append(struct.pack(">b", v))
    return draw(st.sampled_from(forms)), v


@st.composite
def _w_float(draw):
    if draw(st.booleans()):
        f = draw(st.floats(width=32))
        wire = b"\xca" + struct.pack(">f", f)
    else:
        f = draw(st.floats())
        wire = b"\xcb" + struct.pack(">d", f)
    finite = f == f and f not in (float("inf"), float("-inf"))
    return wire, f if finite else _BAD


_w_words = st.sampled_from([(b"\xc0", None), (b"\xc2", False), (b"\xc3", True)])
_w_scalars = st.one_of(_w_str(), _w_bin(), _w_ext(), _w_int(), _w_float(), _w_words)


def _as_key(wire_val):
    """A scalar's key rendering: its text for str/bin, str() for the
    rest; ext keys and non-finite float keys have no text form."""
    wire, v = wire_val
    if v is _BAD or v is None and wire[0] != 0xC0:
        return wire, _BAD
    return wire, v if isinstance(v, str) else str(v)


def _w_container(kids):
    no_text_keys = st.one_of(  # array and map keys
        st.lists(kids, max_size=2).map(
            lambda items: bytes([0x90 | len(items)]) + b"".join(w for w, _ in items)
        ),
        st.lists(st.tuples(_w_str(), kids), max_size=2).map(
            lambda pairs: bytes([0x80 | len(pairs)])
            + b"".join(k + v for (k, _), (v, _) in pairs)
        ),
    ).map(lambda wire: (wire, _BAD))
    keys = st.one_of(
        _w_str(st.text(max_size=40)), _w_scalars.map(_as_key), no_text_keys
    )

    @st.composite
    def array(draw):
        items = draw(st.lists(kids, max_size=4))
        vals = [v for _, v in items]
        return (
            _sized(draw, len(items), _ARR, (0x90, 15))
            + b"".join(w for w, _ in items),
            _BAD if any(v is _BAD for v in vals) else vals,
        )

    @st.composite
    def mapping(draw):
        pairs = draw(st.lists(st.tuples(keys, kids), max_size=4))
        out = {}
        for (_, k), (_, v) in pairs:  # wire order: duplicate keys keep last
            out[k] = v
        bad = any(k is _BAD or v is _BAD for (_, k), (_, v) in pairs)
        return (
            _sized(draw, len(pairs), _MAP, (0x80, 15))
            + b"".join(kw + vw for (kw, _), (vw, _) in pairs),
            _BAD if bad else out,
        )

    return st.one_of(array(), mapping())


_w_values = st.recursive(_w_scalars, _w_container, max_leaves=10)


@settings(max_examples=300, deadline=None)
@given(st.lists(
    st.tuples(_w_container(_w_values), st.booleans()), min_size=1, max_size=3
))
def test_property_wire_values_render_from_python_side(records):
    """bin/ext values, str8/long/bin/int/bool/nil/float keys, array16/map16
    and non-finite floats render exactly as the drawn Python values do
    under json.dumps (bin as text, ext as null, keys as their str()); a
    non-finite float or an ext/array/map key makes the record one
    malformed row, and the good record after each one still decodes."""
    import json

    blob, want = b"", []
    for (wire, value), array16 in records:
        head = b"\xdc\x00\x02" if array16 else b"\x92"
        blob += head + b"\xcf" + struct.pack(">Q", MS) + wire + GOOD
        if value is _BAD:
            want.append((None, None, True))
        else:
            text = json.dumps(
                value, sort_keys=True, separators=(",", ":"), ensure_ascii=False
            )
            want.append((MS, text, False))
        want.append((MS, RECORD_JSON, False))
    assert list(iter_records(blob, "v2")) == want


def test_key_without_text_form_is_one_malformed_row():
    """An ext, array or map key (or a non-finite float key) has no JSON
    key text: the record is one malformed row — never a memory-address
    repr — and the next record decodes."""
    for key in (
        b"\xd4\x07\x00",  # fixext1
        b"\xc7\x02\x05ab",  # ext8
        b"\x92\x01\x02",  # [1, 2]
        b"\x81\xa1a\x01",  # {"a": 1}
        b"\xcb" + struct.pack(">d", float("nan")),
    ):
        rec = b"\x82" + key + b"\xa1v\xa1k\xa1w"  # {key: "v", "k": "w"}
        blob = b"\x92\xcf" + struct.pack(">Q", MS) + rec + GOOD
        assert list(iter_records(blob, "v2")) == [
            (None, None, True),
            (MS, RECORD_JSON, False),
        ], key.hex()


def _flagged_ts(spark, blob, ts_mode):
    from pyspark.sql import functions as F

    from fluent_bit_clp_spark.sources.msgpack import msgpack_to_transcripts

    df = spark.createDataFrame([("c0", blob)], "src string, content binary")
    out = msgpack_to_transcripts(decode_msgpack_chunks(df, ts_mode))
    # a collected datetime cannot hold year 294247: compare the null flag
    return [
        (r.turn_idx, r.ts_null, r.text)
        for r in out.select(
            "turn_idx", F.col("ts").isNull().alias("ts_null"), "text"
        ).orderBy("turn_idx").collect()
    ]


def test_ts_beyond_spark_range_is_flagged_not_fatal(spark):
    """Spark's timestamp_millis overflows a long above Long.MAX // 1000 ms
    and kills the job: such a stamp is flagged with a null ts, on both
    sides of the bound, for v2 ms and v1 seconds, and the next record is
    intact."""
    top = ((1 << 63) - 1) // 1000  # 9_223_372_036_854_775

    def pair(ts):
        return b"\x92\xcf" + struct.pack(">Q", ts) + RECORD

    v2 = pair(top) + pair(top + 1) + GOOD
    assert _flagged_ts(spark, v2, "v2") == [
        (0, False, "hello"), (1, True, "hello"), (2, False, "hello"),
    ]
    assert list(iter_records(v2, "v2"))[1] == (None, RECORD_JSON, True)
    v1 = pair(top // 1000) + pair(top // 1000 + 1) + V1_UINT_S
    assert _flagged_ts(spark, v1, "v1") == [
        (0, False, "hello"), (1, True, "hello"), (2, False, "hello"),
    ]


def test_spark_decode_keeps_ts_ms_above_2_53(spark):
    """ts_ms > 2^53 survives the decode exactly, in a chunk that also
    holds a null ts_ms and in a second chunk of the same Arrow batch that
    holds none (a float64 column would round both to 2^53)."""
    big = 2**53 + 1
    rec = b"\x92\xcf" + struct.pack(">Q", big) + RECORD
    rows = [("c0", rec + b"\x92\xa1x" + RECORD), ("c1", rec)]
    df = spark.createDataFrame(rows, "src string, content binary").coalesce(1)
    got = sorted(
        (r.src, r.rec_idx, r.ts_ms)
        for r in decode_msgpack_chunks(df, "v2").collect()
    )
    assert got == [("c0", 0, big), ("c0", 1, None), ("c1", 0, big)]
