"""Msgpack chunk source — the reference's actual wire input (S1).

The reference ingests Fluent Bit Msgpack chunks: a stream of top-level
``[timestamp, record]`` arrays, where the timestamp is one of
(`/root/reference/internal/decoder/decoder.go:30-36,105-176`):

- **fixext 8, ext type 0** (``FlbTime``): 4 big-endian bytes of Unix
  seconds + 4 big-endian bytes of nanoseconds (decoder.go:76-85);
- **uint64** — Unix **milliseconds** in the v2 plugin
  (`plugins/out_clp_s3_v2/out_clp_s3_v2.go:285-295`), Unix **seconds** in
  the v1 plugin (`plugins/out_clp_s3/internal/flush/flush.go:122-134`);
- **v2 metadata layout** ``[[timestamp, metadata], record]`` — the
  timestamp is the first element of the inner array, which must have ≥2
  elements (decoder.go:114-115,153-159).

The record is marshalled to JSON (decoder.go:166-172) by one walker over
the msgpack bytes, which emits the JSON text directly; like Go's
``json.Marshal`` it emits map keys in sorted order, with compact
separators.  Parity is **semantic, not byte-exact** (ADVICE r2): Go
additionally HTML-escapes ``<``, ``>``, ``&`` as ``\\u003c``-style
sequences, which we deliberately do not — both forms parse to identical
values, and the unescaped form is what every downstream JSON consumer
(P3, DuckDB oracle) compares on.  Values with no JSON form follow the
reference's decoder: bin renders as UTF-8 text (RawToString) and ext as
``null``.  Map keys must be strings: str and bin keys render as their
text, int/float/bool/nil keys as Python's ``str()`` of the value.
Non-finite floats (NaN/±Inf — legal msgpack, invalid JSON) follow the
reference's ``json.Marshal``-error path: the record becomes one malformed
row rather than unparseable ``NaN`` text.  An ext, array or map key (no
text form) gets the same malformed row.

Deviation (same stance as ``plans.pipeline.parse_normalize``): the
reference substitutes wall-clock *now* for unrecognized timestamp types
(out_clp_s3_v2.go:291-294) — a deterministic batch engine must not, so we
emit a null ``ts_ms`` and flag the row ``malformed`` instead; rows whose
*structure* is broken (not a 2-array, short metadata array) are emitted
null with ``malformed=true`` (the drop-and-count policy,
decoder.go:147-163), and an undecodable byte stream aborts the remainder
of that chunk with a single ``malformed`` row (msgpack cannot re-sync
after a framing error).

Spark shape: one input row per chunk blob (``binaryFile`` source or any
(src, content) table) → ``mapInArrow`` fan-out to records.  Chunks are
the unit of parallelism — Fluent Bit emits ~2 MiB chunks, so a 100 TB
backlog is ~50M chunk rows spread uniformly across executors; the decode
itself is per-chunk sequential by format (msgpack has no split points),
which matches the reference's per-chunk decoder loop.

The msgpack byte format implemented here is the public spec
(msgpack/spec.md); no external msgpack library exists in this container,
and the subset below covers everything Fluent Bit emits.  Byte-golden
fixtures in tests/test_msgpack.py pin all four wire forms.
"""

from __future__ import annotations

import json
import re
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

FLB_TIME_EXT_TYPE = 0  # decoder.go:53-57 (SetBytesExt(..., 0, ...))

DECODED_SCHEMA = (
    "src string, rec_idx bigint, ts_ms bigint, record_json string, "
    "malformed boolean"
)


class MsgpackError(ValueError):
    pass


class _FlbTime:
    __slots__ = ("sec", "nsec")

    def __init__(self, sec: int, nsec: int):
        self.sec = sec
        self.nsec = nsec

    def to_ms(self) -> int:
        # time.Unix(sec, nsec).UnixMilli() == sec*1000 + nsec//1e6
        return self.sec * 1000 + self.nsec // 1_000_000


# Marker dispatch (VERDICT r2 #5: the decode is the Python-side ingest
# ceiling — an if-chain pays up to ~25 comparisons per object).  Hot
# markers (fixint / fixstr / fixmap / fixarray) are tested first in
# _emit_json; the sized formats go through precompiled-Struct tables.

_INT = {  # uint8/16/32/64 (0xCC-0xCF), int8/16/32/64 (0xD0-0xD3)
    m: struct.Struct(f)
    for m, f in zip(
        range(0xCC, 0xD4), (">B", ">H", ">I", ">Q", ">b", ">h", ">i", ">q")
    )
}
_FLOAT = {0xCA: struct.Struct(">f"), 0xCB: struct.Struct(">d")}
_SB, _SH, _SI = _INT[0xCC], _INT[0xCD], _INT[0xCE]
_SII = struct.Struct(">II")
_RAW_LEN = {  # str8/16/32 and bin8/16/32 → the length field
    0xD9: _SB, 0xDA: _SH, 0xDB: _SI, 0xC4: _SB, 0xC5: _SH, 0xC6: _SI,
}
_EXT_LEN = {0xC7: _SB, 0xC8: _SH, 0xC9: _SI}  # ext8/16/32: length, type


def _take_raw(buf: bytes, pos: int, length: struct.Struct):
    """str/bin payload whose length field starts at ``pos`` → (text, end)."""
    start = pos + length.size
    end = start + length.unpack_from(buf, pos)[0]
    if end > len(buf):
        raise MsgpackError("truncated payload")
    # RawToString analogue (decoder.go:62): str and bin alike are text.
    return buf[start:end].decode("utf-8", "replace"), end


def _is_ext(b: int) -> bool:
    return 0xD4 <= b <= 0xD8 or 0xC7 <= b <= 0xC9


def _ext_span(buf: bytes, b: int, pos: int):
    """ext/fixext marker ``b``, header at ``pos`` → (type, data start, end)."""
    if b >= 0xD4:  # fixext 1/2/4/8/16: type byte, then the data
        start = pos + 1
        end = start + (1 << (b - 0xD4))
        code = buf[pos]
    else:  # ext 8/16/32: length, type byte, then the data
        length = _EXT_LEN[b]
        start = pos + length.size + 1
        end = start + length.unpack_from(buf, pos)[0]
        code = buf[start - 1]
    if end > len(buf):
        raise MsgpackError("truncated payload")
    return code, start, end


def _array_head(buf: bytes, pos: int):
    """Array header at ``pos`` → (count, first element pos); the count is
    None when the object there is not an array."""
    b = buf[pos]
    if 0x90 <= b <= 0x9F:
        return b & 0x0F, pos + 1
    if b == 0xDC:
        return _SH.unpack_from(buf, pos + 1)[0], pos + 3
    if b == 0xDD:
        return _SI.unpack_from(buf, pos + 1)[0], pos + 5
    return None, pos


# One decode→JSON walker (round 6 fused it; it is now the only decoder).
# json.dumps of a decoded map was ~27% of iter_records wall time (BENCH.md
# msgpack ceiling); emitting the JSON text directly while walking the
# msgpack bytes skips the intermediate dict/list tree.  int repr (str()),
# float repr (float.__repr__) and string escaping match json.dumps
# exactly.  A value that must make the record malformed (a non-finite
# float, a key with no text form) renders as a NUL: _emit_str escapes
# every control character, so a NUL in the record text can only be this
# sentinel, and the walk still consumes the record so the next decodes.

_NEEDS_ESC = re.compile(r'["\\\x00-\x1f]')
_esc_str = json.encoder.encode_basestring  # same escape set as the
# C encoder with ensure_ascii=False: ["\\\x00-\x1f] only

_NUL = "\x00"
_BAD_KEY = (_NUL, _NUL)
_WORDS = {0xC0: "null", 0xC2: "false", 0xC3: "true"}  # nil, false, true
_KEY_WORDS = {0xC0: "None", 0xC2: "False", 0xC3: "True"}  # their str()


def _emit_str(s: str) -> str:
    if _NEEDS_ESC.search(s) is None:
        return '"' + s + '"'
    return _esc_str(s)


# Log records repeat a small set of map keys millions of times; cache the
# raw key bytes → (decoded, escaped-quoted) pair so the steady state pays
# one dict lookup instead of utf-8 decode + escape scan per key.  Bounded
# insert-side (per Python worker process); lookups past the cap just miss.
_KEY_CACHE: dict[bytes, tuple[str, str]] = {}
_KEY_CACHE_MAX = 4096


def _emit_key(buf: bytes, pos: int):
    """A non-fixstr map key → ((text, quoted), new_pos).

    JSON keys are strings: str/bin keys render as their text, int, float,
    bool and nil keys as Python's ``str()`` of the value.  An ext, array
    or map key, or a non-finite float key, has no text form: it is
    consumed and its pair is the NUL sentinel, which flags the record.
    """
    b = buf[pos]
    length = _RAW_LEN.get(b)
    if length is not None:
        k, pos = _take_raw(buf, pos + 1, length)
    elif b in _KEY_WORDS:
        k, pos = _KEY_WORDS[b], pos + 1
    else:
        # the JSON text of an int or a finite float is its str()
        k, pos = _emit_json(buf, pos)
        numeric = b <= 0x7F or b >= 0xE0 or b in _INT or b in _FLOAT
        if k == _NUL or not numeric:
            return _BAD_KEY, pos
    return (k, _emit_str(k)), pos


def _emit_map(buf, pos, n):
    # entries keyed by (raw, quoted) so duplicate keys dedup keep-last
    # exactly like dict construction, and sorting orders by the raw key
    # exactly like json.dumps(sort_keys=True)
    entries = {}
    blen = len(buf)
    cache = _KEY_CACHE
    for _ in range(n):
        b = buf[pos]
        if 0xA0 <= b <= 0xBF:  # fixstr key — the overwhelmingly hot case
            end = pos + 1 + (b & 0x1F)
            if end > blen:
                raise MsgpackError("truncated payload")
            kb = buf[pos + 1 : end]
            kq = cache.get(kb)
            if kq is None:
                k = kb.decode("utf-8", "replace")
                kq = (k, _emit_str(k))
                if len(cache) < _KEY_CACHE_MAX:
                    cache[kb] = kq
            pos = end
        else:
            kq, pos = _emit_key(buf, pos)
        b = buf[pos]
        if 0xA0 <= b <= 0xBF:  # fixstr value
            end = pos + 1 + (b & 0x1F)
            if end > blen:
                raise MsgpackError("truncated payload")
            entries[kq] = _emit_str(buf[pos + 1 : end].decode("utf-8", "replace"))
            pos = end
        elif b <= 0x7F:  # positive fixint value
            entries[kq] = str(b)
            pos += 1
        else:
            entries[kq], pos = _emit_json(buf, pos)
    items = sorted(entries.items()) if n > 1 else entries.items()
    return "{" + ",".join([k[1] + ":" + v for k, v in items]) + "}", pos


def _emit_arr(buf, pos, n):
    frags = []
    append = frags.append
    blen = len(buf)
    for _ in range(n):
        b = buf[pos]
        if 0xA0 <= b <= 0xBF:
            end = pos + 1 + (b & 0x1F)
            if end > blen:
                raise MsgpackError("truncated payload")
            append(_emit_str(buf[pos + 1 : end].decode("utf-8", "replace")))
            pos = end
        else:
            frag, pos = _emit_json(buf, pos)
            append(frag)
    return "[" + ",".join(frags) + "]", pos


_INF = float("inf")


def _emit_json(buf: bytes, pos: int) -> tuple[str, int]:
    """Emit JSON text for one msgpack object at ``pos`` → (text, new_pos).

    Covers the public-spec formats Fluent Bit produces: nil/bool, all
    int/uint widths, float32/64, str, bin, array, map, fixext/ext.
    Truncation surfaces as MsgpackError / struct.error / IndexError —
    all converted to one malformed row at the iter_records boundary.
    """
    b = buf[pos]
    pos += 1
    if 0xA0 <= b <= 0xBF:  # fixstr (hottest marker in log records)
        end = pos + (b & 0x1F)
        if end > len(buf):
            raise MsgpackError("truncated payload")
        return _emit_str(buf[pos:end].decode("utf-8", "replace")), end
    if b <= 0x7F:  # positive fixint
        return str(b), pos
    if b >= 0xE0:  # negative fixint
        return str(b - 0x100), pos
    if b <= 0x8F:  # fixmap
        return _emit_map(buf, pos, b & 0x0F)
    if b <= 0x9F:  # fixarray
        return _emit_arr(buf, pos, b & 0x0F)
    word = _WORDS.get(b)
    if word is not None:
        return word, pos
    st = _RAW_LEN.get(b)
    if st is not None:
        text, end = _take_raw(buf, pos, st)
        return _emit_str(text), end
    st = _INT.get(b)
    if st is not None:
        return str(st.unpack_from(buf, pos)[0]), pos + st.size
    st = _FLOAT.get(b)
    if st is not None:
        f = st.unpack_from(buf, pos)[0]
        if f != f or f == _INF or f == -_INF:
            # NaN/Inf: Go json.Marshal errors and the reference drops
            # the record (GetRecord returns the marshal error) — we
            # flag it malformed instead of emitting invalid JSON.
            return _NUL, pos + st.size
        return repr(f), pos + st.size
    if b == 0xDC:
        return _emit_arr(buf, pos + 2, _SH.unpack_from(buf, pos)[0])
    if b == 0xDD:
        return _emit_arr(buf, pos + 4, _SI.unpack_from(buf, pos)[0])
    if b == 0xDE:
        return _emit_map(buf, pos + 2, _SH.unpack_from(buf, pos)[0])
    if b == 0xDF:
        return _emit_map(buf, pos + 4, _SI.unpack_from(buf, pos)[0])
    if _is_ext(b):  # foreign ext values render as null (decoder policy)
        return "null", _ext_span(buf, b, pos)[2]
    raise MsgpackError(f"unsupported msgpack marker 0x{b:02x}")


# A v2 metadata array below minMetadataLen (decoder.go:114-115): the
# whole row is malformed, not just its timestamp.
_BROKEN = object()
# Spark's timestamp_millis multiplies by 1000 into a long, so a larger
# stamp raises ArithmeticException and kills the ingest job.
_TS_MS_MAX = ((1 << 63) - 1) // 1000


def _ts_value(buf: bytes, pos: int, ts_mode: str):
    """One timestamp value at ``pos`` → (ts_ms | None, new_pos)."""
    b = buf[pos]
    pos += 1
    if _is_ext(b):
        code, start, end = _ext_span(buf, b, pos)
        if code == FLB_TIME_EXT_TYPE and end - start == 8:
            sec, nsec = _SII.unpack_from(buf, start)  # decoder.go:80-84
            return _FlbTime(sec, nsec).to_ms(), end
        return None, end
    if b <= 0x7F:
        v = b
    elif b in _INT:
        st = _INT[b]
        v = st.unpack_from(buf, pos)[0]
        pos += st.size
    else:  # any other type is skipped; the row is flagged
        return None, _emit_json(buf, pos - 1)[1]
    if v < 0:
        return None, pos
    # v2: UnixMilli (out_clp_s3_v2.go:289-290);
    # v1: Unix seconds (flush.go:126-127)
    ms = v if ts_mode == "v2" else v * 1000
    # Out of Spark's range (a uint64 >= 2^63 included — legal msgpack; the
    # Go reference would wrap it through int64(t) into garbage): flagged
    # malformed instead of overflowing the bigint column or the ts cast.
    return (ms if ms <= _TS_MS_MAX else None), pos


def _read_ts(buf: bytes, pos: int, ts_mode: str):
    """The plugins' timestamp type switch → (ts_ms, new_pos).

    ``ts_ms`` is None for an unrecognized or out-of-range stamp (row
    flagged, record kept) and ``_BROKEN`` for a short metadata array.
    """
    count, epos = _array_head(buf, pos)
    if count is None:
        return _ts_value(buf, pos, ts_mode)
    # v2 metadata layout [[ts, meta…], record]
    if count < 2:
        ms = _BROKEN
    else:
        ms, epos = _ts_value(buf, epos, ts_mode)
        count -= 1
    for _ in range(count):
        epos = _emit_json(buf, epos)[1]
    return ms, epos


def iter_records(
    blob: bytes, ts_mode: str = "v2"
) -> Iterator[tuple[int | None, str | None, bool]]:
    """Decode a chunk → yields (ts_ms, record_json, malformed) per record.

    Mirrors GetRecord's per-record contract (decoder.go:129-176): a
    structurally broken record yields a malformed row; a framing error
    aborts the rest of the chunk with one final malformed row.
    """
    pos = 0
    n = len(blob)
    while pos < n:
        try:
            # fixarray(2) is every wire layout's top level; array16/array32
            # pairs are spec-legal; anything else is a malformed row
            count, rpos = _array_head(blob, pos)
            if count == 2:
                ts_ms, rpos = _read_ts(blob, rpos, ts_mode)
                record_json, pos = _emit_json(blob, rpos)
            else:
                ts_ms, record_json, pos = _BROKEN, None, _emit_json(blob, pos)[1]
        except (MsgpackError, RecursionError, struct.error, IndexError):
            # RecursionError: adversarially deep nesting (e.g. thousands of
            # wrapped fixarrays) must degrade to a malformed row, not
            # escape mapInArrow and kill the executor task.
            # struct.error/IndexError: truncation inside a precompiled-
            # Struct read (same truncated-stream class as MsgpackError).
            yield None, None, True  # undecodable remainder
            return
        if ts_ms is _BROKEN or _NUL in record_json:
            yield None, None, True
        else:
            yield ts_ms, record_json, ts_ms is None


def decode_msgpack_chunks(
    chunks: DataFrame,
    ts_mode: str = "v2",
    src_col: str = "src",
    blob_col: str = "content",
) -> DataFrame:
    """(src, content binary) chunk rows → one row per decoded record.

    ``mapInArrow`` so each executor decodes its chunks independently and
    the batch is built with ``DECODED_SCHEMA``'s types (a pandas frame
    turns a bigint column holding a null into float64, losing ``ts_ms``
    precision above 2^53); output carries (src, rec_idx) lineage for the
    malformed-record counters (A1 analogue).
    """
    import pyarrow as pa

    schema = pa.schema([  # DECODED_SCHEMA
        ("src", pa.string()), ("rec_idx", pa.int64()), ("ts_ms", pa.int64()),
        ("record_json", pa.string()), ("malformed", pa.bool_()),
    ])

    def run(batches):
        for batch in batches:
            rows = []
            for src, blob in zip(
                batch.column(src_col).to_pylist(),
                batch.column(blob_col).to_pylist(),
            ):
                recs = (
                    [(None, None, True)]
                    if blob is None
                    else iter_records(blob, ts_mode)
                )
                rows += [(src, i, *r) for i, r in enumerate(recs)]
            cols = list(zip(*rows)) or [()] * len(schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, schema)],
                schema=schema,
            )

    return chunks.mapInArrow(run, DECODED_SCHEMA)


def read_msgpack_files(
    spark: SparkSession, path: str, ts_mode: str = "v2"
) -> DataFrame:
    """Directory/glob of Fluent Bit msgpack chunk files → decoded records
    (S1+S3: the file-input analogue of the reference's chunk intake)."""
    from pyspark.sql import functions as F

    raw = spark.read.format("binaryFile").load(path)
    return decode_msgpack_chunks(
        raw.select(F.col("path").alias("src"), "content"), ts_mode
    )


def stream_msgpack_files(
    spark: SparkSession, path: str, ts_mode: str = "v2"
) -> DataFrame:
    """Streaming tail of a msgpack chunk directory (S1+S3): new chunk
    files appear → decoded records flow, exactly-once via the stream
    checkpoint — the Fluent Bit tail-input analogue of the reference's
    continuous chunk intake."""
    from pyspark.sql import functions as F

    raw = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
        .load(path)
    )
    return decode_msgpack_chunks(
        raw.select(F.col("path").alias("src"), "content"), ts_mode
    )


def msgpack_to_transcripts(
    decoded: DataFrame,
    use_single_key: bool = True,
    single_key: str = "log",
    allow_missing_key: bool = True,
) -> DataFrame:
    """Decoded msgpack records → the pipeline's transcript shape.

    Mirrors the reference's record path: getMessage single-key extraction
    with whole-record fallback (`flush.go:149-176`), then into the
    encode pipeline.  The chunk source becomes the stream key (the
    reference's per-tag stream): ``conv_id = src``, ``turn_idx =
    rec_idx`` preserves intra-chunk arrival order, and log streams route
    as ``role='system'`` (→ the ops sink).  Malformed records keep their
    flag and surface in ``encode_failures`` (null text/ts).
    """
    from pyspark.sql import functions as F

    from fluent_bit_clp_spark.operators.parse import (
        parse_json_records,
        single_key_message,
    )

    rec = parse_json_records(decoded, "record_json")
    msg = single_key_message(use_single_key, single_key, allow_missing_key)
    return rec.select(
        F.col("src").alias("conv_id"),
        F.col("rec_idx").cast("int").alias("turn_idx"),
        F.lit("system").alias("role"),
        msg.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_millis(F.col("ts_ms")).alias("ts"),
    )


# ---------------------------------------------------------------------------
# Encoder — for fixtures, tests and the DuckDB oracle round-trip.  Kept
# deliberately independent of the decoder (plain struct packing per the
# public spec) so encode→decode is a real format check, not an identity.


def _enc_str(s: str) -> bytes:
    b = s.encode("utf-8")
    n = len(b)
    if n <= 31:
        return bytes([0xA0 | n]) + b
    if n <= 0xFF:
        return b"\xd9" + struct.pack(">B", n) + b
    if n <= 0xFFFF:
        return b"\xda" + struct.pack(">H", n) + b
    return b"\xdb" + struct.pack(">I", n) + b


def _enc_int(v: int) -> bytes:
    if 0 <= v <= 0x7F:
        return bytes([v])
    if -32 <= v < 0:
        return struct.pack("b", v)
    if 0 <= v <= 0xFFFFFFFFFFFFFFFF:
        return b"\xcf" + struct.pack(">Q", v)
    return b"\xd3" + struct.pack(">q", v)


def _enc_obj(v) -> bytes:
    if v is None:
        return b"\xc0"
    if isinstance(v, bool):
        return b"\xc3" if v else b"\xc2"
    if isinstance(v, int):
        return _enc_int(v)
    if isinstance(v, float):
        return b"\xcb" + struct.pack(">d", v)
    if isinstance(v, str):
        return _enc_str(v)
    if isinstance(v, _FlbTime):
        return b"\xd7" + struct.pack(">bII", FLB_TIME_EXT_TYPE, v.sec, v.nsec)
    if isinstance(v, list):
        head = (
            bytes([0x90 | len(v)])
            if len(v) <= 15
            else b"\xdc" + struct.pack(">H", len(v))
        )
        return head + b"".join(_enc_obj(x) for x in v)
    if isinstance(v, dict):
        head = (
            bytes([0x80 | len(v)])
            if len(v) <= 15
            else b"\xde" + struct.pack(">H", len(v))
        )
        return head + b"".join(
            _enc_obj(k) + _enc_obj(x) for k, x in sorted(v.items())
        )
    raise TypeError(f"unencodable {type(v)}")


def encode_record(
    ts_ms: int, record: dict, layout: str = "v2_uint_ms"
) -> bytes:
    """One wire record in any of the four reference-observed layouts:

    - ``v1_fixext``  : ``[FlbTime(sec, nsec), record]``
    - ``v1_uint_s``  : ``[uint64 seconds, record]``
    - ``v2_uint_ms`` : ``[uint64 millis, record]``
    - ``v2_meta``    : ``[[FlbTime(sec, nsec), metadata_map], record]``
    """
    if layout == "v1_fixext" or layout == "v2_meta":
        ts = _FlbTime(ts_ms // 1000, (ts_ms % 1000) * 1_000_000)
        head = [ts, {}] if layout == "v2_meta" else ts
    elif layout == "v1_uint_s":
        head = ts_ms // 1000
    elif layout == "v2_uint_ms":
        head = ts_ms
    else:
        raise ValueError(f"unknown layout {layout}")
    return _enc_obj([head, record])
