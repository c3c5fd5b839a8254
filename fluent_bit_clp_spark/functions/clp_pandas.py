"""CLP encode as Arrow-vectorized pandas UDFs — semantic twin of
:mod:`clp_native`'s encoder.  Encode only: every Spark consumer decodes
with the native ``clp_native.clp_decode_column`` expression (no Python
crossing); :func:`_decode_one` is kept as the per-row reference decoder
the tests compare against, and :func:`_encode_one` as the per-row encoder
the search query compiler uses.

This module is the PRODUCTION encode path: measured 5.7× faster than the
semantically identical native-expression implementation in
``clp_native.py`` (1.32M vs 230k rows/s, 32 cores, 4M-row table), because
Catalyst evaluates higher-order-function lambdas interpreted — outside
whole-stage codegen — while this path is one Arrow batch transfer plus a
CPython `re` scan per batch.  The UDF returns only what Python must
compute (``logtype``, ``var_kinds``, ``encoded_vars``, ``dict_vars``);
:func:`clp_encode_pandas` appends ``dict_var_ids`` and ``logtype_id`` with
the same JVM ``xxhash64`` expressions the native encoder uses
(``clp_native.dict_var_ids_col`` / ``logtype_id_col``), so Catalyst prunes
them where a consumer drops them.  With ``sink_layout="archive"`` the
UDF returns operators/archive.py's stored layout instead (kind-typed
``logtype``, null-free ``encoded_vars``/``dict_vars``), equal to
``to_archive`` of the working one, from the same split and classify
pass.  ``clp_native`` remains the oracle-checkable reference
implementation (DuckDB can replay it).

Both implementations share the exact token grammar (module constants are
imported from ``clp_native``), so ``encode_native(x) == encode_pandas(x)``
field-for-field — property-tested in ``tests/test_clp_core.py``.
"""

from __future__ import annotations

import functools as _functools
import itertools as _itertools
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from fluent_bit_clp_spark.functions.clp_native import (
    ESCAPE,
    FLOAT4_MAX_DIGIT_VALUE,
    FLOAT4_MAX_DIGITS,
    FLOAT_MAX_DIGITS,
    FLOAT_RE,
    INT32_MAX,
    INT32_MIN,
    INT_RE,
    KIND_DICT,
    KIND_FLOAT,
    KIND_INT,
    MODE_4BYTE,
    MODE_I64,
    PLACEHOLDER,
    VAR_TOKEN_RE,
    dict_var_ids_col,
    logtype_id_col,
)
from fluent_bit_clp_spark.operators.archive import PH_DICT, PH_FLOAT, PH_INT

_VAR = re.compile(VAR_TOKEN_RE)
# Non-digit-leading equivalent of VAR_TOKEN_RE: matched spans are
# IDENTICAL (both match precisely the maximal token-class runs containing
# ≥1 digit — differential-tested in tests/test_clp_batch_light.py over
# arbitrary text), but the deterministic prefix avoids the greedy-then-
# backtrack hunt for the digit inside each class run.  VAR_TOKEN_RE
# itself is unchanged everywhere it is shared with oracle SQL.
VAR_TOKEN_FAST_RE = r"[A-Za-z_./+-]*[0-9][A-Za-z0-9_./+-]*"
# Split-with-capture: one C-level pass yields BOTH the literal pieces
# (even indices) and the variable tokens (odd indices), replacing the
# sub+findall double scan (the pattern contains no groups, so the added
# capture group is exactly the whole match).
_VAR_SPLIT = re.compile("(" + VAR_TOKEN_FAST_RE + ")")
# A line with no digit has no variable token AT ALL (every token must
# contain one): a cheap C-level digit probe short-circuits the full
# split for static lines — log corpora are full of them (half the
# transcript generator's templates are pure-logtype sentences).
_HAS_DIGIT = re.compile("[0-9]")
# INT_RE / FLOAT_RE stay imported for re-export (oracle SQL builders use
# the constants); their compiled forms were replaced by the string-op
# _int_shape/_float_shape twins below.

_ENCODE_SCHEMA = (
    "logtype string, var_kinds array<int>, encoded_vars array<bigint>, "
    "dict_vars array<string>"
)
# operators/archive.py's stored layout (``to_archive``'s three columns).
_ARCHIVE_SCHEMA = (
    "logtype string, encoded_vars array<bigint>, dict_vars array<string>"
)

# ---------------------------------------------------------------------------
# XXH64 (public xxHash spec), bit-exact with Spark's `xxhash64(string)`
# (UTF-8 bytes, seed 42, result as signed i64) — verified against the JVM
# implementation in tests/test_clp_core.py::test_python_xxh64_matches_spark.
# A reference hash only: the encode takes its ids from the JVM expressions
# in clp_native, and no production path calls it.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        i = 0
        for i in range(0, n - 31, 32):
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
        i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M64
        i = 0
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


@_functools.lru_cache(maxsize=16384)
def _xxh64_cached(s: str) -> int:
    return xxh64(s.encode("utf-8"))


def _pack_float(tok: str) -> int:
    digits = tok.replace("-", "").replace(".", "")
    int_len = tok.replace("-", "").index(".")
    sign = 1 if tok.startswith("-") else 0
    return (sign << 62) | (len(digits) << 56) | (int_len << 52) | int(digits)


def _unpack_float(p: int) -> str:
    sign = "-" if p >= 1 << 62 else ""
    rem = p % (1 << 62)
    nd = rem >> 56
    ilen = (rem >> 52) & 0xF
    s = str(p % (1 << 52)).zfill(nd)
    return f"{sign}{s[:ilen]}.{s[ilen:]}"


def _pack_float4(tok: str) -> int:
    """CLP four-byte float property word (layout: clp_native module
    docstring — sign | 25-bit digit value | #digits-1 | decimal-pos-1)."""
    digits = tok.replace("-", "").replace(".", "")
    int_len = tok.replace("-", "").index(".")
    pos_right = len(digits) - int_len
    sign = 1 if tok.startswith("-") else 0
    return (
        (sign << 31) | (int(digits) << 6) | ((len(digits) - 1) << 3)
        | (pos_right - 1)
    )


def _unpack_float4(p: int) -> str:
    sign = "-" if p >= 1 << 31 else ""
    rem = p % (1 << 31)
    nd = ((rem % 64) >> 3) + 1
    pos = (rem % 8) + 1
    s = str(rem >> 6).zfill(nd)
    ilen = nd - pos
    return f"{sign}{s[:ilen]}.{s[ilen:]}"


def _int_shape(tok: str) -> bool:
    """Exact equivalent of ``INT_RE`` (^(0|-?[1-9][0-9]{0,17})$) in string
    ops — ~5× cheaper than a compiled-regex match for the letter-bearing
    dictionary tokens that dominate real corpora (``s.isdigit()`` rejects
    them in one C scan).  Tokens are guaranteed non-empty ASCII (the
    VAR_TOKEN_RE char class), so ``isdigit`` has no unicode pitfalls.
    Equivalence with the regex is property-tested in tests/test_clp_core."""
    s = tok[1:] if tok[0] == "-" else tok
    if not s.isdigit():
        return False
    if s[0] == "0":
        return tok == "0"  # "-0" / leading zeros do not round-trip
    return len(s) <= 18


def _float_shape(tok: str) -> bool:
    """Exact equivalent of ``FLOAT_RE`` (^-?(0|[1-9][0-9]*)[.][0-9]+$)."""
    s = tok[1:] if tok[0] == "-" else tok
    dot = s.find(".")
    if dot < 1:
        return False
    a = s[:dot]
    b = s[dot + 1:]
    if not b.isdigit() or not a.isdigit():  # b="" or a second "." fail here
        return False
    return a == "0" or a[0] != "0"


def _classify_tok(tok: str, fourbyte: bool) -> int:
    """The single kind-decision function — shared by the full encoder and
    the classify-only path so the two can never diverge."""
    if _int_shape(tok) and (not fourbyte or INT32_MIN <= int(tok) <= INT32_MAX):
        return KIND_INT
    if _float_shape(tok) and _float_ok(tok, fourbyte):
        return KIND_FLOAT
    return KIND_DICT


def _encode_one(text: str | None, mode: str = MODE_I64):
    if text is None:
        return None, None, None, None
    fourbyte = mode == MODE_4BYTE
    esc = text.replace(ESCAPE, ESCAPE + "e").replace(PLACEHOLDER, ESCAPE + "p")
    kinds: list[int] = []
    encoded: list[int | None] = []
    dicts: list[str | None] = []
    out: list[str] = []
    last = 0
    for m in _VAR.finditer(esc):
        out.append(esc[last : m.start()])
        out.append(PLACEHOLDER)
        last = m.end()
        tok = m.group(0)
        k = _classify_tok(tok, fourbyte)
        if k == KIND_INT:
            kinds.append(KIND_INT)
            encoded.append(int(tok))
            dicts.append(None)
        elif k == KIND_FLOAT:
            kinds.append(KIND_FLOAT)
            encoded.append(_pack_float4(tok) if fourbyte else _pack_float(tok))
            dicts.append(None)
        else:
            kinds.append(KIND_DICT)
            encoded.append(None)
            dicts.append(tok)
    out.append(esc[last:])
    return "".join(out), kinds, encoded, dicts


def _classify_one(text: str | None, mode: str = MODE_I64):
    """var_kinds only — skips logtype assembly and float packing
    (VERDICT r2 #3: running the full encode to keep one column doubled
    the histogram query's cost)."""
    if text is None:
        return None
    fourbyte = mode == MODE_4BYTE
    esc = text.replace(ESCAPE, ESCAPE + "e").replace(PLACEHOLDER, ESCAPE + "p")
    return [_classify_tok(m.group(0), fourbyte) for m in _VAR.finditer(esc)]


def _kinds_batch(texts: pd.Series, mode: str = MODE_I64) -> pd.Series:
    """Batch twin of :func:`_classify_one` (equivalence pinned in
    tests/test_clp_core.py): one split pass per row + one flat cached
    classify comprehension instead of an uncached finditer/classify per
    occurrence."""
    fourbyte = mode == MODE_4BYTE
    _, toks_rows, n = _split_rows(texts)
    infos = _flat_infos(toks_rows, fourbyte)
    kinds_flat = [i[0] for i in infos]
    out: list = [None] * n
    o = 0
    for j, tk in enumerate(toks_rows):
        if tk is None:
            continue
        e = o + len(tk)
        out[j] = kinds_flat[o:e]
        o = e
    return pd.Series(out, dtype="object")


def _kinds_encoded_batch(texts: pd.Series, mode: str = MODE_I64) -> pd.DataFrame:
    """(var_kinds, encoded_vars) only — skips logtype assembly and
    dict-var collection (guide §4: return only the columns the consumer
    reads; the dict-var strings were the bulk of the Arrow return traffic
    for kind-histogram consumers)."""
    fourbyte = mode == MODE_4BYTE
    _, toks_rows, n = _split_rows(texts)
    infos = _flat_infos(toks_rows, fourbyte)
    kinds_flat = [i[0] for i in infos]
    encs_flat = [i[1] for i in infos]
    kinds_col: list = [None] * n
    encs_col: list = [None] * n
    o = 0
    for j, tk in enumerate(toks_rows):
        if tk is None:
            continue
        e = o + len(tk)
        kinds_col[j] = kinds_flat[o:e]
        encs_col[j] = encs_flat[o:e]
        o = e
    return pd.DataFrame(
        {
            "var_kinds": pd.Series(kinds_col, dtype="object"),
            "encoded_vars": pd.Series(encs_col, dtype="object"),
        }
    )


def _logtype_nvars_batch(texts: pd.Series) -> pd.DataFrame:
    """(logtype, n_vars) only — the cheapest useful view of the token
    grammar: one split pass, no classification, no packing, no hashing.
    ``n_vars`` equals ``size(var_kinds)`` of the full encode by
    construction (tokens are the odd split indices)."""
    split = _VAR_SPLIT.split
    join = PLACEHOLDER.join
    has_digit = _HAS_DIGIT.search
    lts: list = []
    ns: list = []
    for t in texts:
        if t is None:
            lts.append(None)
            ns.append(None)
            continue
        esc = t.replace(ESCAPE, ESCAPE + "e").replace(PLACEHOLDER, ESCAPE + "p")
        if has_digit(esc) is None:
            lts.append(esc)
            ns.append(0)
            continue
        parts = split(esc)
        lts.append(join(parts[0::2]))
        ns.append(len(parts) // 2)
    return pd.DataFrame(
        {
            "logtype": pd.Series(lts, dtype="object"),
            "n_vars": pd.array(ns, dtype="Int64"),
        }
    )


def _float_ok(tok: str, fourbyte: bool) -> bool:
    digits = tok.replace("-", "").replace(".", "")
    if fourbyte:
        return (
            len(digits) <= FLOAT4_MAX_DIGITS
            and int(digits) <= FLOAT4_MAX_DIGIT_VALUE
        )
    return len(digits) <= FLOAT_MAX_DIGITS


# Plain-dict token caches, one per mode: an lru_cache HIT costs ~1 µs of
# C-wrapper/key-tuple overhead per call; a dict .get() is ~20× cheaper.
# Bounded: ≤ 65536 entries of ≤256-char keys ≈ ≤16 MiB per worker per
# mode; no eviction — a full cache simply stops admitting (token
# vocabularies are log templates' variable values, far under the cap in
# practice; longer/overflow tokens classify uncached per occurrence).
_TOK_CACHE: tuple[dict, dict] = ({}, {})
_TOK_CACHE_MAX_ENTRIES = 65536


def _tok_compute(tok: str, fourbyte: bool):
    """(kind, encoded, dict_tok) for one token — the single classify+pack
    decision shared by every batch path."""
    k = _classify_tok(tok, fourbyte)
    if k == KIND_INT:
        return KIND_INT, int(tok), None
    if k == KIND_FLOAT:
        return KIND_FLOAT, _pack_float4(tok) if fourbyte else _pack_float(tok), None
    return KIND_DICT, None, tok


def _tok_cache_miss(tok: str, fourbyte: bool, cache: dict):
    info = _tok_compute(tok, fourbyte)
    if len(tok) <= 256 and len(cache) < _TOK_CACHE_MAX_ENTRIES:
        cache[tok] = info
    return info


_NO_TOKS: list = []


def _split_rows(texts, keep_parts: bool = False) -> tuple[list, list, int]:
    """Shared tokenize pass: per row, escape + ONE split-with-capture →
    (per-row template, per-row token lists — None rows keep None in both).
    The template is the joined working logtype, or with ``keep_parts``
    the split list itself, for :func:`_encode_archive_batch` to join
    with the per-kind placeholder bytes; its literal pieces are then
    stored-escaped (0x12/0x13 → 0x10+'q'/'r') AFTER the split, since
    escaping first would turn the text x, 0x12, y7 into the token
    ``qy7``.  Digit-free rows (no possible variable token) skip the split
    via the ``_HAS_DIGIT`` probe; their template is the escaped text."""
    split = _VAR_SPLIT.split
    join = PLACEHOLDER.join
    has_digit = _HAS_DIGIT.search
    n = len(texts)
    lt_col: list = [None] * n
    toks_rows: list = [None] * n
    for j, t in enumerate(texts):
        if t is None:
            continue
        esc = t.replace(ESCAPE, ESCAPE + "e").replace(PLACEHOLDER, ESCAPE + "p")
        stored = keep_parts and (PH_DICT in esc or PH_FLOAT in esc)
        if has_digit(esc) is None:
            lt_col[j] = _stored_escape(esc) if stored else esc
            toks_rows[j] = _NO_TOKS
            continue
        parts = split(esc)
        toks_rows[j] = parts[1::2]
        if not keep_parts:
            lt_col[j] = join(parts[0::2])
            continue
        if stored:
            parts[0::2] = [_stored_escape(p) for p in parts[0::2]]
        lt_col[j] = parts
    return lt_col, toks_rows, n


def _stored_escape(piece: str) -> str:
    """``archive._escape_archive`` on one literal piece."""
    return piece.replace(PH_DICT, ESCAPE + "q").replace(PH_FLOAT, ESCAPE + "r")


def _flat_infos(toks_rows: list, fourbyte: bool) -> list:
    """Classify every token of the batch in ONE comprehension over the
    flattened token stream (per-row comprehensions paid an interpreter
    frame per row; C-level iteration over the flat stream does not)."""
    cache = _TOK_CACHE[1 if fourbyte else 0]
    cache_get = cache.get
    miss = _tok_cache_miss
    flat = list(
        _itertools.chain.from_iterable(
            tk for tk in toks_rows if tk is not None
        )
    )
    return [cache_get(tok) or miss(tok, fourbyte, cache) for tok in flat]


def _encode_batch(texts: pd.Series, mode: str = MODE_I64) -> pd.DataFrame:
    """Batch twin of :func:`_encode_one` (equivalence pinned in
    tests/test_clp_core.py).  ONE C-level split-with-capture pass per row
    yields literals and tokens together; classification runs as a single
    comprehension over the batch's flattened token stream through the
    plain-dict ``_TOK_CACHE``; per-row arrays are O(1) slices of the flat
    kind/enc/dict streams.  No ids: :func:`clp_encode_pandas` appends
    them as JVM expressions."""
    fourbyte = mode == MODE_4BYTE
    lt_col, toks_rows, n = _split_rows(texts)
    infos = _flat_infos(toks_rows, fourbyte)
    kinds_flat = [i[0] for i in infos]
    encs_flat = [i[1] for i in infos]
    dicts_flat = [i[2] for i in infos]
    kinds_col: list = [None] * n
    encs_col: list = [None] * n
    dicts_col: list = [None] * n
    o = 0
    for j, tk in enumerate(toks_rows):
        if tk is None:
            continue
        e = o + len(tk)
        kinds_col[j] = kinds_flat[o:e]
        encs_col[j] = encs_flat[o:e]
        dicts_col[j] = dicts_flat[o:e]
        o = e
    return pd.DataFrame(
        {
            "logtype": pd.Series(lt_col, dtype="object"),
            "var_kinds": pd.Series(kinds_col, dtype="object"),
            "encoded_vars": pd.Series(encs_col, dtype="object"),
            "dict_vars": pd.Series(dicts_col, dtype="object"),
        }
    )


# Stored-layout placeholder byte of each kind, indexed by KIND_INT /
# KIND_FLOAT / KIND_DICT (0, 1, 2).
_KIND_PH = (PH_INT, PH_FLOAT, PH_DICT)


def _encode_archive_batch(texts: pd.Series, mode: str = MODE_I64) -> pd.DataFrame:
    """Stored-layout twin of ``to_archive`` over :func:`_encode_batch`
    (equivalence pinned in tests/test_archive.py): the same split and
    classify pass, then each row's literal pieces are joined with its
    tokens' kind-typed placeholder bytes, and the arrays are the row's
    slices of the batch's null-free ``encoded``/``dict`` streams."""
    fourbyte = mode == MODE_4BYTE
    lt_col, toks_rows, n = _split_rows(texts, keep_parts=True)
    infos = _flat_infos(toks_rows, fourbyte)
    ph_flat = [_KIND_PH[i[0]] for i in infos]
    encs_flat = [i[1] for i in infos if i[2] is None]
    dicts_flat = [i[2] for i in infos if i[2] is not None]
    encs_col: list = [None] * n
    dicts_col: list = [None] * n
    o = d = 0
    for j, tk in enumerate(toks_rows):
        if tk is None:
            continue
        e = o + len(tk)
        ph = ph_flat[o:e]
        nd = ph.count(PH_DICT)
        encs_col[j] = encs_flat[o - d : e - d - nd]
        dicts_col[j] = dicts_flat[d : d + nd]
        if tk:
            parts = lt_col[j]
            parts[1::2] = ph
            lt_col[j] = "".join(parts)
        o = e
        d += nd
    return pd.DataFrame(
        {
            "logtype": pd.Series(lt_col, dtype="object"),
            "encoded_vars": pd.Series(encs_col, dtype="object"),
            "dict_vars": pd.Series(dicts_col, dtype="object"),
        }
    )


# The UDF's batch function and return schema per sink layout.
_ASSEMBLY = {
    "working": (_encode_batch, _ENCODE_SCHEMA),
    "archive": (_encode_archive_batch, _ARCHIVE_SCHEMA),
}


def clp_encode_udf(
    mode: str = MODE_I64, deterministic: bool = True, sink_layout: str = "working"
):
    """Built lazily — @pandas_udf parses its DDL schema against the active
    SparkSession, so module-import-time construction would fail.

    ``deterministic=False`` (guide §4.4): the encode IS a pure function,
    but consumers that FILTER on its output (search's prune predicates /
    decode-verify) want the optimizer barred from re-placing it — a
    pushed-down filter drags the whole UDF below any repartition
    exchange, serializing the encode into the scan task (measured on
    e1_search: the entire encode+verify ran in ONE task).  Values are
    identical either way; the id expressions :func:`clp_encode_pandas`
    appends read the UDF's output, so they stay above it too.

    ``sink_layout="archive"`` returns operators/archive.py's stored
    layout (:func:`_encode_archive_batch`) instead of the working one."""
    batch, schema = _ASSEMBLY[sink_layout]
    udf = pandas_udf(lambda s: batch(s, mode), schema)
    return udf if deterministic else udf.asNondeterministic()


def clp_var_kinds_udf(mode: str = MODE_I64):
    """Classify-only UDF: array<int> of var kinds per row, via the exact
    production token grammar + kind decision (shared ``_classify_tok``,
    batch path ``_kinds_batch`` — r7: cached per-unique-token classify
    instead of an uncached finditer per occurrence)."""
    return pandas_udf(lambda s: _kinds_batch(s, mode), "array<int>")


def clp_kinds_encoded_udf(mode: str = MODE_I64):
    """(var_kinds, encoded_vars)-only UDF — for consumers that never read
    the logtype/dict columns (guide §4: ship only what the consumer
    needs across the Arrow boundary)."""
    return pandas_udf(
        lambda s: _kinds_encoded_batch(s, mode),
        "var_kinds array<int>, encoded_vars array<bigint>",
    )


def clp_logtype_nvars_udf():
    """(logtype, n_vars)-only UDF — the template-extraction view: no
    classification, no packing, no ids; ``n_vars`` ==
    ``size(var_kinds)`` of the full encode by construction."""
    return pandas_udf(_logtype_nvars_batch, "logtype string, n_vars bigint")


def _decode_one(logtype, kinds, encoded, dicts, mode: str = MODE_I64) -> str | None:
    if logtype is None:
        return None
    unpack = _unpack_float4 if mode == MODE_4BYTE else _unpack_float
    if kinds is None or len(kinds) == 0:
        joined = logtype
    else:
        pieces = logtype.split(PLACEHOLDER)
        parts = [pieces[0]]
        for i, k in enumerate(kinds):
            if k == KIND_INT:
                parts.append(str(int(encoded[i])))
            elif k == KIND_FLOAT:
                parts.append(unpack(int(encoded[i])))
            else:
                parts.append(dicts[i])
            parts.append(pieces[i + 1])
        joined = "".join(parts)
    return joined.replace(ESCAPE + "p", PLACEHOLDER).replace(ESCAPE + "e", ESCAPE)


def clp_encode_pandas(
    df: DataFrame,
    text_col: str = "text",
    mode: str = MODE_I64,
    deterministic: bool = True,
    sink_layout: str = "working",
) -> DataFrame:
    """Append encoding columns via the Arrow-batched pandas UDF path; the
    two id columns are the native encoder's expressions over its output.
    ``deterministic=False``: see :func:`clp_encode_udf` — pass it when
    the caller filters on encode outputs downstream of a repartition.

    ``sink_layout="archive"`` appends the stored layout instead, equal
    to ``to_archive`` of the working one: kind-typed ``logtype``,
    null-free ``encoded_vars``/``dict_vars``, no ``var_kinds`` and no
    ids."""
    out = df.withColumn(
        "_enc", clp_encode_udf(mode, deterministic, sink_layout)(F.col(text_col))
    )
    out = out.select("*", "_enc.*").drop("_enc")
    if sink_layout == "archive":
        return out
    return out.withColumn("dict_var_ids", dict_var_ids_col()).withColumn(
        "logtype_id", logtype_id_col()
    )
