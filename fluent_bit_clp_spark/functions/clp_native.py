"""CLP-style encode/decode as *native* Spark SQL expressions.

Re-expresses the reference's CLP IR event encoding (logtype template +
dictionary variables + encoded numeric variables; see
`/root/reference/internal/irzstd/writer.go:74-113` for where the reference
calls into clp-ffi-go, and the CLP OSDI'21 paper for the public semantics)
as pure Column expressions: regexp tokenization + higher-order array
functions.  Everything here runs JVM-side inside whole-stage codegen — no
Python in the hot path at all.  A semantically identical pandas-UDF
encoder lives in `clp_pandas.py`; both are tested for equality.  The
decoder here (:func:`clp_decode_column`) is the only Spark decoder.

Encoding model (our own IR layout, lossless for the message payload —
the invariant the reference's round-trip tests pin):

- ``logtype``       : the message with every variable token replaced by
                      the placeholder byte 0x11 (literal 0x10/0x11 bytes in
                      the input are escaped with 0x10 first).
- ``var_kinds``     : array<int>, one per variable in appearance order;
                      0 = encoded int, 1 = encoded float, 2 = dictionary.
- ``encoded_vars``  : array<bigint> aligned with ``var_kinds``; the packed
                      value for kinds 0/1, null for dictionary variables.
- ``dict_vars``     : array<string> aligned with ``var_kinds``; the raw
                      token for kind 2, null otherwise.
- ``dict_var_ids``  : array<bigint>, xxhash64 of each dict var (stable
                      under parallelism and resume — SURVEY.md §7 risk 1).
- ``logtype_id``    : xxhash64 of the logtype.

The two id columns are defined once, by :func:`dict_var_ids_col` and
:func:`logtype_id_col`; both encoders, ``archive.from_archive`` and the
archive template dictionary append them with these expressions.

A token is a *variable* iff it contains a digit (CLP's core heuristic).
An int token is *encoded* iff it round-trips exactly through int64
(no leading zeros, no "-0", ≤18 digits).  A float token is encoded iff
``-?(0|[1-9]\\d*)\\.\\d+`` with ≤14 total digits — packed losslessly as
(sign, ndigits, int-part-length, digit-value), mirroring the spirit of
CLP's four-byte float encoding but widened to an int64 so decode is
byte-exact.  Everything else (hex ids, paths, versions, "007") is a
dictionary variable — the safe choice the round-trip test enforces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Placeholder / escape bytes (kept out of the variable-token char class).
ESCAPE = "\x10"
PLACEHOLDER = "\x11"

# A variable token: a run of token chars containing at least one digit.
# Plain syntax on purpose — identical semantics in Java regex (Spark),
# RE2 (DuckDB oracle) and Python `re` (pandas-UDF twin).
VAR_TOKEN_RE = r"[A-Za-z0-9_./+-]*[0-9][A-Za-z0-9_./+-]*"

# Encodable-int token: exact int64 round-trip (no leading zeros, no -0).
INT_RE = r"^(0|-?[1-9][0-9]{0,17})$"

# Encodable-float token shape; the digit-count bound is checked separately.
# `[.]` not `\.`: no backslashes anywhere so the pattern survives SQL string
# escaping identically in Spark SQL, DuckDB (oracle) and Python `re`.
FLOAT_RE = r"^-?(0|[1-9][0-9]*)[.][0-9]+$"
FLOAT_MAX_DIGITS = 14

KIND_INT = 0
KIND_FLOAT = 1
KIND_DICT = 2

# --- four-byte encoding mode (CLP parity) ----------------------------------
# The reference emits `ir.NewWriter[ir.FourByteEncoding]` streams
# (`/root/reference/internal/irzstd/writer.go:100-113`, ingestion.go:66-67:
# "FourByteEncoding is the standard encoding").  Per the public CLP
# four-byte scheme (OSDI'21 paper §4.1.2 / clp-ffi encoding methods):
# - an int variable is four-byte encodable iff it fits int32;
# - a float variable packs its *properties* into 32 bits:
#     bit 31   : is-negative
#     bits 6-30: the digits with the '.' removed, as an integer (< 2^25)
#     bits 3-5 : number of digits - 1          (1..8 digits)
#     bits 0-2 : decimal position from the right - 1  (1..8)
#   which bounds encodable floats to ≤8 total digits with digit-value
#   < 33,554,432; everything else falls back to the dictionary.
# Leading-zero / "-0" int tokens stay dictionary vars in both modes (they
# would not round-trip byte-exactly through an integer).
INT32_MIN = -2147483648
INT32_MAX = 2147483647
FLOAT4_MAX_DIGITS = 8
FLOAT4_MAX_DIGIT_VALUE = (1 << 25) - 1  # 33554431
MODE_I64 = "i64"  # our lossless widened layout (default)
MODE_4BYTE = "4byte"  # CLP four-byte classification + property packing


def _escape(col: str) -> str:
    """SQL expr: escape literal 0x10/0x11 bytes as 0x10+'e' / 0x10+'p'.

    After escaping, the escaped text contains *no* 0x11 byte at all, so the
    placeholders inserted by encoding are unambiguous: decode can split the
    logtype on bare 0x11 safely.  Every 0x10 in escaped text starts a
    two-byte pair, so unescaping (pair at a time, 'p' first) is exact.
    """
    return (
        f"regexp_replace(regexp_replace({col}, '\x10', '\x10e'), "
        f"'\x11', '\x10p')"
    )


def _unescape(col: str) -> str:
    return (
        f"regexp_replace(regexp_replace({col}, '\x10p', '\x11'), "
        f"'\x10e', '\x10')"
    )


def _float_pack_sql(v: str) -> str:
    """Pack an encodable float token string into one BIGINT, losslessly.

    layout: sign * 2^62 + ndigits * 2^56 + int_len * 2^52 + digit_value
    where digit_value = all digits (point removed) as int64, ndigits ≤ 14,
    int_len = number of digits before the point (≥1).
    """
    digits = f"replace(replace({v}, '-', ''), '.', '')"
    int_len = f"(instr(replace({v}, '-', ''), '.') - 1)"
    sign = f"(case when substring({v}, 1, 1) = '-' then 1L else 0L end)"
    return (
        f"({sign} * 4611686018427387904L"  # 2^62
        f" + cast(length({digits}) as bigint) * 72057594037927936L"  # 2^56
        f" + cast({int_len} as bigint) * 4503599627370496L"  # 2^52
        f" + cast({digits} as bigint))"
    )


def _float_unpack_sql(p: str) -> str:
    """Inverse of :func:`_float_pack_sql` — reconstructs the exact token text."""
    sign = f"(case when {p} >= 4611686018427387904L then '-' else '' end)"
    rem = f"({p} % 4611686018427387904L)"
    nd = f"cast({rem} div 72057594037927936L as int)"
    ilen = f"cast(({rem} % 72057594037927936L) div 4503599627370496L as int)"
    dv = f"({p} % 4503599627370496L)"
    padded = f"lpad(cast({dv} as string), {nd}, '0')"
    return (
        f"concat({sign}, substring({padded}, 1, {ilen}), '.', "
        f"substring({padded}, {ilen} + 1))"
    )


def _is_encodable_float(v: str) -> str:
    return (
        f"({v} rlike '{FLOAT_RE}' and "
        f"length(replace(replace({v}, '-', ''), '.', '')) <= {FLOAT_MAX_DIGITS})"
    )


# --- four-byte mode SQL builders (shared shape with the DuckDB oracle) ------


def _is_encodable_int4(v: str) -> str:
    return (
        f"({v} rlike '{INT_RE}' and "
        f"cast({v} as bigint) between {INT32_MIN} and {INT32_MAX})"
    )


def _is_encodable_float4(v: str) -> str:
    digits = f"replace(replace({v}, '-', ''), '.', '')"
    return (
        f"({v} rlike '{FLOAT_RE}' "
        f"and length({digits}) <= {FLOAT4_MAX_DIGITS} "
        f"and cast({digits} as bigint) <= {FLOAT4_MAX_DIGIT_VALUE})"
    )


def _float4_pack_sql(v: str) -> str:
    """CLP four-byte float property packing (module docstring layout).
    Result is a u32 carried in the bigint column (0 <= p < 2^32)."""
    digits = f"replace(replace({v}, '-', ''), '.', '')"
    int_len = f"(instr(replace({v}, '-', ''), '.') - 1)"
    sign = f"(case when substring({v}, 1, 1) = '-' then 1L else 0L end)"
    nd = f"length({digits})"
    pos_right = f"({nd} - {int_len})"
    return (
        f"({sign} * 2147483648L"  # 2^31
        f" + cast({digits} as bigint) * 64L"  # << 6
        f" + cast({nd} - 1 as bigint) * 8L"  # << 3
        f" + cast({pos_right} - 1 as bigint))"
    )


def _float4_unpack_sql(p: str) -> str:
    sign = f"(case when {p} >= 2147483648L then '-' else '' end)"
    rem = f"({p} % 2147483648L)"
    dv = f"({rem} div 64L)"
    nd = f"(cast(({rem} % 64L) div 8L as int) + 1)"
    pos = f"(cast({rem} % 8L as int) + 1)"
    padded = f"lpad(cast({dv} as string), {nd}, '0')"
    ilen = f"({nd} - {pos})"
    return (
        f"concat({sign}, substring({padded}, 1, {ilen}), '.', "
        f"substring({padded}, {ilen} + 1))"
    )


def clp_encode(
    df: DataFrame, text_col: str = "text", mode: str = MODE_I64
) -> DataFrame:
    """Append the CLP encoding columns to ``df`` (native, map-only).

    ``mode=MODE_I64`` (default): lossless widened layout — every int64
    round-trippable int and every ≤14-digit float is encoded.
    ``mode=MODE_4BYTE``: CLP four-byte parity — ints must fit int32,
    floats must satisfy the 25-bit/8-digit property bounds, and the packed
    value is the 32-bit CLP property word; everything else becomes a
    dictionary variable (exactly the fallback CLP's four-byte encoder
    takes).

    Built as a *sequence* of projections referencing real intermediate
    columns (``_esc``, ``_vars``) rather than one dict of nested
    expressions: higher-order functions are evaluated interpreted (outside
    whole-stage codegen's subexpression elimination), so inlining would
    re-run the regex tokenizer up to 8× per row.  Catalyst's
    CollapseProject keeps non-cheap expressions single-use (SPARK-36718),
    so each stage below is computed exactly once per row.
    """
    if mode == MODE_4BYTE:
        int_guard = _is_encodable_int4("v")
        float_guard = _is_encodable_float4("v")
        float_pack = _float4_pack_sql("v")
    else:
        int_guard = f"v rlike '{INT_RE}'"
        float_guard = _is_encodable_float("v")
        float_pack = _float_pack_sql("v")
    out = df.withColumn("_esc", F.expr(_escape(text_col)))
    out = out.withColumn(
        "_vars", F.expr(f"regexp_extract_all(_esc, '{VAR_TOKEN_RE}', 0)")
    )
    out = out.withColumn(
        "logtype",
        F.expr(f"regexp_replace(_esc, '{VAR_TOKEN_RE}', '{PLACEHOLDER}')"),
    )
    out = out.withColumn(
        "var_kinds",
        F.expr(
            f"transform(_vars, v -> case "
            f"when {int_guard} then {KIND_INT} "
            f"when {float_guard} then {KIND_FLOAT} "
            f"else {KIND_DICT} end)"
        ),
    )
    out = out.withColumn(
        "encoded_vars",
        F.expr(
            f"zip_with(_vars, var_kinds, (v, k) -> case "
            f"when k = {KIND_INT} then cast(v as bigint) "
            f"when k = {KIND_FLOAT} then {float_pack} "
            f"else cast(null as bigint) end)"
        ),
    )
    out = out.withColumn(
        "dict_vars",
        F.expr(
            f"zip_with(_vars, var_kinds, (v, k) -> "
            f"case when k = {KIND_DICT} then v end)"
        ),
    )
    out = out.withColumn("dict_var_ids", dict_var_ids_col())
    out = out.withColumn("logtype_id", logtype_id_col())
    return out.drop("_esc", "_vars")


def dict_var_ids_col(dict_vars: str = "dict_vars") -> Column:
    """``dict_var_ids``: xxhash64 of each dictionary variable, null where
    the slot holds an encoded variable."""
    return F.transform(
        dict_vars, lambda v: F.when(v.isNotNull(), F.xxhash64(v))
    )


def logtype_id_col(logtype: str = "logtype") -> Column:
    """``logtype_id``: xxhash64 of the template, null for a null template
    (null text) — xxhash64(NULL) is Spark's non-null seed hash."""
    return F.when(F.col(logtype).isNotNull(), F.xxhash64(logtype))


def clp_decode_column(
    logtype: str = "logtype",
    var_kinds: str = "var_kinds",
    encoded_vars: str = "encoded_vars",
    dict_vars: str = "dict_vars",
    mode: str = MODE_I64,
) -> Column:
    """Reassemble the original text from (logtype, kinds, encoded, dict) —
    byte-exact inverse of :func:`clp_encode` (pass the same ``mode``).

    Linear-time native expression: split the logtype on the placeholder,
    render each variable, interleave with ``zip_with`` and join once with
    ``array_join`` (an ``aggregate``+``concat`` fold would be O(n²) in the
    variable count — fatal on multi-MiB turns).
    """
    unpack = _float4_unpack_sql if mode == MODE_4BYTE else _float_unpack_sql
    pieces = f"split({logtype}, '{PLACEHOLDER}', -1)"
    zipped = f"arrays_zip({var_kinds}, {encoded_vars}, {dict_vars})"
    var_strs = (
        f"transform({zipped}, x -> case x.{var_kinds} "
        f"when {KIND_INT} then cast(x.{encoded_vars} as string) "
        f"when {KIND_FLOAT} then {unpack(f'x.{encoded_vars}')} "
        f"else x.{dict_vars} end)"
    )
    joined = (
        f"case when size({var_kinds}) = 0 then {logtype} else concat("
        f"array_join(zip_with(slice({pieces}, 1, size({var_kinds})), {var_strs}, "
        f"(p, v) -> concat(p, v)), ''), "
        f"element_at({pieces}, size({var_kinds}) + 1)) end"
    )
    return F.expr(_unescape(f"({joined})"))


def clp_decode(
    df: DataFrame, out_col: str = "decoded_text", mode: str = MODE_I64
) -> DataFrame:
    return df.withColumn(out_col, clp_decode_column(mode=mode))


def logtype_dictionary(encoded: DataFrame) -> DataFrame:
    """``logtype_dict(logtype_id, logtype)`` — distinct aggregation, never
    driver-side.  Hash IDs are stable across partitions and resumed runs."""
    return encoded.select("logtype_id", "logtype").distinct()


def var_dictionary(encoded: DataFrame) -> DataFrame:
    """``var_dict(var_id, var)`` from the exploded dictionary variables."""
    return (
        encoded.select(F.explode("dict_vars").alias("var"))
        .where(F.col("var").isNotNull())
        .distinct()
        .select(F.xxhash64("var").alias("var_id"), "var")
    )
