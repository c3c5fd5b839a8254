"""CLP tokenizer/encoder unit + round-trip property tests (SURVEY.md §5).

Mirrors the correctness contract the reference pins to the clp-ffi-go
round-trip tests: decode(encode(text)) must be byte-equal per turn.
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fluent_bit_clp_spark.functions.clp_native import (
    clp_decode,
    clp_encode,
    logtype_dictionary,
    var_dictionary,
)
from fluent_bit_clp_spark.functions.clp_pandas import (
    _decode_one,
    _encode_one,
    _pack_float,
    _unpack_float,
)


def _roundtrip_spark(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = clp_decode(clp_encode(df)).select("text", "decoded_text").collect()
    return [(r.text, r.decoded_text) for r in out]


CASES = [
    "Task 42 started by user deadbeef01 at attempt 3",
    "Uploaded chunk 7 of 120 (45.83%) to /var/log/app-2.log",
    "level=ERROR latency_ms=12.503 status=500",
    '{"timestamp":"2026-01-01T00:00:00Z","level":"info","k":69}',
    "plain static sentence with no variables",
    "",
    "007 -0 00.5 1.50 0.05 -12.345 99999999999999999999 1234567890123456789",
    "weird \x10 escape \x11 bytes 5",
    "0.000000000001 and 12345678901234.5 and 1.23456789012345",
    "tab\tseparated 9 fields",
    "-5",
    "5.",  # trailing dot: "5" is the var token, "." is logtype
    ".5",  # leading dot token ".5" has digit → var (dict: leading-dot float)
]


def test_roundtrip_fixed_cases(spark):
    for text, decoded in _roundtrip_spark(spark, CASES):
        assert decoded == text


def test_null_text_roundtrip(spark):
    df = spark.createDataFrame([(None,)], "text string")
    row = clp_decode(clp_encode(df)).collect()[0]
    assert row.decoded_text is None


def test_int_classification(spark):
    df = spark.createDataFrame([("42 -7 007 -0 99999999999999999999",)], "text string")
    r = clp_encode(df).select("var_kinds", "encoded_vars", "dict_vars").collect()[0]
    assert r.var_kinds == [0, 0, 2, 2, 2]
    assert r.encoded_vars[:2] == [42, -7]
    assert r.dict_vars[2:] == ["007", "-0", "99999999999999999999"]


def test_float_classification_and_bounds(spark):
    # ≤14 digits encoded; >14 digits or leading-zero int part → dictionary
    df = spark.createDataFrame(
        [("1.5 -0.001 12345678901234.5 00.5 123456789012345.6",)], "text string"
    )
    r = clp_encode(df).select("var_kinds").collect()[0]
    assert r.var_kinds == [1, 1, 2, 2, 2]


def test_logtype_dictionary_stable_ids(spark):
    df = spark.createDataFrame(
        [("Task 1 done",), ("Task 2 done",), ("other 3",)], "text string"
    )
    enc = clp_encode(df)
    d = logtype_dictionary(enc).collect()
    assert len(d) == 2  # two distinct templates
    # hash ids deterministic across recomputation
    d2 = logtype_dictionary(clp_encode(df)).collect()
    assert sorted((r.logtype_id, r.logtype) for r in d) == sorted(
        (r.logtype_id, r.logtype) for r in d2
    )


def test_var_dictionary(spark):
    df = spark.createDataFrame([("id deadbeef99 and 42",)], "text string")
    v = var_dictionary(clp_encode(df)).collect()
    assert [r.var for r in v] == ["deadbeef99"]


def test_float_pack_unpack_exact():
    for tok in ["1.5", "0.05", "-12.345", "1.50", "12345678901234.5"[:16], "0.0"]:
        assert _unpack_float(_pack_float(tok)) == tok


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FF),
        max_size=200,
    )
)
def test_roundtrip_property_pandas(text):
    """Pure-python twin round-trips arbitrary text (incl. control bytes)."""
    lt, k, e, d = _encode_one(text)
    assert _decode_one(lt, k, e, d) == text


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(-(10**19), 10**19), min_size=1, max_size=8))
def test_roundtrip_property_numbers(nums):
    text = " ".join(str(n) for n in nums)
    lt, k, e, d = _encode_one(text)
    assert _decode_one(lt, k, e, d) == text


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(
                alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FF),
                max_size=120,
            ),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_batch_encode_equals_per_row(texts):
    """The vectorized ``_encode_batch`` (one split pass per row, cached
    token info) must equal the per-row ``_encode_one`` on arbitrary text —
    including control bytes, nulls and unicode.  The ids are JVM
    expressions, covered by ``test_native_equals_pandas_udf``."""
    import pandas as pd

    from fluent_bit_clp_spark.functions.clp_pandas import _encode_batch

    got = _encode_batch(pd.Series(texts, dtype=object))
    for i, t in enumerate(texts):
        lt, k, e, d = _encode_one(t)
        row = got.iloc[i]
        if lt is None:
            assert row["logtype"] is None
            continue
        assert row["logtype"] == lt
        assert row["var_kinds"] == k
        assert row["encoded_vars"] == e
        assert row["dict_vars"] == d


def test_native_equals_pandas_udf(spark):
    """The JVM-native and pandas-UDF implementations agree field-for-field.
    Compared as collected Python values: ``toPandas`` turns a nullable
    bigint column into float64 and would round ids past 2^53."""
    from fluent_bit_clp_spark.datagen import transcripts
    from fluent_bit_clp_spark.functions.clp_pandas import clp_encode_pandas

    cols = ["logtype", "var_kinds", "encoded_vars", "dict_vars",
            "dict_var_ids", "logtype_id"]
    df = transcripts(spark, 500).select("conv_id", "turn_idx", "text")

    def rows(enc):
        return sorted(
            map(tuple, enc.select("conv_id", "turn_idx", *cols).collect())
        )

    a = rows(clp_encode(df))
    b = rows(clp_encode_pandas(df))
    # the id columns are NOT skipped: the null-row logtype_id divergence
    # (native xxhash64(NULL)=seed vs pandas None) hid behind exactly that
    assert any(r[-1] is None for r in a)  # the null-text edge row
    assert any(abs(r[-1]) > 1 << 53 for r in a if r[-1] is not None)
    assert a == b


def test_python_xxh64_matches_spark(spark):
    """The pure-Python reference XXH64 is bit-exact with Spark's
    xxhash64(string) on varied inputs."""
    from fluent_bit_clp_spark.functions.clp_pandas import _xxh64_cached

    samples = [
        "", "a", "abc", "deadbeef01", "x" * 7, "y" * 8, "z" * 31, "w" * 32,
        "m" * 33, "long " * 50, "üñïçôdé-Ωmega-測試", "tab\tnl\n", "0" * 100,
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r.s: r.h for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in samples:
        assert _xxh64_cached(s) == got[s], repr(s)


def test_adversarial_texts_full_stack(spark):
    """Escape/placeholder bytes (0x10/0x11), unicode, int64-boundary and
    deep-float tokens survive the FULL stack — encode → IR wire →
    read-back → decode — byte-exactly in both encoding modes, and search
    still finds exact matches among them."""
    from fluent_bit_clp_spark.functions.clp_pandas import (
        _decode_one,
        clp_encode_pandas,
    )
    from fluent_bit_clp_spark.operators.irstream import (
        read_ir_chunk,
        write_ir_chunks,
    )
    from fluent_bit_clp_spark.operators.search import search_encoded
    from fluent_bit_clp_spark.functions.clp_native import clp_encode

    texts = [
        "plain \x11 placeholder byte",
        "escape \x10 byte and pair \x10\x11 mixed",
        "\x11\x10\x11 leading control run v2.0",
        "unicode wörld 🚀 42 tømt 13.37",
        "int64 edges 9223372036854775807 -9223372036854775808 9223372036854775808",
        "floats 0.00000000000001 99999999999999.0 1.5e3",
        "x" * 500 + " 123 " + "\x11" * 5,
    ]
    rows = [(f"c{i}", 0, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    ).withColumn("sink", F.lit("s")).withColumn("chunk_id", F.lit(0)).withColumn(
        "ts_ms", F.lit(1_700_000_000_000)
    )
    for mode in ("i64", "4byte"):
        enc = clp_encode_pandas(df, mode=mode)
        blobs = write_ir_chunks(
            enc, encoding="4byte" if mode == "4byte" else "i64"
        ).collect()
        decoded = []
        for c in blobs:
            for ev in read_ir_chunk(bytes(c.ir_zstd)):
                decoded.append(_decode_one(
                    ev["logtype"], ev["var_kinds"], ev["encoded_vars"],
                    ev["dict_vars"], mode,
                ))
        assert sorted(decoded) == sorted(texts), mode
    # search across the adversarial corpus (i64 table)
    enc = clp_encode(df.drop("sink", "chunk_id", "ts_ms"))
    hits = search_encoded(enc, "unicode * 42 * 13.37")
    assert [r.conv_id for r in hits.collect()] == ["c3"]
    hits2 = search_encoded(enc, "plain * placeholder byte")
    assert [r.conv_id for r in hits2.collect()] == ["c0"]


def test_pandas_ids_exact_when_batch_mixes_nulls(spark):
    """Regression: when the UDF returned ``logtype_id`` as a pandas
    column, pd.DataFrame coerced int+None to float64, rounding
    |logtype_id| > 2^53 for EVERY row of the batch.  Force null and
    non-null texts into ONE partition (one Arrow batch) and require the
    pandas encoder's ids to equal the native encoder's exactly."""
    from fluent_bit_clp_spark.functions.clp_pandas import clp_encode_pandas

    texts = [f"level=INFO latency_ms={i} status={i % 7}" for i in range(40)]
    df = spark.createDataFrame(
        [(t,) for t in texts] + [(None,)], "text string"
    ).repartition(1)
    a = {
        (r.logtype, r.logtype_id)
        for r in clp_encode_pandas(df).select("logtype", "logtype_id").collect()
    }
    b = {
        (r.logtype, r.logtype_id)
        for r in clp_encode(df).select("logtype", "logtype_id").collect()
    }
    assert a == b

