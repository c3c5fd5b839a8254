"""Columnar archive layout (operators/archive.py): exact round trip,
kind-typed placeholder semantics, the no-Python plan guarantee, and the
archive-assembling encoder's equality with ``to_archive``."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fluent_bit_clp_spark.functions.clp_native import (
    MODE_4BYTE,
    MODE_I64,
    clp_decode_column,
    clp_encode,
)
from fluent_bit_clp_spark.functions.clp_pandas import clp_encode_pandas
from fluent_bit_clp_spark.operators.archive import (
    PH_DICT,
    PH_FLOAT,
    PH_INT,
    from_archive,
    to_archive,
)

CASES = [
    "GET /api/v2/users/123?page=4 took 1.5 ms",
    "plain text, no variables at all",
    "hex id deadbeef12 and -42 and 0.75 and 007 and v1.2.3",
    "literal controls \x10 \x11 \x12 \x13 around 9.9 and x\x12y7",
    "\x12\x13\x11\x10",
    "",
    None,
    "-0 00.5 1e5 3.14159 999999999999999999999 1.234567890123456789",
    "only-dict tokens abc123 def456",
    "only-int 1 2 3 only-float 1.5 2.5",
]

ROUNDTRIP_COLS = [
    "text",
    "logtype",
    "var_kinds",
    "encoded_vars",
    "dict_vars",
    "dict_var_ids",
    "logtype_id",
]


def _frame(spark, texts):
    return clp_encode(
        spark.createDataFrame([(t,) for t in texts], "text string"), "text"
    )


def _rows(df):
    return [tuple(r) for r in df.select(*ROUNDTRIP_COLS).collect()]


def test_archive_roundtrip_fixed_cases(spark):
    enc = _frame(spark, CASES)
    assert _rows(from_archive(to_archive(enc))) == _rows(enc)


def test_archive_decode_matches_text(spark):
    rec = from_archive(to_archive(_frame(spark, CASES)))
    for r in rec.withColumn("d", clp_decode_column()).select("text", "d").collect():
        assert r.d == r.text


def test_archive_drops_derivable_columns_and_nulls(spark):
    arch = to_archive(_frame(spark, CASES))
    assert {"var_kinds", "dict_var_ids", "logtype_id"}.isdisjoint(arch.columns)
    # compacted arrays carry no null slots
    bad = arch.where(
        F.expr("exists(encoded_vars, v -> v is null)")
        | F.expr("exists(dict_vars, v -> v is null)")
    ).count()
    assert bad == 0


def test_archive_placeholders_are_kind_typed(spark):
    arch = to_archive(
        _frame(spark, ["GET /api/v2/users/123?page=4 took 1.5 ms"])
    )
    logtype = arch.select("logtype").first()[0]
    # template 'GET /api/v%d/users/%d?page=%d took %f ms': the path
    # tokens tokenize as dict vars ('/api/v2/users/123' contains '/'),
    # so the placeholder stream must mix kinds — and every bare
    # placeholder byte in the typed template must be one of the three.
    marks = re.findall(f"[{PH_INT}{PH_DICT}{PH_FLOAT}]", logtype)
    assert marks and set(marks) <= {PH_INT, PH_DICT, PH_FLOAT}
    # all-int text keeps the working layout's byte: 0x11 still means int
    simple = to_archive(_frame(spark, ["count 42"])).select("logtype").first()[0]
    assert PH_INT in simple and PH_DICT not in simple and PH_FLOAT not in simple


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FF),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_archive_roundtrip_property(spark, texts):
    # session-scoped fixture: allowed inside @given (hypothesis only
    # rejects function-scoped ones), so each example reuses the JVM.
    enc = _frame(spark, texts)
    assert _rows(from_archive(to_archive(enc))) == _rows(enc)


def test_archive_roundtrip_scales_to_huge_turns(spark):
    """The synthetic transcript table contains multi-MiB turns with
    ~240k variables; re-alignment must be O(v log v), not O(v²) (the
    prefix-count shape ran this row for minutes).  One 60k-variable turn
    round-trips in seconds or this test times the suite out."""
    text = " ".join(
        str(i) if i % 3 else f"id-{i:x}beef" for i in range(60_000)
    )
    enc = _frame(spark, [text, None])
    assert _rows(from_archive(to_archive(enc))) == _rows(enc)


def _archive_twins(spark, texts, mode):
    """(archive-assembling pandas encoder, ``to_archive`` of the native
    encoder) over ``texts``, as collected rows in input order."""
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = clp_encode_pandas(df, mode=mode, sink_layout="archive")
    want = to_archive(clp_encode(df, "text", mode=mode))
    assert got.columns == want.columns
    return (
        [tuple(r) for r in got.orderBy("i").collect()],
        [tuple(r) for r in want.orderBy("i").collect()],
    )


@pytest.mark.parametrize("mode", [MODE_I64, MODE_4BYTE])
def test_archive_encoder_equals_to_archive(spark, mode):
    """The pipeline's archive write is assembled by the encoder; it must
    equal the native reference on the edge cases (literal 0x12 before a
    token: x, 0x12, y7 escaped before the split would tokenize ``qy7``)
    and on one 60k-variable turn."""
    huge = " ".join(
        str(i) if i % 3 else f"id-{i}beef {i}.5" for i in range(45_000)
    )
    got, want = _archive_twins(spark, CASES + [huge], mode)
    assert got == want
    # the huge turn: 60k variables, 15k of them dictionary variables
    assert (len(got[-1][3]), len(got[-1][4])) == (45_000, 15_000)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet="\x10\x11\x12\x13 0123456789.-xq", max_size=40),
        ),
        min_size=1,
        max_size=8,
    ),
    mode=st.sampled_from([MODE_I64, MODE_4BYTE]),
)
def test_archive_encoder_equals_to_archive_property(spark, texts, mode):
    got, want = _archive_twins(spark, texts, mode)
    assert got == want


def test_from_archive_prunes_unused_reconstruction(spark, tmp_path):
    """The archive docstring's 100 TB contract: a query that only touches
    the template after from_archive must scan ONLY the logtype column
    (no compact arrays read, no re-alignment executed)."""
    p = str(tmp_path / "arch")
    to_archive(_frame(spark, CASES[:4])).write.parquet(p)
    q = from_archive(spark.read.parquet(p)).groupBy("logtype_id").count()
    plan = q._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and m.group(1) == "struct<logtype:string>", plan[:2000]
    assert "array_sort" not in plan and "zip_with" not in plan


def test_archive_plan_stays_native(spark):
    """Both directions are whole-stage-codegen'd expressions — no
    Python/Arrow eval nodes anywhere in the plan."""
    plan = (
        from_archive(to_archive(_frame(spark, CASES)))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "Arrow" not in plan


def test_compact_archive_clusters_and_preserves_rows(spark, tmp_path):
    """compact_archive (template clustering): same multiset of rows,
    smaller parquet+zstd footprint, and tight per-row-group logtype
    bounds (the footer-stat pruning a dictionary search rides)."""
    import os

    import pyarrow.parquet as pq

    from fluent_bit_clp_spark.datagen import transcripts
    from fluent_bit_clp_spark.functions.clp_pandas import clp_encode_pandas
    from fluent_bit_clp_spark.operators.archive import compact_archive

    enc = clp_encode_pandas(
        transcripts(spark, 20_000, with_edge_rows=False).select(
            "conv_id", "turn_idx", "text"
        )
    )
    arch = to_archive(enc).select(
        "conv_id", "turn_idx", "logtype", "encoded_vars", "dict_vars"
    )
    plain_p = str(tmp_path / "plain")
    clus_p = str(tmp_path / "clustered")
    arch.write.option("compression", "zstd").parquet(plain_p)
    compact_archive(arch, num_partitions=4).write.option(
        "compression", "zstd"
    ).parquet(clus_p)

    def dir_bytes(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(p)
            for f in fs
            if not f.startswith(("_", "."))
        )

    assert dir_bytes(clus_p) < 0.9 * dir_bytes(plain_p)

    # row preservation (multiset, order is storage-internal)
    a = spark.read.parquet(plain_p).groupBy("conv_id", "turn_idx").count()
    b = spark.read.parquet(clus_p).groupBy("conv_id", "turn_idx").count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # footer-stat tightness: clustering gives row groups narrow,
    # near-disjoint logtype [min, max] ranges (range partition + sort),
    # so an equality predicate on one template can skip most groups on
    # stats alone.  Sorted by min, consecutive ranges may touch at the
    # boundary template but must not properly interleave.
    ranges = []
    for root, _, fs in os.walk(clus_p):
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            idx = md.schema.names.index("logtype")
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                assert st is not None
                ranges.append((st.min, st.max))
    ranges.sort()
    assert len(ranges) >= 2
    # running-max interleave count (review fix r5: comparing only to the
    # immediate predecessor missed a range nested inside an earlier
    # wide one)
    overlaps, hi = 0, ranges[0][1]
    for lo, up in ranges[1:]:
        if lo < hi:
            overlaps += 1
        hi = max(hi, up)
    assert overlaps <= len(ranges) // 2
