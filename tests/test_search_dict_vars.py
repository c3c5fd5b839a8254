"""Dictionary-variable predicates of the search: a per-row regex over
``dict_vars`` instead of a driver-collected set of variable ids.

The checks here pin three things:

- the rows the per-row predicates keep equal the rows the id-overlap
  formulation (``arrays_overlap(dict_var_ids, ids)`` with the ids of the
  matching ``var_dict`` rows) keeps — recomputed inline below — on both
  layouts, both encoding modes and both case modes, and every search
  equals a naive regex over the raw text;
- compiling the predicates starts no Spark job, and the py4j traffic of
  building a search does not grow with the number of matching variables;
- ``jobs/search_logs.py`` reads its summary numbers from the table it
  wrote instead of re-running the search.
"""

import os
import re
import sys
from contextlib import contextmanager
from datetime import datetime
from functools import reduce
from operator import and_

import py4j.clientserver
import pytest
from pyspark.sql import functions as F

from fluent_bit_clp_spark.datagen import TRANSCRIPT_SCHEMA, transcripts
from fluent_bit_clp_spark.functions.clp_native import (
    clp_encode,
    logtype_dictionary,
    var_dictionary,
)
from fluent_bit_clp_spark.operators.archive import from_archive, to_archive
from fluent_bit_clp_spark.operators.search import (
    archive_logtype_dictionary,
    compile_fragment_var_predicates,
    compile_relaxed_pattern,
    compile_var_predicates,
    search_encoded,
    search_stored_archive,
)

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"
    ),
)

_HANDCRAFTED = [
    "Retrying container-a1 after 3s: connection reset by peer",
    "Retrying Container-B22 after 4s: connection reset by peer",
    "Retrying container-b22 after 5s: disk quota reached",
    "Retrying pod-a1 after 3s: connection reset by peer",  # other dict var
    "Retrying container- 7 after 3s: connection reset by peer",  # literal
    "Retrying gizmo9 after 3s: connection reset by peer",
    "worker job42 finished in 7 ms",
    "worker JOB42 finished in 7 ms",
    "worker Job42 finished in 8 ms",
    "worker job43 finished in 7 ms",
    "worker 42 finished in 7 ms",  # encoded variables only
    "node-x7y host ab-7-cd ready",
    "node-7 host xy-7-z9 ready",
    "file_path=/srv/data/ab12/00042.parquet rows=3",
    "connection established successfully",  # no variables at all
    "",
    None,  # null text: every encoding column null
    "esc\x10ape pl\x11aceholder bytes 9",  # encode failure
]

# (query, [(orientation, fragment)] compiled against dict_vars,
#  letter-bearing dictionary tokens that only ignore_case turns per-row)
_QUERIES = [
    (
        "Retrying container-* after *s: *",
        [("prefix", "container-"), ("suffix", "s")],
        [],
    ),
    ("Retrying *-b22 after *", [("suffix", "-b22")], []),
    ("Retrying container-?1 after *", [("prefix", "container-")], []),
    ("node-* host *-7-* ready", [("prefix", "node-")], []),
    ("file_path=*/data/*b* rows=*", [("infix", "/data/"), ("infix", "b")], []),
    ("worker JOB42 finished in * ms", [], ["JOB42"]),
    ("Task * started by user *a at attempt *", [("suffix", "a")], []),
]


def _transcript_frame(spark):
    """Generated transcripts plus the handcrafted rows above, in the
    transcript schema (so the same frame commits through the pipeline)."""
    ts = datetime(2026, 1, 1)
    hand = spark.createDataFrame(
        [("conv-h", i, "user", t, None, ts) for i, t in enumerate(_HANDCRAFTED)],
        TRANSCRIPT_SCHEMA,
    )
    return transcripts(spark, 300, with_edge_rows=False).unionByName(hand)


def _naive_keys(rows, query, ignore_case):
    """Independent oracle: Python regex over the raw text."""
    body = "".join(
        ".*" if c == "*" else "." if c == "?" else re.escape(c) for c in query
    )
    rx = re.compile(body, (re.I | re.A) if ignore_case else 0)
    return {
        (r.conv_id, r.turn_idx)
        for r in rows
        if r.text is not None and rx.fullmatch(r.text)
    }


def _keys(df):
    return {(r.conv_id, r.turn_idx) for r in df.select("conv_id", "turn_idx").collect()}


def _old_has_dict_var(vd, pattern):
    """The id-overlap formulation: ids of the var_dict rows matching
    ``pattern``, collected, probed against the row's ``dict_var_ids``."""
    ids = [r.var_id for r in vd.where(F.col("var").rlike(pattern)).collect()]
    if not ids:
        return F.lit(False)
    return F.arrays_overlap(
        F.coalesce("dict_var_ids", F.array().cast("array<bigint>")),
        F.array(*[F.lit(i) for i in ids]).cast("array<bigint>"),
    )


def _var_pattern(orientation, frag):
    esc = re.escape(frag)
    return {"prefix": "^" + esc, "suffix": esc + "$", "infix": esc}[orientation]


def _where_all(df, preds):
    return df.where(reduce(and_, preds)) if preds else df


@pytest.fixture(scope="module")
def raw(spark):
    return _transcript_frame(spark).select("conv_id", "turn_idx", "text").cache()


@pytest.fixture(scope="module")
def raw_rows(raw):
    return raw.collect()


@pytest.mark.parametrize("layout", ["working", "archive"])
@pytest.mark.parametrize("mode", ["i64", "4byte"])
def test_per_row_predicates_equal_id_overlap(spark, raw, raw_rows, layout, mode):
    enc = clp_encode(raw, mode=mode).cache()
    arch = to_archive(enc).cache()
    frame = enc if layout == "working" else from_archive(arch)
    vd = var_dictionary(enc).cache()
    hits_seen = 0
    try:
        for query, frags, ci_tokens in _QUERIES:
            for ic in (False, True):
                ci = "(?i)" if ic else ""
                new_preds = compile_var_predicates(
                    query, mode, ic, vd
                ) + compile_fragment_var_predicates(query, vd, ignore_case=ic)
                old_preds = compile_var_predicates(query, mode, ic)
                if ic:
                    old_preds += [
                        _old_has_dict_var(vd, f"(?i)^{re.escape(t)}$")
                        for t in ci_tokens
                    ]
                old_preds += [
                    F.col("logtype").rlike(ci + re.escape(frag))
                    | _old_has_dict_var(vd, ci + _var_pattern(o, frag))
                    for o, frag in frags
                ]
                # the spec above mirrors what the compiler emits
                assert len(new_preds) == len(old_preds), (query, ic)
                base = frame.where(
                    F.col("logtype").rlike(compile_relaxed_pattern(query, ic))
                )
                assert _keys(_where_all(base, new_preds)) == _keys(
                    _where_all(base, old_preds)
                ), (query, ic)

                want = _naive_keys(raw_rows, query, ic)
                if layout == "working":
                    got = search_encoded(
                        enc, query, dictionary=logtype_dictionary(enc),
                        mode=mode, var_dictionary=vd, ignore_case=ic,
                    )
                else:
                    got = search_stored_archive(
                        arch, query, archive_logtype_dictionary(arch), mode,
                        vd, ignore_case=ic,
                    )
                assert _keys(got) == want, (query, ic)
                hits_seen += len(want)
    finally:
        vd.unpersist()
        arch.unpersist()
        enc.unpersist()
    assert hits_seen > 0


def test_ignore_case_token_and_fragment_keep_case_variants(spark, raw):
    """The per-row (?i) predicates keep every case variant and drop the
    rest before the decode."""
    enc = clp_encode(raw)
    vd = var_dictionary(enc)
    hand = enc.where(F.col("conv_id") == "conv-h")

    def kept(query):
        base = hand.where(
            F.col("logtype").rlike(compile_relaxed_pattern(query, True))
        )
        preds = compile_var_predicates(query, ignore_case=True, var_dictionary=vd)
        preds += compile_fragment_var_predicates(query, vd, ignore_case=True)
        return {t for (_, t) in _keys(_where_all(base, preds))}

    # job42 / JOB42 / Job42 (rows 6-8); job43 and the int-only row are gone
    assert kept("worker JOB42 finished in * ms") == {6, 7, 8}
    # container-a1 / Container-B22 / container-b22 plus the literal row 4;
    # pod-a1 and gizmo9 had their placeholder swallow a non-matching var
    assert kept("Retrying CONTAINER-* after *") == {0, 1, 2, 4}


def test_fragment_over_ten_thousand_variables(spark):
    """A fragment matching more than 10,000 distinct dictionary variables
    (past any driver-side id cap) still compiles to an applied predicate,
    and the search stays equal to the naive regex."""
    n = 10_500
    df = spark.range(n + 40).select(
        F.lit("c").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.when(
            F.col("id") < n,
            F.format_string("Retrying container-a%d now", "id"),
        )
        .otherwise(F.format_string("Retrying pod-a%d now", "id"))
        .alias("text"),
    )
    enc = clp_encode(df).cache()
    try:
        vd = var_dictionary(enc)
        assert vd.where(F.col("var").startswith("container-")).count() > 10_000
        for q, ic in (("Retrying container-* now", False),
                      ("Retrying CONTAINER-* now", True)):
            preds = compile_fragment_var_predicates(q, vd, ignore_case=ic)
            assert len(preds) == 1
            base = enc.where(F.col("logtype").rlike(compile_relaxed_pattern(q, ic)))
            assert base.count() == n + 40  # the logtype alone keeps pod rows
            assert _where_all(base, preds).count() == n
            got = search_encoded(enc, q, var_dictionary=vd, ignore_case=ic)
            assert got.count() == n
    finally:
        enc.unpersist()


def test_null_empty_and_failed_rows(spark):
    """Rows whose ``dict_vars`` is null (encode failure, null text), empty
    (no variables) or all-null (encoded variables only) evaluate the
    per-row test to null/false and are dropped, never raised on."""
    rows = [
        (0, "Retrying container-a1 now"),
        (1, None),
        (2, "esc\x10ape pl\x11aceholder bytes 9"),
        (3, "Retrying now"),
        (4, "Retrying 42 now"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    enc = clp_encode(df)
    vd = var_dictionary(enc)
    dv = {r.id: r.dict_vars for r in enc.select("id", "dict_vars").collect()}
    assert dv[1] is None and dv[3] == [] and dv[4] == [None]
    for q in ("*container-*", "*container-a1*", "*-a1"):
        for ic in (False, True):
            preds = compile_fragment_var_predicates(q, vd, ignore_case=ic)
            assert preds
            kept = {r.id for r in _where_all(enc, preds).collect()}
            assert kept == {0}, (q, ic)
    token = compile_var_predicates(
        "Retrying CONTAINER-A1 now", ignore_case=True, var_dictionary=vd
    )
    assert {r.id for r in _where_all(enc, token).collect()} == {0}


# --- cost pins: no job, O(1) py4j crossings --------------------------------


def _drain(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@contextmanager
def _job_group(spark, name):
    """Count the Spark jobs started inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    box = []
    try:
        yield box
    finally:
        sc._jsc.clearJobGroup()
        _drain(spark)
        box.append(len(sc.statusTracker().getJobIdsForGroup(name)))


@contextmanager
def _py4j_calls():
    """Count the py4j round trips made inside the block.  Releases of
    garbage-collected Python proxies (``m``/``d`` commands) are not
    counted: they belong to whichever earlier objects the collector
    happens to free inside the block."""
    conn = py4j.clientserver.ClientServerConnection
    orig = conn.send_command
    box = [0]

    def counted(self, command):
        if not command.startswith("m\nd\n"):
            box[0] += 1
        return orig(self, command)

    conn.send_command = counted
    try:
        yield box
    finally:
        conn.send_command = orig


@pytest.fixture(scope="module")
def fanout(spark):
    """2,000 rows each holding a distinct ``container-*`` variable and 2
    rows holding ``pod-*`` ones — all of one template."""
    df = spark.range(2002).select(
        F.lit("f").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.when(F.col("id") < 2000, F.format_string("Retrying container-a%d now", "id"))
        .otherwise(F.format_string("Retrying pod-a%d now", "id"))
        .alias("text"),
    )
    enc = clp_encode(df).cache()
    enc.count()
    yield enc, var_dictionary(enc), logtype_dictionary(enc)
    enc.unpersist()


def test_compiling_dict_var_predicates_starts_no_job(spark, fanout):
    enc, vd, _ = fanout
    with _job_group(spark, "compile-dict-var-preds") as jobs:
        frag = compile_fragment_var_predicates("Retrying container-* now", vd)
        frag_ci = compile_fragment_var_predicates(
            "Retrying CONTAINER-* now", vd, ignore_case=True
        )
        tok = compile_var_predicates(
            "Retrying CONTAINER-A7 now", ignore_case=True, var_dictionary=vd
        )
    assert jobs == [0]
    assert len(frag) == len(frag_ci) == len(tok) == 1


def test_search_build_crossings_do_not_grow_with_matches(spark, fanout):
    enc, vd, ld = fanout

    def build(query):
        return search_encoded(enc, query, dictionary=ld, var_dictionary=vd)

    build("Retrying container-* now")  # warm any first-use JVM state
    build("Retrying pod-* now")
    with _py4j_calls() as big:
        build("Retrying container-* now")  # 2,000 matching variables
    with _py4j_calls() as small:
        build("Retrying pod-* now")  # 2 matching variables
    assert big[0] > 0 and small[0] > 0
    assert abs(big[0] - small[0]) <= 10, (big[0], small[0])


# --- search_logs summary numbers come from the written table --------------


@pytest.fixture(scope="module")
def committed(spark, tmp_path_factory):
    from fluent_bit_clp_spark.plans.pipeline import run_to_sinks
    from fluent_bit_clp_spark.sources.tables import JobConfig

    df = _transcript_frame(spark).cache()
    rows = df.select("conv_id", "turn_idx", "text").collect()
    roots = {}
    for layout, mode in (("working", "i64"), ("archive", "4byte")):
        root = str(tmp_path_factory.mktemp(f"dv_{layout}"))
        run_to_sinks(
            spark, df, root, "run-dv",
            cfg=JobConfig(sink_layout=layout, encoding_mode=mode),
        )
        roots[layout] = root
    df.unpersist()
    return roots, rows


@pytest.mark.parametrize("layout", ["working", "archive"])
def test_search_run_equals_naive_regex(spark, committed, layout):
    from fluent_bit_clp_spark.plans.pipeline import search_run

    roots, rows = committed
    for query, _, _ in _QUERIES:
        for ic in (False, True):
            got = search_run(spark, roots[layout], query, "run-dv", ignore_case=ic)
            assert _keys(got) == _naive_keys(rows, query, ic), (query, ic)


def test_search_logs_summary_reads_written_table(spark, committed, tmp_path):
    from search_logs import search

    from fluent_bit_clp_spark.operators.search import search_count_by_time
    from fluent_bit_clp_spark.plans.pipeline import search_run

    roots, rows = committed
    root = roots["working"]
    q = "Retrying container-* after *s: *"
    n_match = len(_naive_keys(rows, q, False))
    assert n_match > 0

    # reference: the search, its bucket aggregation and one write
    with _job_group(spark, "search-logs-reference") as ref:
        search_count_by_time(
            search_run(spark, root, q, "run-dv"), bucket_ms=3_600_000
        ).write.parquet(str(tmp_path / "ref"))
    with _job_group(spark, "search-logs-counts") as got:
        s = search(
            spark, root, str(tmp_path / "cnt"), "run-dv", queries={"q1": q},
            count_by_time=3_600_000,
        )
    counts = spark.read.parquet(str(tmp_path / "cnt" / "counts"))
    assert s["buckets"] == counts.count() > 0
    assert s["matches"] == counts.agg(F.sum("n")).first()[0] == n_match
    # one small read-back (a global aggregate: at most two jobs) on top
    assert got[0] <= ref[0] + 2, (got, ref)

    s2 = search(
        spark, root, str(tmp_path / "prof"), "run-dv", queries={"q1": q},
        profile=True,
    )
    prof = spark.read.parquet(str(tmp_path / "prof" / "profile"))
    assert s2["templates"] == prof.count() > 0

    # a search with no hits writes no file; the fixed-schema read-back
    # still counts zero rows
    s3 = search(
        spark, root, str(tmp_path / "none"), "run-dv",
        queries={"q1": "zz-no-such-line-zz *"},
    )
    assert s3["rows_written"] == 0
