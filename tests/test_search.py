"""CLP encoded-table search vs naive regex over raw text."""

import re

import pytest
from pyspark.sql import functions as F

from fluent_bit_clp_spark.datagen import transcripts
from fluent_bit_clp_spark.functions.clp_native import clp_encode, logtype_dictionary
from fluent_bit_clp_spark.operators.search import (
    compile_relaxed_pattern,
    search_encoded,
)


@pytest.fixture(scope="module")
def encoded(spark):
    df = transcripts(spark, 2000, with_edge_rows=False).select(
        "conv_id", "turn_idx", "text"
    )
    return clp_encode(df).cache()


def _naive(df, query):
    pat = "^" + ".*".join(re.escape(p) for p in query.split("*")) + "$"
    return df.where(F.col("text").rlike(pat))


@pytest.mark.parametrize(
    "query",
    [
        "Task * started by user * at attempt *",
        "Retrying container-* after *s: connection reset by peer",
        "connection established successfully",
        "GET /api/v2/users/* took * ms",
        "Uploaded chunk * of * to /var/log/app-2.log",
    ],
)
def test_search_matches_naive_regex(spark, encoded, query):
    got = search_encoded(encoded, query).select("conv_id", "turn_idx")
    want = _naive(encoded, query).select("conv_id", "turn_idx")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    if "*" in query:
        assert want.count() > 0  # query actually exercises data


def test_search_with_dictionary_pruning(spark, encoded):
    d = logtype_dictionary(encoded)
    q = "Task * started by user * at attempt *"
    got = search_encoded(encoded, q, dictionary=d)
    want = _naive(encoded, q)
    assert got.count() == want.count() > 0


def test_search_concrete_variable_values(spark):
    df = spark.createDataFrame(
        [("a", 0, "job 42 done"), ("a", 1, "job 43 done"), ("a", 2, "job 42 failed")],
        "conv_id string, turn_idx int, text string",
    )
    enc = clp_encode(df)
    assert search_encoded(enc, "job 42 done").count() == 1
    assert search_encoded(enc, "job * done").count() == 2
    assert search_encoded(enc, "job 99 done").count() == 0


def test_compile_relaxed_pattern_shapes():
    pat = compile_relaxed_pattern("job 42 done")
    assert "\x11" in pat and pat.startswith("^") and pat.endswith("$")
    pat2 = compile_relaxed_pattern("container-* after")
    assert "(?:" in pat2 and ".*" in pat2  # ambiguous fragment relaxed


def test_var_predicates_concrete_value_query(spark):
    """Sub-query enumeration: concrete variable values compile to
    array_contains predicates that tighten the candidate set below the
    logtype-only prune, with end-to-end equality preserved."""
    from fluent_bit_clp_spark.functions.clp_native import clp_encode
    from fluent_bit_clp_spark.operators.search import (
        compile_relaxed_pattern,
        compile_var_predicates,
        exact_text_pattern,
        search_encoded,
    )
    from pyspark.sql import functions as F

    rows = [(i, f"user {i % 50} did thing {i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "id int, text string")
    enc = clp_encode(df).cache()
    try:
        query = "user 7 did thing *"
        hits = search_encoded(enc, query)
        naive = df.where(F.col("text").rlike(exact_text_pattern(query)))
        assert sorted(r.id for r in hits.collect()) == sorted(
            r.id for r in naive.collect()
        )
        # the logtype-only prune keeps every row (all share one template);
        # the value predicate must cut candidates to the 'user 7' slice
        logtype_only = enc.where(
            F.col("logtype").rlike(compile_relaxed_pattern(query))
        ).count()
        preds = compile_var_predicates(query)
        assert preds, "concrete token must compile to a predicate"
        pruned = enc.where(
            F.col("logtype").rlike(compile_relaxed_pattern(query))
        )
        for p in preds:
            pruned = pruned.where(p)
        assert logtype_only == 2000
        assert pruned.count() == 40  # ids 7, 57, ... — 2000/50
    finally:
        enc.unpersist()


def test_var_predicates_dict_token(spark):
    """A concrete dictionary token (hex id) prunes via dict_var_ids."""
    from fluent_bit_clp_spark.functions.clp_native import clp_encode
    from fluent_bit_clp_spark.operators.search import search_encoded
    from pyspark.sql import functions as F

    rows = [(i, f"req id-{i:x}af done") for i in range(500)]
    df = spark.createDataFrame(rows, "id int, text string")
    enc = clp_encode(df)
    hits = search_encoded(enc, "req id-1faf done")
    assert [r.id for r in hits.collect()] == [0x1F]


def test_fragment_var_dictionary_enumeration(spark):
    """CLP-style sub-query enumeration of a wildcard fragment against the
    VARIABLE dictionary (round-3, ROADMAP r2 #2): `container-*` compiles
    to (literal-in-logtype OR dict-var-in-matching-set), which prunes
    rows whose placeholder swallowed a non-matching variable BEFORE the
    decode — with end-to-end equality against naive regex preserved."""
    from fluent_bit_clp_spark.functions.clp_native import (
        clp_encode,
        var_dictionary,
    )
    from fluent_bit_clp_spark.operators.search import (
        compile_fragment_var_predicates,
        compile_relaxed_pattern,
        search_encoded,
    )

    rows = [
        (0, "Retrying container-a1 now"),   # dict var matches ^container-
        (1, "Retrying container-b22 now"),  # dict var matches
        (2, "Retrying pod-a1 now"),         # non-matching dict var
        (3, "Retrying container- 7 now"),   # fragment literal + int var
        (4, "Retrying gizmo9 now"),         # non-matching dict var
        (5, "say container-a1 now"),        # wrong prefix text
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    enc = clp_encode(df).cache()
    try:
        vd = var_dictionary(enc)
        q = "Retrying container-* now"
        got = sorted(
            r.id for r in search_encoded(enc, q, var_dictionary=vd).collect()
        )
        want = sorted(r.id for r in _naive(df, q).collect())
        assert got == want == [0, 1, 3]
        # the relaxed logtype prune alone keeps the swallowed-variable rows
        relaxed_ids = {
            r.id
            for r in enc.where(
                F.col("logtype").rlike(compile_relaxed_pattern(q))
            ).collect()
        }
        assert {2, 4} <= relaxed_ids
        # ...and the fragment predicate removes them before any decode
        preds = compile_fragment_var_predicates(q, vd)
        assert len(preds) == 1
        tight = enc.where(F.col("logtype").rlike(compile_relaxed_pattern(q)))
        for p in preds:
            tight = tight.where(p)
        tight_ids = {r.id for r in tight.collect()}
        assert tight_ids == {0, 1, 3}
        # purely numeric fragments could be encoded vars — must not compile
        assert compile_fragment_var_predicates("value 4*", vd) == []
        # suffix orientation: '*-b22' → token ENDS with the fragment
        got2 = sorted(
            r.id
            for r in search_encoded(
                enc, "Retrying *-b22 now", var_dictionary=vd
            ).collect()
        )
        assert got2 == sorted(
            r.id for r in _naive(df, "Retrying *-b22 now").collect()
        ) == [1]
    finally:
        enc.unpersist()


def test_fragment_enumeration_4byte_mode(spark):
    """Fragment enumeration stays sound in 4byte mode (where out-of-range
    numerics ALSO land in the dictionary — the numeric-skip rule covers
    them by never constraining numeric fragments)."""
    from fluent_bit_clp_spark.functions.clp_native import (
        clp_encode,
        var_dictionary,
    )
    from fluent_bit_clp_spark.operators.search import search_encoded

    rows = [
        (0, "job j-77 took 99999999999 us"),   # big int → dict var in 4byte
        (1, "job j-88 took 5 us"),
        (2, "job k-77 took 5 us"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    enc = clp_encode(df, mode="4byte")
    vd = var_dictionary(enc)
    got = sorted(
        r.id
        for r in search_encoded(
            enc, "job j-* took * us", mode="4byte", var_dictionary=vd
        ).collect()
    )
    assert got == [0, 1]
    # numeric fragment over a value that is a dict var in 4byte mode:
    # enumeration must not constrain it (could equally be encoded)
    got2 = sorted(
        r.id
        for r in search_encoded(
            enc, "job * took 9* us", mode="4byte", var_dictionary=vd
        ).collect()
    )
    assert got2 == [0]


def test_search_over_committed_sink_output(spark, tmp_path):
    """Integration (round 3): search runs against the PRODUCTION tables —
    the committed partitionBy(sink) parquet plus the written logtype
    dictionary from run_to_sinks (the dictionary-variable predicates test
    each row's ``dict_vars``, switched on with ``var_dictionary=True``) —
    not just in-memory encodes; results equal naive regex over the
    original input text."""
    import os

    from fluent_bit_clp_spark.datagen import transcripts
    from fluent_bit_clp_spark.plans.pipeline import run_to_sinks

    df = transcripts(spark, 800, with_edge_rows=False)
    out = str(tmp_path / "searchout")
    run_to_sinks(spark, df, out, "run-s")
    sinks = spark.read.parquet(os.path.join(out, "sinks"))
    ltd = spark.read.parquet(os.path.join(out, "logtype_dict"))
    q = "Task * started by user * at attempt *"
    got = search_encoded(sinks, q, dictionary=ltd, var_dictionary=True)
    want = _naive(df, q)
    assert got.count() == want.count() > 0
    got_keys = {(r.conv_id, r.turn_idx) for r in got.collect()}
    want_keys = {(r.conv_id, r.turn_idx) for r in want.collect()}
    assert got_keys == want_keys


def test_var_predicates_skip_wildcard_fragments(spark):
    """Tokens touching a '*' must NOT compile to predicates (they may
    extend into longer data tokens)."""
    from fluent_bit_clp_spark.operators.search import compile_var_predicates

    assert compile_var_predicates("container-1*") == []
    assert compile_var_predicates("*42-suffix") == []
    # a delimiter between '*' and the token makes it unambiguous again
    assert len(compile_var_predicates("* 42-suffix")) == 1
    assert len(compile_var_predicates("a 42 *")) == 1


def test_search_over_archive_reconstruction(spark, encoded):
    """Search composes with the storage layout: running the identical
    dictionary-pruned search through from_archive(to_archive(...)) must
    return exactly the working-layout hits (the 100 TB read path — sinks
    stored as archive, queried through the lazy reconstruction)."""
    from fluent_bit_clp_spark.operators.archive import from_archive, to_archive

    query = "Retrying container-* after *s: connection reset by peer"
    direct = {
        (r.conv_id, r.turn_idx)
        for r in search_encoded(encoded, query)
        .select("conv_id", "turn_idx").collect()
    }
    via_archive = {
        (r.conv_id, r.turn_idx)
        for r in search_encoded(from_archive(to_archive(encoded)), query)
        .select("conv_id", "turn_idx").collect()
    }
    assert via_archive == direct and direct


def test_search_stored_archive_pushes_template_filter(spark, tmp_path, encoded):
    """Stored-archive search (scan-level template pruning): identical
    hits to the working-layout search, with the matching templates'
    stored strings pushed into the parquet scan (EqualTo/In on logtype
    in PushedFilters) — on a compact_archive-clustered table that skips
    whole row groups by footer stats."""
    from fluent_bit_clp_spark.operators.archive import (
        compact_archive,
        to_archive,
    )
    from fluent_bit_clp_spark.operators.search import (
        archive_logtype_dictionary,
        search_stored_archive,
    )

    p = str(tmp_path / "arch")
    compact_archive(to_archive(encoded), num_partitions=4).write.option(
        "compression", "zstd"
    ).parquet(p)
    arch = spark.read.parquet(p)
    adict = archive_logtype_dictionary(arch)

    # dictionary ids must agree with the working-layout dictionary
    work = {
        (r.logtype_id, r.logtype)
        for r in logtype_dictionary(encoded).collect()
    }
    ours = {(r.logtype_id, r.logtype) for r in adict
            .select("logtype_id", "logtype").collect()}
    assert ours == work

    query = "Retrying container-* after *s: connection reset by peer"
    want = {
        (r.conv_id, r.turn_idx)
        for r in search_encoded(encoded, query)
        .select("conv_id", "turn_idx").collect()
    }
    assert want
    hits = search_stored_archive(arch, query, adict)
    got = {(r.conv_id, r.turn_idx)
           for r in hits.select("conv_id", "turn_idx").collect()}
    assert got == want

    plan = hits._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedFilters: \[[^\]]*(EqualTo|In)\(logtype,", plan)
    assert m, plan[:1500]

    # over-cap fallback: pushdown skipped, results identical
    fb = search_stored_archive(arch, query, adict, max_templates=0)
    got_fb = {(r.conv_id, r.turn_idx)
              for r in fb.select("conv_id", "turn_idx").collect()}
    assert got_fb == want
    assert "EqualTo(logtype," not in fb._jdf.queryExecution().executedPlan().toString()


def test_search_stored_archive_time_range(spark, tmp_path):
    """r6: time-bounded archive search — the ts window joins the template
    isin in PushedFilters, and compact_archive(ts_col=...) clusters
    time-leading so row-group footers are discriminative on both."""
    from fluent_bit_clp_spark.operators.archive import (
        compact_archive,
        to_archive,
    )
    from fluent_bit_clp_spark.operators.search import (
        archive_logtype_dictionary,
        search_stored_archive,
    )

    df = spark.createDataFrame(
        [(f"c{i}", i, 1000 * i, f"job {i} done") for i in range(100)],
        "conv_id string, turn_idx int, ts_ms bigint, text string",
    )
    enc = clp_encode(df)
    p = str(tmp_path / "arch_t")
    compact_archive(
        to_archive(enc), num_partitions=3, ts_col="ts_ms",
        time_bucket_ms=20_000,
    ).write.parquet(p)
    arch = spark.read.parquet(p)
    adict = archive_logtype_dictionary(arch)
    meta_key = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(meta_key)
    try:
        # default 100 truncates the PushedFilters list mid-entry
        spark.conf.set(meta_key, "2000")
        hits = search_stored_archive(
            arch, "job * done", adict, time_range=(30_000, 60_000)
        )
        got = {r.turn_idx for r in hits.collect()}
        assert got == set(range(30, 61))
        plan = hits._jdf.queryExecution().executedPlan().toString()
        assert re.search(
            r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(ts_ms,30000\)", plan
        ), plan[:1500]
        assert "LessThanOrEqual(ts_ms,60000" in plan
    finally:
        spark.conf.set(meta_key, prev)

    # time-leading clustering: each output file covers a bounded slice of
    # the bucket space (ranges overlap only at shared boundary buckets)
    import pyarrow.parquet as pq
    import glob as _glob

    per_file_buckets = []
    for f in _glob.glob(p + "/*.parquet"):
        t = pq.read_table(f, columns=["ts_ms"])
        bks = {v // 20_000 for v in t.column("ts_ms").to_pylist()}
        if bks:
            per_file_buckets.append(bks)
    n_buckets = len(set().union(*per_file_buckets))
    assert sum(len(b) for b in per_file_buckets) <= (
        n_buckets + len(per_file_buckets) - 1
    )

    with pytest.raises(ValueError, match="ts_col"):
        search_stored_archive(
            arch.drop("ts_ms"), "job * done", adict, time_range=(0, 1)
        )
    with pytest.raises(ValueError, match="ts_col"):
        compact_archive(to_archive(enc), ts_col="nope")


def test_search_count_by_time_buckets(spark):
    """r6 log-viewer aggregation: counts land in floor-aligned buckets,
    exact bigint arithmetic incl. negative timestamps."""
    from fluent_bit_clp_spark.operators.search import search_count_by_time

    df = spark.createDataFrame(
        [("a", 0, -1, "x"), ("a", 1, 0, "x"), ("a", 2, 999, "x"),
         ("a", 3, 1000, "x"), ("a", 4, 2500, "x")],
        "conv_id string, turn_idx int, ts_ms bigint, text string",
    )
    got = {
        (r.bucket_start_ms, r.n)
        for r in search_count_by_time(df, bucket_ms=1000).collect()
    }
    assert got == {(-1000, 1), (0, 2), (1000, 1), (2000, 1)}
    with pytest.raises(ValueError, match="bucket_ms"):
        search_count_by_time(df, bucket_ms=0)

    # ADVICE r6: a multi-query result (query_name present) is counted per
    # query — no cross-query summing/double counting
    multi = spark.createDataFrame(
        [("a", 0, 0, "q1"), ("a", 0, 0, "q2"), ("a", 1, 500, "q1")],
        "conv_id string, turn_idx int, ts_ms bigint, query_name string",
    )
    per_q = {
        (r.query_name, r.bucket_start_ms, r.n)
        for r in search_count_by_time(multi, bucket_ms=1000).collect()
    }
    assert per_q == {("q1", 0, 2), ("q2", 0, 1)}


def test_exact_text_pattern_strict_end_anchor(spark):
    r"""ADVICE r5: Java's ``$`` also matches before a final ``\n``, RE2's
    does not — a trailing-newline text must NOT be a hit on either side.
    exact_text_pattern anchors with ``\z`` so Spark (Java regex) agrees
    with the DuckDB/RE2 oracle by construction."""
    from fluent_bit_clp_spark.operators.search import exact_text_pattern

    pat = exact_text_pattern("hello * end")
    df = spark.createDataFrame(
        [("exact", "hello big end"), ("trailing_nl", "hello big end\n")],
        "name string, text string",
    )
    got = {r.name for r in df.where(F.col("text").rlike(pat)).collect()}
    assert got == {"exact"}
    # and DuckDB agrees on the same pattern (oracle side of the driver gate)
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        "select 1 where regexp_matches('hello big end' || chr(10), "
        f"'{pat.replace(chr(39), chr(39) * 2)}')"
    ).fetchall()
    con.close()
    assert rows == []


def _naive_wild(df, query):
    """Brute-force oracle with true wildcard semantics: * = any run,
    ? = exactly one char."""
    seg = lambda p: "".join("." if c == "?" else re.escape(c) for c in p)
    pat = "^" + ".*".join(seg(p) for p in query.split("*")) + "\\z"
    return df.where(F.col("text").rlike(pat))


@pytest.mark.parametrize(
    "query",
    [
        "connection established successfull?",  # literal tail position
        "Task * started by user * at attempt ?",  # variable position
        "GET /api/v?/users/* took * ms",  # inside what encodes as a var token
        "Retrying container-??" + "* after *s: c?nnection reset by peer",
    ],
)
def test_question_mark_wildcard_matches_naive(spark, encoded, query):
    """r6: '?' (any ONE char — CLP's second wildcard) through the full
    prune pipeline equals the brute-force regex, in literal, variable
    and fragment positions."""
    got = search_encoded(encoded, query).select("conv_id", "turn_idx")
    want = _naive_wild(encoded, query).select("conv_id", "turn_idx")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_question_mark_exactly_one_char(spark):
    df = spark.createDataFrame(
        [
            ("a", 0, "job 42 done"),
            ("a", 1, "job 420 done"),
            ("a", 2, "job 4 done"),
            ("a", 3, "jqb 42 done"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    enc = clp_encode(df)
    hits = lambda q: {r.turn_idx for r in search_encoded(enc, q).collect()}
    assert hits("job 4? done") == {0}  # one char, not zero ('job 4 done')
    assert hits("job 4?? done") == {1}
    assert hits("j?b 42 done") == {0, 3}  # '?' spans o/q in literal text
    assert hits("job ?? done") == {0}
    assert hits("job ? done") == {2}


def test_question_mark_stored_archive(spark, encoded):
    """'?' through the scan-pruned stored-archive path: prune widens it
    to '*' for the template isin, decode-verify restores one-char
    semantics — equal to brute force over the decoded text."""
    from fluent_bit_clp_spark.operators.archive import to_archive
    from fluent_bit_clp_spark.operators.search import (
        archive_logtype_dictionary,
        search_stored_archive,
    )

    q = "Retrying container-* after *s: c?nnection reset by peer"
    arch = to_archive(encoded)
    got = search_stored_archive(
        arch, q, archive_logtype_dictionary(arch)
    ).select("conv_id", "turn_idx")
    want = _naive_wild(encoded, q).select("conv_id", "turn_idx")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert want.count() > 0


def test_stale_archive_dictionary_coverage_check(spark, encoded):
    """VERDICT r5 #3: verify_coverage=True proves the covering contract —
    a dictionary missing templates the archive contains raises a typed
    error instead of silently returning empty results; the default stays
    unchanged (documented covering-dictionary contract)."""
    from fluent_bit_clp_spark.operators.archive import to_archive
    from fluent_bit_clp_spark.operators.search import (
        StaleArchiveDictionaryError,
        archive_logtype_dictionary,
        search_stored_archive,
    )

    query = "Retrying container-* after *s: connection reset by peer"
    arch = to_archive(encoded)
    full = archive_logtype_dictionary(arch)
    # stale dictionary: drop exactly the templates the query matches
    pat = compile_relaxed_pattern(query)
    stale = full.where(~F.col("logtype").rlike(pat))
    assert stale.count() < full.count()

    with pytest.raises(StaleArchiveDictionaryError, match="stale"):
        search_stored_archive(arch, query, stale, verify_coverage=True)
    # a covering dictionary passes the same opt-in check and matches
    want = search_encoded(encoded, query).count()
    got = search_stored_archive(arch, query, full, verify_coverage=True).count()
    assert got == want > 0
    # default behavior (contract documented): the stale dictionary
    # silently proves-zero — this is exactly why verify_coverage exists
    assert search_stored_archive(arch, query, stale).count() == 0
    # a SUPERSET dictionary (templates from older runs) is harmless
    extra = spark.createDataFrame(
        [("never-stored-template x", "never-stored-template x", 1)],
        full.schema,
    )
    got_sup = search_stored_archive(
        arch, query, full.unionByName(extra), verify_coverage=True
    ).count()
    assert got_sup == want


def test_extend_archive_dictionary_cross_run(spark):
    """VERDICT r5 #4 (write-time maintenance): extending keeps existing
    rows verbatim and appends only unseen templates — the same cross-run
    merge contract as dictionary.extend_dense_ids."""
    from fluent_bit_clp_spark.functions.clp_native import clp_encode
    from fluent_bit_clp_spark.operators.archive import to_archive
    from fluent_bit_clp_spark.operators.search import (
        extend_archive_dictionary,
    )

    def arch_of(rows):
        df = spark.createDataFrame(
            [(f"c{i}", 0, t) for i, t in enumerate(rows)],
            "conv_id string, turn_idx int, text string",
        )
        return to_archive(clp_encode(df))

    a1 = arch_of(["job 17 done", "job 18 done", "disk sda1 full"])
    a2 = arch_of(["job 99 done", "new thing 4 happened"])
    d1 = extend_archive_dictionary(a1)
    merged = extend_archive_dictionary(a2, existing=d1)
    m = {r.logtype_stored: (r.logtype, r.logtype_id) for r in merged.collect()}
    base = {r.logtype_stored: (r.logtype, r.logtype_id) for r in d1.collect()}
    # existing rows verbatim
    for k, v in base.items():
        assert m[k] == v
    # 'job N done' template already present — only the new template added
    assert len(m) == len(base) + 1
    # idempotent: extending with the same archive adds nothing
    again = extend_archive_dictionary(a2, existing=merged)
    assert again.count() == merged.count()


def _naive_ci(df, query):
    pat = "(?i)^" + ".*".join(re.escape(p) for p in query.split("*")) + "$"
    return df.where(F.col("text").rlike(pat))


@pytest.mark.parametrize(
    "query",
    [
        "TASK * started BY user * at ATTEMPT *",   # logtype literals folded
        "Connection ESTABLISHED successfully",      # no-variable query
        "get /api/v2/users/* TOOK * MS",            # fragment + literals
    ],
)
def test_ignore_case_matches_naive(spark, encoded, query):
    """clg --ignore-case analogue (r6): full-stack case-insensitive search
    (dictionary prune + var predicates + fragment enumeration +
    decode-verify) equals the naive (?i) regex over raw text.  The
    queries are deliberately MIS-cased vs the corpus, so case-sensitive
    search returns nothing while ignore_case recovers every hit."""
    from fluent_bit_clp_spark.functions.clp_native import (
        logtype_dictionary,
        var_dictionary,
    )

    d, vd = logtype_dictionary(encoded), var_dictionary(encoded)
    got = search_encoded(
        encoded, query, dictionary=d, var_dictionary=vd, ignore_case=True
    ).select("conv_id", "turn_idx")
    want = _naive_ci(encoded, query).select("conv_id", "turn_idx")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert want.count() > 0  # the mis-cased query actually exercises data
    # sanity: case-sensitive search over the same mis-cased query is empty
    assert search_encoded(encoded, query, dictionary=d).count() == 0


def test_ignore_case_dict_token_enumerates_variants(spark):
    """A letter-bearing dictionary token under ignore_case matches every
    case variant in the data via the (?i) variable-dictionary
    enumeration; letter-free tokens keep their exact predicates."""
    from fluent_bit_clp_spark.functions.clp_native import (
        clp_encode,
        var_dictionary,
    )
    from fluent_bit_clp_spark.operators.search import compile_var_predicates

    rows = [
        (0, "worker JOB42 finished in 7 ms"),
        (1, "worker job42 finished in 7 ms"),
        (2, "worker Job42 finished in 7 ms"),
        (3, "worker job43 finished in 7 ms"),
        (4, "manager job42 finished in 7 ms"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    enc = clp_encode(df).cache()
    try:
        vd = var_dictionary(enc)
        q = "worker job42 finished in 7 ms"
        got = sorted(
            r.id
            for r in search_encoded(
                enc, q, var_dictionary=vd, ignore_case=True
            ).collect()
        )
        assert got == [0, 1, 2]
        # case-sensitive: exact row only
        assert sorted(
            r.id for r in search_encoded(enc, q, var_dictionary=vd).collect()
        ) == [1]
        # the enumeration still yields a real prune predicate (job42 id
        # set + exact int 7) — not a silent drop of all variable pruning
        preds = compile_var_predicates(
            q, ignore_case=True, var_dictionary=vd
        )
        assert len(preds) == 2
        # without a var_dictionary the letter-bearing token is skipped
        # (sound) but the letter-free int predicate survives
        assert len(compile_var_predicates(q, ignore_case=True)) == 1
    finally:
        enc.unpersist()


def test_ignore_case_stored_archive(spark, encoded):
    """ignore_case flows through the stored-archive path: the (?i)
    template prune admits differently-cased stored templates and the
    final result equals the naive (?i) regex."""
    from fluent_bit_clp_spark.operators.archive import to_archive
    from fluent_bit_clp_spark.operators.search import (
        archive_logtype_dictionary,
        search_stored_archive,
    )

    arch = to_archive(encoded)
    q = "CONNECTION established SUCCESSFULLY"
    got = search_stored_archive(
        arch, q, archive_logtype_dictionary(arch), ignore_case=True
    ).select("conv_id", "turn_idx")
    want = _naive_ci(encoded, q).select("conv_id", "turn_idx")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert want.count() > 0


def test_multi_query_search_equals_per_query(spark, encoded):
    """search_encoded_multi (r6, one-scan dashboard shape) is row-for-row
    identical to running each query through search_encoded alone, with
    multi-match rows attributed once per matching query."""
    from fluent_bit_clp_spark.functions.clp_native import (
        logtype_dictionary,
        var_dictionary,
    )
    from fluent_bit_clp_spark.operators.search import search_encoded_multi

    queries = {
        "tasks": "Task * started by user * at attempt *",
        "conn_reset": "Retrying container-* after *s: connection reset by peer",
        "api": "GET /api/v2/users/* took * ms",
        "nohit": "zz-never-matches-anything-qq",
    }
    d, vd = logtype_dictionary(encoded), var_dictionary(encoded)
    got = search_encoded_multi(
        encoded, queries, dictionary=d, var_dictionary=vd
    ).select("conv_id", "turn_idx", "query_name")
    for name, q in queries.items():
        alone = (
            search_encoded(encoded, q, dictionary=d, var_dictionary=vd)
            .select("conv_id", "turn_idx")
            .withColumn("query_name", F.lit(name))
        )
        sub = got.where(F.col("query_name") == name)
        assert sub.exceptAll(alone).count() == 0
        assert alone.exceptAll(sub).count() == 0
    assert got.where(F.col("query_name") == "nohit").count() == 0
    assert got.count() > 0


def test_multi_query_attributes_overlapping_matches(spark):
    """A row matching several queries appears once per query; rows
    matching none are absent (explode of the empty tag array)."""
    from fluent_bit_clp_spark.functions.clp_native import clp_encode
    from fluent_bit_clp_spark.operators.search import search_encoded_multi

    df = spark.createDataFrame(
        [(0, "job 42 done fast"), (1, "job 43 done fast"), (2, "idle")],
        "id int, text string",
    )
    out = search_encoded_multi(
        clp_encode(df),
        {"any_job": "job * done *", "j42": "job 42 *", "none": "halt *"},
    )
    got = sorted((r.id, r.query_name) for r in out.collect())
    assert got == [(0, "any_job"), (0, "j42"), (1, "any_job")]


def test_multi_query_empty_map_raises(spark, encoded):
    from fluent_bit_clp_spark.operators.search import search_encoded_multi

    with pytest.raises(ValueError, match="non-empty"):
        search_encoded_multi(encoded, {})


def test_multi_query_stored_archive(spark, encoded):
    """Dashboard over a stored archive: one union-isin scan prune, then
    per-query results identical to single-query search_stored_archive."""
    from fluent_bit_clp_spark.operators.archive import to_archive
    from fluent_bit_clp_spark.operators.search import (
        archive_logtype_dictionary,
        search_stored_archive,
        search_stored_archive_multi,
    )

    arch = to_archive(encoded)
    ad = archive_logtype_dictionary(arch)
    queries = {
        "tasks": "Task * started by user * at attempt *",
        "established": "connection established successfully",
        "nohit": "zz-never-matches-anything-qq",
    }
    got = search_stored_archive_multi(arch, queries, ad).select(
        "conv_id", "turn_idx", "query_name"
    )
    for name, q in queries.items():
        alone = (
            search_stored_archive(arch, q, ad)
            .select("conv_id", "turn_idx")
            .withColumn("query_name", F.lit(name))
        )
        sub = got.where(F.col("query_name") == name)
        assert sub.exceptAll(alone).count() == 0
        assert alone.exceptAll(sub).count() == 0
    assert got.count() > 0
    assert got.where(F.col("query_name") == "nohit").count() == 0


def test_search_with_context_handcrafted(spark):
    """grep -C semantics: rows within n_before/n_after POSITIONS of a hit
    (same key group), is_match flags exact hits, gaps respected (context
    is by order-value distance, not row count)."""
    from fluent_bit_clp_spark.functions.clp_native import clp_encode
    from fluent_bit_clp_spark.operators.search import search_with_context

    rows = [
        ("a", 0, "boot ok"),
        ("a", 1, "job 42 failed"),   # hit
        ("a", 2, "retrying"),
        ("a", 3, "idle"),
        ("a", 10, "job 42 failed"),  # hit — gap: 9..11 covers nothing else
        ("b", 1, "job 42 failed"),   # hit in another conv
        ("b", 2, "ctx row"),
        ("c", 5, "unrelated"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = search_with_context(
        clp_encode(df), "job 42 failed", n_before=1, n_after=1
    )
    got = sorted(
        (r.conv_id, r.turn_idx, r.is_match) for r in out.collect()
    )
    assert got == [
        ("a", 0, False), ("a", 1, True), ("a", 2, False),
        ("a", 10, True),
        ("b", 1, True), ("b", 2, False),
    ]
    # n=0: hits only
    only = search_with_context(
        clp_encode(df), "job 42 failed", n_before=0, n_after=0
    )
    assert sorted((r.conv_id, r.turn_idx) for r in only.collect()) == [
        ("a", 1), ("a", 10), ("b", 1)
    ]


@pytest.mark.parametrize("broadcast_hits", [True, False])
def test_search_with_context_matches_reference(spark, encoded, broadcast_hits):
    """Context retrieval over the transcripts corpus equals an
    independently computed reference (regex hits -> positional expansion
    in plain Python), for both join strategies."""
    from fluent_bit_clp_spark.operators.search import search_with_context

    q = "Retrying container-* after *s: connection reset by peer"
    nb, na = 2, 1
    out = search_with_context(
        encoded, q, n_before=nb, n_after=na, broadcast_hits=broadcast_hits
    )
    got = sorted((r.conv_id, r.turn_idx, r.is_match) for r in out.collect())

    import re as _re

    decoded = [
        (r.conv_id, r.turn_idx, r.text)
        for r in encoded.select("conv_id", "turn_idx", "text").collect()
    ]
    pat = _re.compile(
        "^" + ".*".join(_re.escape(p) for p in q.split("*")) + r"\Z"
    )
    hits = {(c, i) for c, i, t in decoded if t is not None and pat.match(t)}
    assert hits  # query exercises data
    want = sorted(
        (c, i, (c, i) in hits)
        for c, i, _ in decoded
        if any(
            (c, j) in hits for j in range(i - na, i + nb + 1)
        )
    )
    assert got == want


def test_multi_query_single_scan_plan(spark, tmp_path):
    """Scale pin: search_encoded_multi reads the encoded fact table
    EXACTLY ONCE however many queries run (the whole point vs N
    single-query scans)."""
    import re as _re

    from fluent_bit_clp_spark.functions.clp_native import clp_encode
    from fluent_bit_clp_spark.operators.search import search_encoded_multi

    rows = [(i, f"job {i} done fast") for i in range(100)]
    p = str(tmp_path / "enc_multi")
    clp_encode(
        spark.createDataFrame(rows, "id int, text string")
    ).write.parquet(p)
    enc = spark.read.parquet(p)
    out = search_encoded_multi(
        enc,
        {"a": "job 1 *", "b": "job 2 *", "c": "job * done fast"},
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = len(_re.findall(r"Scan parquet", plan))
    assert scans == 1, plan[:1500]


def test_context_search_probe_plan(spark, tmp_path):
    """Scale pin: the context probe joins the fact table against the
    BROADCAST hit spans (no fact-side exchange); broadcast_hits=False
    may shuffle — results already pinned equal elsewhere."""
    from fluent_bit_clp_spark.functions.clp_native import clp_encode
    from fluent_bit_clp_spark.operators.search import search_with_context

    rows = [("c", i, f"job {i} done") for i in range(50)]
    p = str(tmp_path / "enc_ctx")
    clp_encode(
        spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    ).write.parquet(p)
    enc = spark.read.parquet(p)
    out = search_with_context(enc, "job 7 done", key_cols=("conv_id",))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    # the semi probe must not hash-exchange the fact side
    assert "Exchange hashpartitioning" not in plan.split("LeftSemi")[0], (
        plan[:1500]
    )


def test_archive_search_reconstructs_once(spark, tmp_path, encoded):
    """Plan pin: a single-query stored-archive search evaluates
    from_archive's reconstruction once.  Prune and decode-verify in one
    fused Filter let Catalyst inline the reconstruction into every
    predicate that reads it (3 ``array_sort`` and 9
    ``regexp_extract_all``); the dashboard shape filters on the prune,
    then decodes and tags in a Project over the same rows."""
    from fluent_bit_clp_spark.operators.archive import to_archive
    from fluent_bit_clp_spark.operators.search import (
        archive_logtype_dictionary,
        search_stored_archive,
    )

    p = str(tmp_path / "arch_once")
    to_archive(encoded).write.parquet(p)
    arch = spark.read.parquet(p)
    query = "Task * started by user * at attempt *"
    hits = search_stored_archive(
        arch, query, archive_logtype_dictionary(arch), var_dictionary=True
    )
    assert "query_name" not in hits.columns
    assert hits.count() == _naive(encoded, query).count() > 0
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert plan.count("array_sort") == 1, plan[:3000]
    assert plan.count("regexp_extract_all") == 1, plan[:3000]


# --- property-based differential (hypothesis) -------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_words = st.sampled_from(
    ["job", "retry", "Err", "node-7", "10.0.0.2", "x9y", "42", "3.14",
     "done", "/var/log", "a_b", "NaN-ish", "u+1"]
)
_texts = st.lists(_words, min_size=1, max_size=6).map(" ".join)


@st.composite
def _corpus_and_query(draw):
    texts = draw(st.lists(_texts, min_size=3, max_size=12))
    base = draw(st.sampled_from(texts))
    # carve a query out of a real line: replace a random slice with '*'
    # or a random char with '?', possibly at the ends
    mode = draw(st.sampled_from(["star", "qmark", "exact", "both"]))
    if mode == "exact":
        return texts, base
    i = draw(st.integers(0, max(len(base) - 1, 0)))
    j = draw(st.integers(i, len(base)))
    if mode == "star":
        return texts, base[:i] + "*" + base[j:]
    if mode == "qmark" and base:
        return texts, base[:i] + "?" + base[i + 1:] if i < len(base) else base
    return texts, base[:i] + "*" + base[i:j].replace("o", "?") + base[j:]


@settings(max_examples=25, deadline=None)
@given(_corpus_and_query(), st.booleans())
def test_property_search_equals_naive(spark, cq, fold):
    """Any wildcard query carved from a real line returns exactly the
    naive-regex rows, through the full prune stack (logtype dictionary +
    variable predicates + fragment enumeration + decode-verify);
    ``fold`` swaps the query's case and runs the ignore_case path."""
    from fluent_bit_clp_spark.functions.clp_native import (
        clp_encode,
        logtype_dictionary,
        var_dictionary,
    )
    from fluent_bit_clp_spark.operators.search import exact_text_pattern

    texts, query = cq
    if fold:
        query = query.swapcase()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, text string"
    )
    enc = clp_encode(df)
    got = sorted(
        r.id
        for r in search_encoded(
            enc,
            query,
            dictionary=logtype_dictionary(enc),
            var_dictionary=var_dictionary(enc),
            ignore_case=fold,
        ).collect()
    )
    want = sorted(
        r.id
        for r in df.where(
            F.col("text").rlike(exact_text_pattern(query, ignore_case=fold))
        ).collect()
    )
    assert got == want
    assert len(want) >= 1  # the carved query matches its source line


def test_wildcard_splits_variable_token(spark):
    """Regression (hypothesis-found, r6): a query whose '*'/'?' splits a
    single data VARIABLE token ('n*ode-7' vs token 'node-7') must still
    match — the part-edge placeholder is optional in the relaxed prune,
    since one data placeholder can serve both sides of the wildcard."""
    from fluent_bit_clp_spark.functions.clp_native import (
        clp_encode,
        logtype_dictionary,
        var_dictionary,
    )

    rows = [
        (0, "job"), (1, "node-7"), (2, "job"),
        (3, "7xyz"), (4, "foo n8ode-7 bar"), (5, "n8ode-7 bar"),
        (6, "x9y"), (7, "a9b"), (8, "a9 zz 8b"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    enc = clp_encode(df)
    d, vd = logtype_dictionary(enc), var_dictionary(enc)
    for q, want in [
        ("n*ode-7", [1]),      # leading literal + variable tail, one token
        ("7x*yz", [3]),        # variable head + literal tail, one token
        ("n?de-7", [1]),       # '?' widens through the same compile
        ("foo n*ode-7 bar", [4]),
        ("n*ode-7 bar", [5]),
        ("x?y", [6]),          # both-side fragments, one merged token
        ("a*9*b", [7, 8]),     # multi-gap collapse through a variable
    ]:
        got = sorted(
            r.id
            for r in search_encoded(
                enc, q, dictionary=d, var_dictionary=vd
            ).collect()
        )
        assert got == want, (q, got, want)


@settings(max_examples=12, deadline=None)
@given(_corpus_and_query(), st.booleans())
def test_property_stored_archive_search_equals_naive(spark, cq, fold):
    """The stored-archive path (untyped-template pattern match →
    stored-template isin → reconstruction → the full search stack) obeys
    the same differential as the working layout, including the
    merged-token shapes and ignore_case."""
    from fluent_bit_clp_spark.functions.clp_native import clp_encode
    from fluent_bit_clp_spark.operators.archive import to_archive
    from fluent_bit_clp_spark.operators.search import (
        archive_logtype_dictionary,
        exact_text_pattern,
        search_stored_archive,
    )

    texts, query = cq
    if fold:
        query = query.swapcase()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, text string"
    )
    arch = to_archive(clp_encode(df))
    got = sorted(
        r.id
        for r in search_stored_archive(
            arch, query, archive_logtype_dictionary(arch), ignore_case=fold
        ).collect()
    )
    want = sorted(
        r.id
        for r in df.where(
            F.col("text").rlike(exact_text_pattern(query, ignore_case=fold))
        ).collect()
    )
    assert got == want and len(want) >= 1


# --- template prune: over-cap fallback and zero matches (both layouts) ------

_MULTI_TEMPLATE_QUERY = "Retrying container-* after *s: *"


def _layout_inputs(encoded, layout):
    """(table, dictionary, search, search_multi) for one layout."""
    from fluent_bit_clp_spark.operators.archive import to_archive
    from fluent_bit_clp_spark.operators.search import (
        archive_logtype_dictionary,
        search_encoded_multi,
        search_stored_archive,
        search_stored_archive_multi,
    )

    if layout == "working":
        return (encoded, logtype_dictionary(encoded), search_encoded,
                search_encoded_multi)
    arch = to_archive(encoded)
    return (arch, archive_logtype_dictionary(arch), search_stored_archive,
            search_stored_archive_multi)


@pytest.mark.parametrize("layout", ["working", "archive"])
def test_template_prune_over_cap_equals_capped(spark, encoded, layout):
    """Above ``max_templates`` the prune falls back to the relaxed logtype
    pattern; the rows are the same as with the template ``isin``."""
    tbl, d, search, search_multi = _layout_inputs(encoded, layout)
    q = _MULTI_TEMPLATE_QUERY
    assert d.where(F.col("logtype").rlike(compile_relaxed_pattern(q))).count() > 1

    def keys(df, *extra):
        return sorted(map(tuple, df.select(*extra, "conv_id", "turn_idx").collect()))

    capped = keys(search(tbl, q, d))
    assert capped == keys(_naive(encoded, q))
    assert keys(search(tbl, q, d, max_templates=1)) == capped
    qs = {"retry": q, "tasks": "Task * started by user * at attempt *"}
    multi = keys(search_multi(tbl, qs, d), "query_name")
    assert multi == keys(search_multi(tbl, qs, d, max_templates=1), "query_name")
    assert {m[0] for m in multi} == set(qs)


@pytest.mark.parametrize("layout", ["working", "archive"])
def test_template_prune_zero_matches_scans_nothing(
    spark, tmp_path, encoded, layout
):
    """Zero template matches: empty result, unchanged schema
    (``query_name`` included on the multi path), no scan in the plan."""
    tbl, d, search, search_multi = _layout_inputs(encoded, layout)
    path = str(tmp_path / layout)
    tbl.write.parquet(path)
    tbl = spark.read.parquet(path)
    q, none = "Task * started by user * at attempt *", "zz-nothing-zz"
    for run, hit, miss in (
        (search, q, none),
        (search_multi, {"a": q}, {"a": none}),
    ):
        out = run(tbl, miss, d)
        assert out.schema == run(tbl, hit, d).schema
        assert out.collect() == []
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan, plan
    assert "query_name" in out.columns
