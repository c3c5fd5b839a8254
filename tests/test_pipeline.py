"""Pipeline-level tests: routing counts vs pandas oracle, level mapping,
chunking invariants, ordering under salting, resume idempotence
(SURVEY.md §5 list)."""

import os

import pytest
from pyspark.sql import functions as F

from fluent_bit_clp_spark.datagen import transcripts
from fluent_bit_clp_spark.functions.clp_native import clp_decode_column
from fluent_bit_clp_spark.functions.levels import (
    DEFAULT_LEVEL,
    LOG_LEVEL_ALIASES,
    with_level,
)
from fluent_bit_clp_spark.operators.chunk import (
    assign_chunks,
    assign_chunks_single_window,
    with_row_bytes,
)
from fluent_bit_clp_spark.operators.route import salted_repartition
from fluent_bit_clp_spark.plans.pipeline import encode_pipeline, run_to_sinks


@pytest.fixture(scope="module")
def tiny(spark):
    return transcripts(spark, 1000).cache()


@pytest.fixture(scope="module")
def encoded(spark, tiny):
    return encode_pipeline(tiny, spark).cache()


def test_row_count_preserved(tiny, encoded):
    assert encoded.count() == tiny.count()


def test_roundtrip_through_full_pipeline(encoded):
    bad = encoded.withColumn("dec", clp_decode_column()).where(
        ~((F.col("dec") == F.col("text")) | (F.col("dec").isNull() & F.col("text").isNull()))
    )
    assert bad.count() == 0


def test_routed_counts_match_pandas_oracle(tiny, encoded):
    """Per-sink routed-row counts vs an independent pandas computation."""
    pdf = tiny.select("role", "tool").toPandas()

    def sink(row):
        if row["role"] == "tool":
            tag = {
                "bash": "sh", "search": "web", "browser": "web",
                "editor": "fs", "scheduler": "cron",
            }.get(row["tool"], "unknown")
            return f"tools.{tag}"
        return {"user": "chat", "assistant": "chat", "system": "ops"}.get(
            row["role"], "ops"
        )

    expected = pdf.apply(sink, axis=1).value_counts().to_dict()
    got = {r["sink"]: r["count"] for r in encoded.groupBy("sink").count().collect()}
    assert got == expected


def test_level_mapping_aliases(spark):
    """Replicates logLevelMap aliases + default-to-info
    (out_clp_s3_v2.go:62-95, 353-375)."""
    rows = [(f"level={a} x 1",) for a in LOG_LEVEL_ALIASES] + [
        ("level=bogus y 2",),
        ("no level token 3",),
    ]
    df = spark.createDataFrame(rows, "text string")
    got = {r.text: r.level_id for r in with_level(df, spark).collect()}
    for a, expect in LOG_LEVEL_ALIASES.items():
        assert got[f"level={a} x 1"] == expect, a
    assert got["level=bogus y 2"] == DEFAULT_LEVEL
    assert got["no level token 3"] == DEFAULT_LEVEL


def test_level_case_variants_not_folded(spark):
    """'WARNING' and 'warning' both map to warn via distinct alias rows —
    but an unlisted case variant like 'Warning' defaults to info (the
    reference map is alias-exact, not lowercased)."""
    df = spark.createDataFrame([("level=Warning z 1",)], "text string")
    assert with_level(df, spark).collect()[0].level_id == DEFAULT_LEVEL


def test_ts_null_counts_as_encode_failure(spark, encoded):
    """Reference substitutes wall clock for bad timestamps
    (out_clp_s3_v2.go:291-294); we keep null + count it."""
    n = encoded.where(F.col("ts").isNull()).count()
    assert n >= 1  # the edge row
    assert encoded.where(F.col("ts").isNull()).select("ts_ms").collect()[0].ts_ms is None


def _chunk_frame(df):
    cols = ["sink", "conv_id", "turn_idx", "byte_start", "chunk_id", "ir_bin_id"]
    return (
        df.select(cols).toPandas()
        .sort_values(cols[:3]).reset_index(drop=True)
    )


def _one_conversation(spark, turns):
    """One hot key: a single conversation of ``turns`` user turns (one
    sink), text lengths varying so chunk and bin boundaries move."""
    return spark.range(turns).select(
        F.lit("hot").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        F.concat(
            F.lit("turn "), F.col("id").cast("string"), F.lit(" "),
            F.expr("repeat('x', cast(id % 97 as int))"),
        ).alias("text"),
    )


def test_chunk_hierarchical_equals_single_window(spark, tmp_path, tiny):
    """The scalable two-level chunk assignment is bit-identical to the
    reference single-window formulation — through the in-plan summary
    branch and through the materialized offsets of the production path —
    on the generated corpus and on one conversation spanning ≥ 50 blocks."""
    from fluent_bit_clp_spark.plans.pipeline import (
        narrow_route_plan,
        write_block_offsets,
    )

    hot = _one_conversation(spark, 400)
    for name, raw in (("generated", tiny), ("hot", hot)):
        base = narrow_route_plan(raw)
        offs = write_block_offsets(spark, raw, str(tmp_path / name), block_turns=7)
        if name == "hot":
            assert offs.select("sink").distinct().count() == 1
            assert offs.count() >= 50
        want = _chunk_frame(
            assign_chunks_single_window(base, chunk_bytes=4096, bin_bytes=1024)
        )
        for offsets in (None, offs):
            got = _chunk_frame(
                assign_chunks(base, chunk_bytes=4096, bin_bytes=1024,
                              block_turns=7, offsets=offsets)
            )
            assert got.equals(want), (name, offsets is not None)


def _jobs_started(spark, group, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, counted in a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_block_offsets_starts_at_most_three_jobs(spark, tmp_path, tiny):
    """The offsets phase is one write: the block-sum exchange, the
    per-sink window exchange and the write job — no staged sums table,
    no size probe, no schema inference on the read-back."""
    from fluent_bit_clp_spark.plans.pipeline import write_block_offsets

    src = str(tmp_path / "src")
    tiny.write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    n = _jobs_started(spark, "offsets-job-pin", lambda: write_block_offsets(
        spark, df, str(tmp_path / "offs"), block_turns=7
    ))
    assert n <= 3
    assert not os.path.exists(str(tmp_path / "offs_sums"))


@pytest.mark.parametrize("layout", ["working", "archive"])
def test_run_to_sinks_starts_at_most_thirteen_jobs(spark, tmp_path, tiny,
                                                   layout):
    """After the data write, phase 3 writes sink_metrics (whose read-back
    gives the manifest counts) and the layout's one template dictionary:
    no variable dictionary, no second template dictionary on archive
    runs, no count scan of the written table."""
    from fluent_bit_clp_spark.sources.tables import JobConfig

    src = str(tmp_path / "src")
    tiny.write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    n = _jobs_started(spark, f"run-to-sinks-pin-{layout}", lambda: run_to_sinks(
        spark, df, str(tmp_path / "out"), "run-j",
        cfg=JobConfig(sink_layout=layout), emit_ir_chunks=True,
    ))
    assert n <= 13, n


def _python_eval_schemas(df) -> list[str]:
    """Output schema of every Python eval node in ``df``'s optimized
    plan."""
    stack, out = [df._jdf.queryExecution().optimizedPlan()], []
    while stack:
        node = stack.pop()
        if "EvalPython" in node.nodeName():
            out.append(node.schema().simpleString())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_archive_encode_plan_has_no_to_archive_work(spark, tmp_path, tiny):
    """An archive-layout encode assembles the stored layout in its UDF:
    the write projection runs no higher-order function (``to_archive``'s
    zip_with/transform/filter) and no id hash, and the Python eval node
    returns no ``var_kinds``."""
    from fluent_bit_clp_spark.operators.archive import _DERIVED_COLS
    from fluent_bit_clp_spark.plans.pipeline import OUTPUT_COLS

    src = str(tmp_path / "src")
    tiny.write.mode("overwrite").parquet(src)
    enc = encode_pipeline(
        spark.read.parquet(src), spark, sink_layout="archive"
    ).select(*[c for c in OUTPUT_COLS if c not in _DERIVED_COLS])
    plan = enc._jdf.queryExecution().executedPlan().toString()
    for banned in ("lambdafunction", "zip_with", "var_kinds", "xxhash64"):
        assert banned not in plan, banned
    (schema,) = _python_eval_schemas(enc)
    assert schema.endswith(
        "pythonUDF0:struct<logtype:string,encoded_vars:array<bigint>,"
        "dict_vars:array<string>>>"
    ), schema


def test_chunk_monotone_and_bounded(encoded):
    """chunk_id monotone in (conv_id, turn_idx) per sink; every chunk's
    start-offset span ≤ chunk_bytes (16 MB default)."""
    from fluent_bit_clp_spark.operators.chunk import CHUNK_BYTES, chunk_stats

    stats = chunk_stats(encoded).collect()
    for r in stats:
        assert r.chunk_start // CHUNK_BYTES == r.chunk_id


def test_huge_turn_forces_bin_boundary(spark):
    """The >2 MiB edge turn must advance the IR bin id for its successor."""
    df = spark.createDataFrame(
        [("c", 0, "user", "x" * (3 << 20), None), ("c", 1, "user", "y 1", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.to_timestamp(F.lit("2026-01-01")))
    enc = encode_pipeline(df, spark)
    rows = {r.turn_idx: r.ir_bin_id for r in enc.select("turn_idx", "ir_bin_id").collect()}
    assert rows[0] == 0 and rows[1] >= 1


def test_order_restored_under_salting(spark, tiny):
    """(conv_id, turn_idx) ordering inside salted partitions (R4/M3)."""
    salted = salted_repartition(with_row_bytes(tiny), 16, split_turns=64)

    def check(it):
        prev = None
        for row in it:
            key = (row.conv_id, row.turn_idx)
            if prev is not None and prev[0] == key[0]:
                assert prev[1] < key[1]
            prev = key
        return iter([])

    salted.rdd.mapPartitions(lambda it: check(it)).count()


def test_datagen_deterministic_across_parallelism(spark):
    """Same table at 2 and 8 partitions (the N vs 4N invariance)."""
    a = transcripts(spark, 500, partitions=2, with_edge_rows=False)
    b = transcripts(spark, 500, partitions=8, with_edge_rows=False)
    pa = a.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pb = b.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert pa.equals(pb)


def test_resume_idempotent(spark, tmp_path, tiny):
    """Kill after partial commit → resume → identical final contents (T4)."""
    out1 = str(tmp_path / "full")
    out2 = str(tmp_path / "resumed")
    run_to_sinks(spark, tiny, out1, "run-a")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_to_sinks(spark, tiny, out2, "run-b", fail_after_sinks=2)
    res = run_to_sinks(spark, tiny, out2, "run-b")
    assert len(res["resumed_skipped"]) == 2
    a = spark.read.parquet(os.path.join(out1, "sinks", "*")).drop("sink")
    b = spark.read.parquet(os.path.join(out2, "sinks", "*")).drop("sink")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_sink_metrics_shape(spark, tmp_path, tiny):
    out = str(tmp_path / "m")
    run_to_sinks(spark, tiny, out, "run-m")
    m = spark.read.parquet(os.path.join(out, "sink_metrics"))
    cols = set(m.columns)
    assert {"run_id", "sink", "partition_id", "rows_parsed", "dict_hits",
            "encode_failures", "bytes_ir"} <= cols
    total = m.agg(F.sum("rows_parsed")).collect()[0][0]
    assert total == tiny.count()
    assert m.agg(F.sum("encode_failures")).collect()[0][0] >= 1


def test_materialized_offsets_single_scan_equivalence(spark, tmp_path, tiny):
    """The two-phase (materialized block-offsets) plan is bit-identical to
    the in-plan summary branch, and its main plan scans the input ONCE."""
    from fluent_bit_clp_spark.plans.pipeline import (
        encode_pipeline,
        write_block_offsets,
    )

    src = str(tmp_path / "src")
    tiny.write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    offs = write_block_offsets(spark, df, str(tmp_path / "offs"), block_turns=7)
    two_phase = encode_pipeline(df, spark, block_turns=7, offsets=offs)
    in_plan = encode_pipeline(df, spark, block_turns=7)
    cols = ["sink", "conv_id", "turn_idx", "byte_start", "chunk_id", "ir_bin_id"]
    a = two_phase.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    b = in_plan.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    assert a.equals(b)
    # single fact scan: the fact-table path appears in exactly one
    # FileScan (the other Scan parquet node is the tiny offsets table)
    plan = two_phase._jdf.queryExecution().executedPlan().toString()
    assert plan.count(os.path.basename(src)) == 1, plan


def test_config_threading_changes_chunks(spark, tmp_path, tiny):
    """ADVICE r1: upload_size_mb / block_turns must reach assign_chunks —
    a non-default upload size produces different chunk boundaries."""
    from fluent_bit_clp_spark.sources.tables import JobConfig

    cfg = JobConfig(
        input_path="x", output_dir="y", upload_size_mb=2,
        ir_bin_bytes=1024, block_turns=64,
    ).validate()
    out_small = str(tmp_path / "small")
    out_default = str(tmp_path / "default")
    run_to_sinks(spark, tiny, out_small, "run-cfg", cfg=cfg)
    run_to_sinks(spark, tiny, out_default, "run-cfg")
    n_small = (
        spark.read.parquet(os.path.join(out_small, "sinks"))
        .select("sink", "ir_bin_id").distinct().count()
    )
    n_default = (
        spark.read.parquet(os.path.join(out_default, "sinks"))
        .select("sink", "ir_bin_id").distinct().count()
    )
    # 1 KiB bins over >100 KB of text must split where 2 MiB does not
    assert n_small > n_default


def test_observe_ingest_counters(spark, tmp_path, tiny):
    """A1 analogue: observe() counters match independent aggregates."""
    res = run_to_sinks(spark, tiny, str(tmp_path / "obs"), "run-obs")
    ing = res["ingest"]
    assert ing["num_events"] == tiny.count()
    want_bytes = tiny.agg(
        F.sum(F.coalesce(F.octet_length("text"), F.lit(0)))
    ).collect()[0][0]
    assert ing["num_bytes"] == want_bytes
    assert ing["encode_failures"] >= 1


def test_resume_replays_ingest_counters(spark, tmp_path, tiny):
    """A resumed run returns the SAME ingest counters as the original
    (persisted with the data-commit marker — review fix)."""
    out = str(tmp_path / "ing")
    first = run_to_sinks(spark, tiny, out, "run-i")
    again = run_to_sinks(spark, tiny, out, "run-i")
    assert dict(first["ingest"]) == dict(again["ingest"])
    assert again["ingest"]["num_events"] == tiny.count()


def test_offsets_block_turns_mismatch_rejected(spark, tmp_path, tiny):
    """Passing offsets built at a different block granularity must raise,
    not silently drop rows in the inner join (review fix)."""
    from fluent_bit_clp_spark.plans.pipeline import (
        encode_pipeline,
        write_block_offsets,
    )

    src = str(tmp_path / "src2")
    tiny.write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    offs = write_block_offsets(spark, df, str(tmp_path / "o2"), block_turns=64)
    with pytest.raises(ValueError, match="block_turns=64"):
        encode_pipeline(df, spark, block_turns=8192, offsets=offs)


def test_output_store_probe(spark, tmp_path, tiny):
    """K3 (round 3): the HeadBucket-analogue store probe fails with typed
    errors BEFORE any compute — unreachable scheme and unwritable
    directory — and a healthy store passes without leaving the marker."""

    from fluent_bit_clp_spark.sources.tables import (
        StoreNotReachable,
        StoreNotWritable,
        validate_output_store,
    )

    ok = tmp_path / "ok"
    ok.mkdir()
    validate_output_store(spark, str(ok))
    assert not (ok / "_store_probe").exists()  # probe cleaned up

    with pytest.raises(StoreNotReachable):
        validate_output_store(spark, "nosuchscheme://bucket/prefix")

    # a regular FILE where a directory is needed (chmod-based read-only
    # cases don't apply — tests run as root)
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    with pytest.raises(StoreNotWritable):
        validate_output_store(spark, str(blocker / "sub"))
    # run_to_sinks runs the probe before any compute
    with pytest.raises(StoreNotReachable):
        run_to_sinks(spark, tiny, "nosuchscheme://bucket/x", "run-probe")


def test_emit_ir_chunks_from_committed_output(spark, tmp_path, tiny):
    """run_to_sinks(emit_ir_chunks=True) materializes the reference's
    actual output objects (per-chunk compressed IR streams) from the
    committed columnar sinks, with JobConfig.timezone in every preamble
    and every committed event present."""
    from fluent_bit_clp_spark.operators.irstream import (
        read_ir_chunk,
        read_ir_header,
    )
    from fluent_bit_clp_spark.sources.tables import JobConfig

    out = str(tmp_path / "irout")
    cfg = JobConfig(input_path="x", output_dir="y", timezone="Europe/Berlin")
    run_to_sinks(spark, tiny, out, "run-ir", cfg=cfg, emit_ir_chunks=True)
    chunks = spark.read.parquet(os.path.join(out, "ir_chunks")).collect()
    assert chunks
    n_events = 0
    for c in chunks:
        assert read_ir_header(bytes(c.ir_zstd))["timezone"] == "Europe/Berlin"
        n_events += len(read_ir_chunk(bytes(c.ir_zstd)))
    assert n_events == tiny.count()


def test_stale_offsets_fail_loudly(spark, tmp_path, tiny):
    """ADVICE r2 (medium): an offsets table built from a DIFFERENT input
    snapshot (here: missing a conversation) must raise at execution, not
    silently inner-join-drop the uncovered fact rows from the sink."""
    from fluent_bit_clp_spark.plans.pipeline import (
        encode_pipeline,
        write_block_offsets,
    )

    src = str(tmp_path / "src3")
    tiny.write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    some_conv = df.select("conv_id").first()[0]
    stale = write_block_offsets(
        spark,
        df.where(F.col("conv_id") != some_conv),
        str(tmp_path / "o3"),
        block_turns=7,
    )
    out = encode_pipeline(df, spark, block_turns=7, offsets=stale)
    with pytest.raises(Exception, match="not covered"):
        out.select("byte_start").collect()


def test_null_key_rows_survive_offsets_join(spark, tmp_path):
    """Review fix r3: a malformed row with NULL conv_id/turn_idx must flow
    through assign_chunks (null-safe join keys) in BOTH the in-plan and
    materialized-offsets paths — not trip the stale-offsets error."""
    from fluent_bit_clp_spark.plans.pipeline import (
        encode_pipeline,
        write_block_offsets,
    )

    df = transcripts(spark, 200, with_edge_rows=False)
    nulls = spark.createDataFrame(
        [(None, None, "user", "null-key row 1", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.to_timestamp(F.lit("2026-01-01")))
    src = str(tmp_path / "srcnull")
    df.unionByName(nulls.select(*df.columns)).write.parquet(src)
    full = spark.read.parquet(src)
    # in-plan path
    assert encode_pipeline(full, spark).count() == 201
    # materialized-offsets (production) path
    offs = write_block_offsets(spark, full, str(tmp_path / "onull"))
    enc = encode_pipeline(full, spark, offsets=offs)
    assert enc.count() == 201
    assert enc.where(F.col("conv_id").isNull()).select(
        "byte_start"
    ).first()[0] is not None


@pytest.mark.parametrize("layout", ["working", "archive"])
def test_empty_input_commits_zero_counters(spark, tmp_path, tiny, layout):
    """A zero-row input commits: the ingest counters are 0 (a sum over no
    rows is null), no sink is written, a search finds nothing, and the
    offsets table reads back empty with its stamped schema."""
    from fluent_bit_clp_spark.plans.pipeline import (
        search_run,
        write_block_offsets,
    )
    from fluent_bit_clp_spark.sources.tables import JobConfig

    empty = spark.createDataFrame([], tiny.schema)
    out = str(tmp_path / "empty")
    res = run_to_sinks(spark, empty, out, "run-0", emit_ir_chunks=True,
                       cfg=JobConfig(sink_layout=layout))
    ing = res["ingest"]
    assert (ing["num_events"], ing["num_bytes"], ing["encode_failures"]) == (0, 0, 0)
    assert res["sinks"] == []
    assert search_run(spark, out, "Task * started*", "run-0").count() == 0
    offs = write_block_offsets(spark, empty, str(tmp_path / "offs"), block_turns=7)
    assert offs.count() == 0
    stamped = {f.name: f.metadata for f in offs.schema.fields}
    assert list(stamped) == ["sink", "conv_id", "_block", "_block_start"]
    assert stamped["_block_start"] == {"block_turns": 7}


def test_run_to_sinks_4byte_mode(spark, tmp_path, tiny):
    """encoding_mode='4byte' flows cfg→pipeline→sink: encoded values fit
    four bytes and the written output decodes back to the input text."""
    from fluent_bit_clp_spark.functions.clp_native import clp_decode
    from fluent_bit_clp_spark.sources.tables import JobConfig

    cfg = JobConfig(
        input_path="x", output_dir="y", encoding_mode="4byte"
    ).validate()
    out = str(tmp_path / "fb")
    run_to_sinks(spark, tiny, out, "run-4b", cfg=cfg)
    back = spark.read.parquet(os.path.join(out, "sinks"))
    # every encoded value fits in 4 bytes (u32 for floats, i32 for ints)
    mx = back.select(
        F.max(F.expr(
            "aggregate(zip_with(var_kinds, encoded_vars, (k, v) -> "
            "case when k = 0 then abs(v) when k = 1 then v else 0L end), "
            "0L, (a, b) -> greatest(a, b))"
        )).alias("m")
    ).collect()[0]["m"]
    assert mx < (1 << 32)
    dec = clp_decode(back, "t", mode="4byte")
    inp = tiny.select("conv_id", "turn_idx", F.col("text").alias("orig"))
    j = dec.join(inp, ["conv_id", "turn_idx"])
    bad = j.where(
        ~((F.col("t") == F.col("orig"))
          | (F.col("t").isNull() & F.col("orig").isNull()))
    ).count()
    assert bad == 0


def test_resume_rejects_changed_encoding(spark, tmp_path, tiny):
    """Resuming a committed run with a different encoding_mode must raise
    (stale encoding = undecodable bytes), not silently serve old data."""
    from fluent_bit_clp_spark.sources.tables import JobConfig

    out = str(tmp_path / "enc")
    run_to_sinks(spark, tiny, out, "run-e")
    cfg4 = JobConfig(
        input_path="x", output_dir="y", encoding_mode="4byte"
    ).validate()
    with pytest.raises(ValueError, match="encoding_mode"):
        run_to_sinks(spark, tiny, out, "run-e", cfg=cfg4)


def test_archive_sink_layout_end_to_end(spark, tmp_path, tiny):
    """sink_layout='archive' (JobConfig → run_to_sinks): the committed
    sink table is the columnar archive layout, consumers reconstruct and
    decode byte-equal to the input, and the dictionaries/metrics written
    alongside match the working-layout run's exactly."""
    from fluent_bit_clp_spark.plans.pipeline import load_sinks
    from fluent_bit_clp_spark.sources.tables import JobConfig

    out_w = str(tmp_path / "working")
    out_a = str(tmp_path / "arch")
    cfg = JobConfig(
        input_path="x", output_dir=out_a, sink_layout="archive"
    ).validate()
    run_to_sinks(spark, tiny, out_w, "run-l")
    run_to_sinks(spark, tiny, out_a, "run-l", cfg=cfg)

    arch = spark.read.parquet(os.path.join(out_a, "sinks"))
    assert {"var_kinds", "dict_var_ids", "logtype_id"}.isdisjoint(arch.columns)

    # consumer contract: the layout-detecting reader reconstructs, and
    # decode == input text per turn
    dec = (
        load_sinks(spark, out_a, "run-l")
        .withColumn("decoded", clp_decode_column())
        .select("conv_id", "turn_idx", "decoded")
    )
    bad = (
        tiny.select("conv_id", "turn_idx", "text")
        .join(dec, ["conv_id", "turn_idx"])
        .where(
            ~(F.col("text").eqNullSafe(F.col("decoded")))
        )
        .count()
    )
    assert bad == 0

    # sidecar artifacts are layout-independent: the archive run's one
    # template dictionary (one row per kind-typed stored template)
    # projects onto the working run's logtype_dict; neither holds the
    # null template of the encode-failed edge rows, which is unsearchable
    from fluent_bit_clp_spark.plans.pipeline import ARCHIVE_DICT_DIR

    w = spark.read.parquet(os.path.join(out_w, "logtype_dict"))
    a = spark.read.parquet(os.path.join(out_a, ARCHIVE_DICT_DIR))
    assert {tuple(r) for r in a.select("logtype_id", "logtype").collect()} == {
        tuple(r) for r in w.select("logtype_id", "logtype").collect()
    }
    ma = spark.read.parquet(os.path.join(out_a, "sink_metrics"))
    mw = spark.read.parquet(os.path.join(out_w, "sink_metrics"))
    assert sorted(map(tuple, ma.drop("run_id").collect())) == sorted(
        map(tuple, mw.drop("run_id").collect())
    )

    # VERDICT r5 #4: the stored-template dictionary is persisted beside
    # the sinks at write time; a search session reads it instead of
    # re-running a distinct pass over the archive, and it covers the
    # archive by construction (verify_coverage proves it)
    from fluent_bit_clp_spark.operators.search import search_stored_archive
    from fluent_bit_clp_spark.plans.pipeline import load_archive_dictionary

    adict = load_archive_dictionary(spark, out_a, "run-l")
    assert set(adict.columns) == {"logtype_stored", "logtype", "logtype_id"}
    hits = search_stored_archive(
        arch, "Task * started by user * at attempt *", adict,
        verify_coverage=True,
    )
    naive = tiny.where(
        F.col("text").rlike("^Task .* started by user .* at attempt .*")
    )
    assert hits.count() == naive.count() > 0
    with pytest.raises(ValueError, match="archive-layout"):
        load_archive_dictionary(spark, out_w, "run-l")

    # resume under a different layout must refuse (same contract as
    # encoding_mode: committed schema != what consumers would expect)
    with pytest.raises(ValueError, match="sink_layout"):
        run_to_sinks(spark, tiny, out_a, "run-l")
    # resume under the SAME layout replays counters without rewriting,
    # and the dictionary extend is idempotent (nothing new to append)
    before = sorted(map(tuple, adict.collect()))
    res = run_to_sinks(spark, tiny, out_a, "run-l", cfg=cfg)
    assert sorted(res["resumed_skipped"]) == sorted(res["sinks"])
    after = sorted(
        map(tuple, load_archive_dictionary(spark, out_a, "run-l").collect())
    )
    assert after == before


@pytest.mark.parametrize("layout", ["working", "archive"])
def test_search_run_one_call(spark, tmp_path, layout):
    """search_run (r6): the clg-over-a-committed-run UX — layout from the
    marker, PERSISTED dictionaries (no per-session recompute), equal to
    the naive regex over the input texts; dict query → multi path with
    query_name; time_range bounds results."""
    import re

    from fluent_bit_clp_spark.plans.pipeline import run_to_sinks, search_run
    from fluent_bit_clp_spark.sources.tables import JobConfig

    df = transcripts(spark, 300, with_edge_rows=False)
    root = str(tmp_path / f"srun_{layout}")
    run_to_sinks(spark, df, root, "run-s", cfg=JobConfig(sink_layout=layout))

    q = "Task * started by user * at attempt *"
    pat = "^" + ".*".join(re.escape(p) for p in q.split("*")) + "$"
    want = sorted(
        (r.conv_id, r.turn_idx)
        for r in df.where(F.col("text").rlike(pat))
        .select("conv_id", "turn_idx")
        .collect()
    )
    assert want
    got = sorted(
        (r.conv_id, r.turn_idx)
        for r in search_run(spark, root, q, "run-s")
        .select("conv_id", "turn_idx")
        .collect()
    )
    assert got == want
    # multi-query path carries query_name
    multi = search_run(
        spark, root, {"tasks": q, "none": "zz-nothing-zz"}, "run-s"
    )
    got_m = sorted(
        (r.conv_id, r.turn_idx)
        for r in multi.where(F.col("query_name") == "tasks")
        .select("conv_id", "turn_idx")
        .collect()
    )
    assert got_m == want
    assert multi.where(F.col("query_name") == "none").count() == 0
    # time_range bounds the same search
    ts = sorted(
        r.ts for r in df.where(F.col("text").rlike(pat))
        .select(F.unix_millis("ts").alias("ts")).collect()
    )
    lo, hi = ts[0], ts[len(ts) // 2]
    bounded = search_run(spark, root, q, "run-s", time_range=(lo, hi))
    want_b = [
        (r.conv_id, r.turn_idx)
        for r in df.where(
            F.col("text").rlike(pat)
            & F.unix_millis("ts").between(F.lit(lo), F.lit(hi))
        ).select("conv_id", "turn_idx").collect()
    ]
    assert sorted(
        (r.conv_id, r.turn_idx)
        for r in bounded.select("conv_id", "turn_idx").collect()
    ) == sorted(want_b)


@pytest.mark.parametrize("layout", ["working", "archive"])
def test_search_logs_job(spark, tmp_path, layout):
    """jobs/search_logs.py — the clg deployment surface: rows with
    decoded text, multi-query with names, count-by-time, and context
    modes over a committed run of either layout."""
    import re
    import sys as _sys

    _sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "jobs",
        ),
    )
    from search_logs import search

    from fluent_bit_clp_spark.plans.pipeline import run_to_sinks
    from fluent_bit_clp_spark.sources.tables import JobConfig

    df = transcripts(spark, 300, with_edge_rows=False)
    root = str(tmp_path / f"sj_{layout}")
    run_to_sinks(spark, df, root, "run-j", cfg=JobConfig(sink_layout=layout))

    q = "Task * started by user * at attempt *"
    pat = "^" + ".*".join(re.escape(p) for p in q.split("*")) + "$"
    want = sorted(
        r.text for r in df.where(F.col("text").rlike(pat)).collect()
    )
    assert want

    out1 = str(tmp_path / f"hits_{layout}")
    s1 = search(spark, root, out1, "run-j", queries={"q1": q})
    assert s1["mode"] == "rows" and s1["rows_written"] == len(want)
    got = sorted(
        r.text
        for r in spark.read.parquet(os.path.join(out1, "hits")).collect()
    )
    assert got == want  # decoded text round-trips byte-exactly

    # multi-query: names attributed
    out2 = str(tmp_path / f"hits_m_{layout}")
    s2 = search(
        spark, root, out2, "run-j",
        queries={"tasks": q, "none": "zz-nothing-zz"},
    )
    m = spark.read.parquet(os.path.join(out2, "hits"))
    assert s2["rows_written"] == len(want)
    assert m.where(F.col("query_name") == "tasks").count() == len(want)

    # count-by-time: bucket totals equal the row count
    out3 = str(tmp_path / f"cnt_{layout}")
    s3 = search(
        spark, root, out3, "run-j", queries={"q1": q},
        count_by_time=86_400_000,
    )
    assert s3["matches"] == len(want)

    # context: every hit present and flagged
    out4 = str(tmp_path / f"ctx_{layout}")
    s4 = search(
        spark, root, out4, "run-j", queries={"q1": q}, context=(1, 1)
    )
    c = spark.read.parquet(os.path.join(out4, "hits"))
    assert c.where(F.col("is_match")).count() == len(want)
    assert s4["rows_written"] >= len(want)


def test_search_logs_profile_mode(spark, tmp_path):
    """--profile: whole-run template summary, and the query-filtered
    variant profiles only the matching rows (multi dedups the union)."""
    import sys as _sys

    _sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "jobs",
        ),
    )
    from search_logs import search

    from fluent_bit_clp_spark.plans.pipeline import run_to_sinks

    df = transcripts(spark, 300, with_edge_rows=False)
    root = str(tmp_path / "sp")
    run_to_sinks(spark, df, root, "run-p")

    out1 = str(tmp_path / "prof_all")
    s1 = search(spark, root, out1, "run-p", queries=None, profile=True)
    p = spark.read.parquet(os.path.join(out1, "profile"))
    assert s1["templates"] == p.count() > 1
    assert p.agg(F.sum("n_rows")).collect()[0][0] == df.where(
        F.col("text").isNotNull()
    ).count()

    q = "Task * started by user * at attempt *"
    out2 = str(tmp_path / "prof_q")
    s2 = search(spark, root, out2, "run-p", queries={"a": q, "b": q},
                profile=True)
    p2 = spark.read.parquet(os.path.join(out2, "profile"))
    assert s2["templates"] == 1  # one template matches this query shape
    import re

    pat = "^" + ".*".join(re.escape(x) for x in q.split("*")) + "$"
    n_match = df.where(F.col("text").rlike(pat)).count()
    # identical duplicate queries: union dedups, rows counted once
    assert p2.agg(F.sum("n_rows")).collect()[0][0] == n_match


def test_search_over_compacted_archive_root(spark, tmp_path):
    """A root clustered the way jobs/compact_sinks.py does it (the
    clustered sinks plus ``copy_sidecars``, which copies only
    ``archive_logtype_dict`` and ``_lineage``) searches like its source:
    ``search_run`` and ``search_logs --context`` read no other dictionary,
    and their hits equal the naive regex over the input text."""
    import re
    import sys as _sys

    _sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "jobs",
        ),
    )
    from compact_sinks import copy_sidecars
    from search_logs import search

    from fluent_bit_clp_spark.operators.archive import compact_archive
    from fluent_bit_clp_spark.plans.pipeline import search_run
    from fluent_bit_clp_spark.sources.tables import JobConfig

    df = transcripts(spark, 300, with_edge_rows=False)
    src, dst = str(tmp_path / "src"), str(tmp_path / "compacted")
    run_to_sinks(spark, df, src, "run-k", cfg=JobConfig(sink_layout="archive"))
    compact_archive(
        spark.read.parquet(os.path.join(src, "sinks"))
    ).write.mode("error").partitionBy("sink").parquet(
        os.path.join(dst, "sinks")
    )
    copy_sidecars(src, dst)

    q = "Task * started by user * at attempt *"
    pat = "^" + ".*".join(re.escape(p) for p in q.split("*")) + "$"
    keys = ("conv_id", "turn_idx")
    want = sorted(
        tuple(r) for r in df.where(F.col("text").rlike(pat))
        .select(*keys).collect()
    )
    assert want
    got = search_run(spark, dst, q, "run-k").select(*keys).collect()
    assert sorted(tuple(r) for r in got) == want

    out = str(tmp_path / "ctx")
    summary = search(spark, dst, out, "run-k", queries={"q": q},
                     context=(1, 1))
    ctx = spark.read.parquet(os.path.join(out, "hits"))
    hits = ctx.where(F.col("is_match")).select(*keys).collect()
    assert sorted(tuple(r) for r in hits) == want
    assert summary["rows_written"] == ctx.count() > len(want)


# --- committed-run search: fixed schemas, template prune, degenerate runs --

_DASHBOARD = {
    "tasks": "Task * started by user * at attempt *",
    "conn": "Retrying container-* after *s: connection reset by peer",
    "api": "GET /api/v2/users/* took * ms",
}


@pytest.fixture(scope="module")
def committed(spark, tmp_path_factory):
    """One small committed run (edge rows included) per layout and mode."""
    from fluent_bit_clp_spark.sources.tables import JobConfig

    df = transcripts(spark, 300)
    base = tmp_path_factory.mktemp("committed")
    roots = {}
    for layout in ("working", "archive"):
        for mode in ("i64", "4byte"):
            root = str(base / f"{layout}_{mode}")
            cfg = JobConfig(sink_layout=layout, encoding_mode=mode)
            run_to_sinks(spark, df, root, "run-c", cfg=cfg)
            roots[layout, mode] = root
    return df, roots


@pytest.mark.parametrize("mode", ["i64", "4byte"])
@pytest.mark.parametrize("layout", ["working", "archive"])
def test_committed_schemas_equal_constants(spark, committed, layout, mode):
    """Schema-drift guard: every committed table's inferred schema is the
    constant search_run and the read-backs use instead of inferring; each
    layout writes one template dictionary and no variable dictionary."""
    from fluent_bit_clp_spark.plans.pipeline import (
        ARCHIVE_DICT_DIR,
        DICT_SCHEMAS,
        SINKS_SCHEMAS,
    )

    root = committed[1][layout, mode]
    assert "var_dict" not in DICT_SCHEMAS
    assert not os.path.exists(os.path.join(root, "var_dict"))
    tables = {"sinks": SINKS_SCHEMAS[layout], **DICT_SCHEMAS}
    absent = ARCHIVE_DICT_DIR if layout == "working" else "logtype_dict"
    assert not os.path.exists(os.path.join(root, absent))
    del tables[absent]
    for name, ddl in tables.items():
        path = os.path.join(root, name)
        inferred = spark.read.parquet(path).schema
        assert inferred == spark.read.schema(ddl).parquet(path).schema, name


def _prune_precedes_decode(plan: str) -> bool:
    """The fused Filter tests the template ids before any decode."""
    filt = next(
        ln for ln in plan.splitlines() if "Filter" in ln and "logtype_id" in ln
    )
    decode = filt.find("zip_with(")
    return decode == -1 or filt.index("logtype_id") < decode


@pytest.mark.parametrize(
    "query", ["Retrying container-* after *s: *", _DASHBOARD]
)
def test_search_run_working_plan_has_no_join(spark, committed, query):
    """Plan-shape pin: the working-layout template prune is an ``isin`` on
    logtype_id pushed into the scan, ahead of the decode — no join.  Both
    queries match several templates (one would plan as ``EqualTo``)."""
    import re

    from fluent_bit_clp_spark.plans.pipeline import search_run

    out = search_run(spark, committed[1]["working", "i64"], query, "run-c")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]
    pushed = re.search(r"PushedFilters: \[[^\n]*", plan).group(0)
    assert "In(logtype_id, [" in pushed, pushed[:500]
    assert _prune_precedes_decode(plan), plan[:2000]


@pytest.mark.parametrize("mode", ["i64", "4byte"])
@pytest.mark.parametrize("layout", ["working", "archive"])
def test_search_run_equals_raw_text_match(spark, committed, layout, mode):
    """Single and dashboard queries return exactly the input rows whose raw
    text matches ``exact_text_pattern``."""
    from fluent_bit_clp_spark.operators.search import exact_text_pattern
    from fluent_bit_clp_spark.plans.pipeline import search_run

    df, roots = committed
    keys = ("conv_id", "turn_idx")

    def raw(q):
        hits = df.where(F.col("text").rlike(exact_text_pattern(q)))
        return sorted(tuple(r) for r in hits.select(*keys).collect())

    want = {name: raw(q) for name, q in _DASHBOARD.items()}
    for name, q in _DASHBOARD.items():
        got = search_run(spark, roots[layout, mode], q, "run-c")
        assert sorted(tuple(r) for r in got.select(*keys).collect()) == (
            want[name]
        ), name
        assert want[name]
    multi = search_run(spark, roots[layout, mode], _DASHBOARD, "run-c")
    got_m = sorted(tuple(r) for r in multi.select("query_name", *keys).collect())
    assert got_m == sorted((n, *k) for n, ks in want.items() for k in ks)


@pytest.mark.parametrize("layout", ["working", "archive"])
def test_search_run_zero_template_matches_scans_nothing(
    spark, committed, layout
):
    """Degenerate input: a query no template matches returns the empty
    frame with the usual schema (``query_name`` on the dashboard path)
    and plans no scan of the sinks table."""
    from fluent_bit_clp_spark.plans.pipeline import search_run

    root = committed[1][layout, "i64"]
    for query in ("zz-nothing-zz", {"none": "zz-nothing-zz"}):
        hit = _DASHBOARD["tasks"]
        like = {"tasks": hit} if isinstance(query, dict) else hit
        out = search_run(spark, root, query, "run-c")
        assert out.schema == search_run(spark, root, like, "run-c").schema
        assert out.collect() == []
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan and "LocalTableScan" in plan, plan
    assert "query_name" in out.columns


@pytest.mark.parametrize("layout", ["working", "archive"])
def test_search_run_all_encode_failed_run(spark, tmp_path, tiny, layout):
    """Degenerate input: a run whose every row failed to encode (null text,
    so null logtype) searches to zero hits without raising."""
    from fluent_bit_clp_spark.plans.pipeline import search_run
    from fluent_bit_clp_spark.sources.tables import JobConfig

    df = tiny.limit(20).withColumn("text", F.lit(None).cast("string"))
    root = str(tmp_path / f"nulls_{layout}")
    res = run_to_sinks(
        spark, df, root, "run-n", cfg=JobConfig(sink_layout=layout)
    )
    assert res["ingest"]["encode_failures"] == 20
    assert search_run(spark, root, _DASHBOARD["tasks"], "run-n").count() == 0
    assert search_run(spark, root, _DASHBOARD, "run-n").count() == 0
