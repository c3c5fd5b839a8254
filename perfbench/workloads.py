"""The benchmark's workloads, their output checks and the traced layer pass.

Load shape: one process running Spark as ``local[nproc / 2]``.  Ingest is a
closed loop of ``run_to_sinks`` calls, one batch job at a time, each into a
fresh output dir and run_id (the same run_id would resume and skip
everything).  Search is a closed loop with one client.  Timed loops start
after untimed warm-up runs of the same code, which take the JVM's first-run
compilation out of their figures.

Every operation (one ingest run or one search call) is checked; a raise or
a failed check counts in ``failed`` and the run goes on.  Each operation's
wall time and CPU time (this process, the JVM and the Python workers) are
taken; the metrics are CPU times, the wall times are printed.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from fluent_bit_clp_spark.datagen import write_transcripts
from fluent_bit_clp_spark.functions.clp_native import clp_decode_column
from fluent_bit_clp_spark.operators import search as search_ops
from fluent_bit_clp_spark.operators.archive import to_archive
from fluent_bit_clp_spark.operators.chunk import assign_chunks, with_row_bytes
from fluent_bit_clp_spark.operators.enrich import enrich
from fluent_bit_clp_spark.operators.irstream import write_ir_chunks
from fluent_bit_clp_spark.operators.route import routed_counts, with_sink
from fluent_bit_clp_spark.plans import lineage
from fluent_bit_clp_spark.plans import pipeline
from fluent_bit_clp_spark.sources.msgpack import (
    msgpack_to_transcripts,
    read_msgpack_files,
)
from fluent_bit_clp_spark.sources.tables import JobConfig

from perfbench import inputs, stats
from perfbench.trace import (
    PlanProbe, RssSampler, StageProbe, Tracer, proc_tree, stage_sum, tree_cpu_s,
)

# Sizes are set by the time budget: each run must end well inside a
# minute on a four-CPU host, where most of a run_to_sinks call is per-job
# cost.
FLUENTBIT_RECORDS = 12_000
# Far below the ~160k turns at which every Python worker's token cache
# (clp_pandas, 65,536 entries) would fill: no workload takes the uncached
# overflow path.
TRANSCRIPT_TURNS = 8_000
# datagen's edge rows: one null text, one null timestamp
TRANSCRIPT_EDGE_FAILURES = 2

_PY_EVAL = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas)\b"
)
_DECODE_SIG = "zip_with("


@dataclass
class Expect:
    """What a correct commit of one input looks like."""

    rows: int
    failures: int
    routed: dict[str, int]
    hits: dict[str, object]
    time_range: tuple[int, int]


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since import."""
    print(f"[{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seconds: float
    trace: bool
    seed: int
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    spans: list[dict] = field(default_factory=list)
    last_cpu_s: float = 0.0
    _seq: int = 0

    def fresh(self, tag: str) -> str:
        self._seq += 1
        return os.path.join(self.work, f"{tag}-{self._seq:04d}")

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and the Python
        workers."""
        return tree_cpu_s(proc_tree(os.getpid()))

    def operation(self, what: str, fn):
        """Run one checked operation; ``fn`` returns (value, problems).
        The CPU seconds it took are left in ``last_cpu_s``."""
        self.attempted += 1
        t0, c0 = time.perf_counter(), self.cpu_s()
        try:
            value, problems = fn()
        except Exception:  # a failed operation is counted, not fatal
            value, problems = None, [f"raised\n{traceback.format_exc()}"]
        self.last_cpu_s = self.cpu_s() - c0
        log(f"{what} {time.perf_counter() - t0:.2f}s cpu {self.last_cpu_s:.2f}s"
            + (" FAILED" if problems else ""))
        if problems:
            self.failed += 1
            self.problems.append(f"{what}: " + "; ".join(problems))
        return value


# -- ingest -------------------------------------------------------------


def commit(spark, df, out, layout, emit_ir=False) -> tuple[float, dict]:
    t0 = time.perf_counter()
    res = pipeline.run_to_sinks(
        spark, df, out, run_id="bench", cfg=JobConfig(sink_layout=layout),
        emit_ir_chunks=emit_ir,
    )
    return time.perf_counter() - t0, res


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, Spark's marker files excluded."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def check_commit(res: dict, out: str, exp: Expect) -> list[str]:
    ing, bad = res["ingest"], []
    if ing["num_events"] != exp.rows:
        bad.append(f"num_events {ing['num_events']} != {exp.rows}")
    if ing["encode_failures"] != exp.failures:
        bad.append(f"encode_failures {ing['encode_failures']} != {exp.failures}")
    got = {}
    for sink in lineage.committed_sinks(out, "bench"):
        with open(lineage.manifest_path(out, "bench", sink)) as f:
            got[sink] = json.load(f)["rows"]
    if got != exp.routed:
        bad.append(f"sink rows {got} != routed {exp.routed}")
    return bad


def ingest_op(ctx: Ctx, df, exp: Expect, layout, emit_ir=False, tag="ingest"):
    """One checked ingest run; returns (wall_s, out_dir) or None."""

    def run():
        out = ctx.fresh(tag)
        wall, res = commit(ctx.spark, df, out, layout, emit_ir)
        return (wall, out), check_commit(res, out, exp)

    return ctx.operation(f"{tag} ({layout})", run)


def decode_mismatches(spark, out: str, raw: DataFrame) -> int:
    """Consumer check: decode the committed sinks, join back to the input
    on (conv_id, turn_idx); rows missing on either side count too."""
    dec = pipeline.load_sinks(spark, out, "bench").select(
        "conv_id", "turn_idx", clp_decode_column().alias("decoded")
    )
    joined = raw.select("conv_id", "turn_idx", "text").join(
        dec, ["conv_id", "turn_idx"], "full_outer"
    )
    return joined.where(~F.col("text").eqNullSafe(F.col("decoded"))).count()


def expected_for(df: DataFrame, raw: list[tuple[str | None, int | None]], rows: int,
                 failures: int, time_range) -> Expect:
    """Expected counts from the raw input, never from a commit.  ``raw`` is
    (text, ts_ms) per input row."""
    routed = {
        r["sink"]: r["routed_rows"]
        for r in routed_counts(pipeline.narrow_route_plan(df)).collect()
    }
    return Expect(rows, failures, routed, expected_hits(raw, time_range), time_range)


def expected_hits(raw: list[tuple[str | None, int | None]], time_range) -> dict[str, object]:
    """Hit count of every query in the mix: ``exact_text_pattern`` matched
    by Python's ``re`` over the raw text (an engine the program does not
    use), honouring the query's case and time window."""
    lo, hi = time_range

    def count(pat: str, q: inputs.Query) -> int:
        rx = re.compile(search_ops.exact_text_pattern(pat, q.ignore_case).replace("\\z", "\\Z"))
        return sum(
            1 for text, ts in raw
            if text is not None and rx.match(text)
            and (not q.timed or (ts is not None and lo <= ts <= hi))
        )

    return {
        q.name: {n: count(p, q) for n, p in q.query.items()}
        if isinstance(q.query, dict) else count(q.query, q)
        for q in inputs.QUERY_MIX
    }


# -- search -------------------------------------------------------------


def search_call(spark, out: str, q: inputs.Query, time_range):
    res = pipeline.search_run(
        spark, out, q.query, run_id="bench",
        time_range=time_range if q.timed else None, ignore_case=q.ignore_case,
    )
    if isinstance(q.query, dict):
        got = {r["query_name"]: r["count"] for r in res.groupBy("query_name").count().collect()}
        return {k: got.get(k, 0) for k in q.query}
    return res.count()


def search_op(ctx: Ctx, out: str, q: inputs.Query, exp: Expect, layout: str):
    """One checked search call; returns its latency in seconds or None."""

    def run():
        t0 = time.perf_counter()
        got = search_call(ctx.spark, out, q, exp.time_range)
        wall = time.perf_counter() - t0
        want = exp.hits[q.name]
        return wall, ([] if got == want else [f"hits {got} != expected {want}"])

    return ctx.operation(f"search {layout}/{q.name}", run)


def search_round(ctx: Ctx, commits: dict[str, str], exp: Expect,
                 lat: dict[str, list[tuple[float, float]]], queries=inputs.QUERY_MIX) -> None:
    """The query mix once, alternating the two layouts per query."""
    for q in queries:
        for layout, out in commits.items():
            wall = search_op(ctx, out, q, exp, layout)
            if wall is not None:
                lat[layout].append((wall, ctx.last_cpu_s))


# -- workloads ----------------------------------------------------------


# ingest_fluentbit's search probe: the selective fragment query, called
# PROBE_CALLS times per layout after each timed ingest, so that each
# layout's median is over calls of one query spread over the timed part
PROBE_QUERIES = (inputs.QUERY_MIX[0],)
PROBE_CALLS = 4
# rounds per run whatever --seconds says: the median is over at least two
# samples of each figure, and the work (and so the heap) is the same in
# every run
MIN_TIMED_INGESTS = 2


def ingest_fluentbit(ctx: Ctx) -> dict:
    """Fluent Bit msgpack chunks -> archive layout + IR chunk objects.

    Set-up is the chunk files, one archive+IR commit (it pays the JVM
    warm-up), the expected counts, one working-layout commit and one
    untimed probe call per layout, so ``setup_s`` is a cold-session figure.
    The timed rounds each ingest once and then run the search probe over
    the working-layout commit and the newest archive commit."""
    spark = ctx.spark
    t0, c0 = time.perf_counter(), ctx.cpu_s()
    fb = inputs.write_fluentbit_chunks(ctx.fresh("fb-in"), ctx.seed, FLUENTBIT_RECORDS)
    log(f"set-up: {fb.records} records in {len(fb.files)} chunk files")
    df = msgpack_to_transcripts(read_msgpack_files(spark, fb.path))
    # the expected counts are taken once the JVM is warm; the first commit
    # is checked against them afterwards
    first = ctx.fresh("warmup")
    res = commit(spark, df, first, "archive", True)[1]
    log("warm-up commit (archive)")
    exp = expected_for(df, fb.raw, fb.records, fb.malformed, fb.time_range)
    log("expected counts")
    ctx.operation("warmup (archive)", lambda: (None, check_commit(res, first, exp)))
    commits = {"archive": first}
    got = ingest_op(ctx, df, exp, "working", tag="warmup")
    if got is None:
        raise RuntimeError("working-layout commit failed; see the FAILED lines")
    commits["working"] = got[1]
    # checked, not timed: the first search of each layout is a cold one
    search_round(ctx, commits, exp, {k: [] for k in commits}, PROBE_QUERIES)
    m: dict[str, float] = {}
    add_setup(m, ctx, t0, c0)
    lat = {k: [] for k in commits}
    with RssSampler() as rss:
        walls, cpus, sizes, last = timed_ingest(ctx, df, exp, fb.records, commits, lat)
    m["peak_rss_mb"] = rss.peak_bytes / 2**20
    add_ingest(m, fb.records, walls, cpus)
    m["stored_bytes_per_turn"] = statistics.median(sizes)
    final_check(ctx, last, df)
    if ctx.trace:
        return trace_pass(ctx, df, exp, fb.records, fb.input_bytes, "archive", True,
                          statistics.median(walls), commits, fb)
    add_search(m, lat)
    return m


def search_committed(ctx: Ctx) -> dict:
    """Transcripts committed in both layouts during set-up, then a closed
    loop of the query mix alternating the two commits.

    The set-up runs once, in the fresh session, as a batch job would: it
    holds two full commits, and its cost includes the JVM warm-up, so
    ``setup_s`` and ``turns_per_cpu_s`` (the second commit) here are
    cold-session figures."""
    spark = ctx.spark
    t0, c0 = time.perf_counter(), ctx.cpu_s()
    path = ctx.fresh("tr-in")
    write_transcripts(spark, path, TRANSCRIPT_TURNS, ctx.seed)
    gen_s = time.perf_counter() - t0
    log(f"set-up: {TRANSCRIPT_TURNS} transcript turns {gen_s:.2f}s")
    df = spark.read.parquet(path)
    raw = [tuple(r) for r in df.select("text", F.unix_millis("ts")).collect()]
    exp = expected_for(df, raw, len(raw), TRANSCRIPT_EDGE_FAILURES,
                       inputs.transcript_time_range(TRANSCRIPT_TURNS))
    log("expected counts")
    commits, walls, cpus, sizes = {}, {}, {}, []
    for layout in ("working", "archive"):
        got = ingest_op(ctx, df, exp, layout, tag="commit")
        if got is not None:
            walls[layout], commits[layout] = got
            cpus[layout] = ctx.last_cpu_s
            sizes.append(dir_bytes(os.path.join(got[1], "sinks"))[0] / exp.rows)
    m: dict[str, float] = {"stored_bytes_per_turn": statistics.median(sizes)}
    # the first commit of the session also pays its first-run costs (code
    # generation, class loading, Python worker start), which vary by run
    # and are set-up's; the second is the ingest figure
    add_ingest(m, exp.rows, [walls["archive"]], [cpus["archive"]])
    final_check(ctx, commits["archive"], df)
    if ctx.trace:
        # the set-up commits were cold; a warm one is the untraced reference
        ref = ingest_op(ctx, df, exp, "working", tag="reference")
        return trace_pass(ctx, df, exp, exp.rows, dir_bytes(path)[0], "working", False,
                          ref[0], commits, None)
    # checked but not timed: the first search of a session is a cold one
    search_op(ctx, commits["working"], inputs.QUERY_MIX[-1], exp, "working")
    add_setup(m, ctx, t0, c0)
    lat = {k: [] for k in commits}
    deadline = time.perf_counter() + ctx.seconds
    with RssSampler() as rss:
        while True:  # whole rounds, so every query weighs the same
            search_round(ctx, commits, exp, lat)
            if time.perf_counter() >= deadline:
                break
    m["peak_rss_mb"] = rss.peak_bytes / 2**20
    add_search(m, lat)
    return m


def timed_ingest(ctx: Ctx, df, exp: Expect, rows: int, commits: dict[str, str],
                 lat: dict[str, list[tuple[float, float]]]):
    """Closed loop for ``ctx.seconds`` (at least ``MIN_TIMED_INGESTS``
    rounds).  A round is one archive+IR ingest, then, unless tracing, the
    probe ``PROBE_CALLS`` times over ``commits``, whose archive entry is
    the newest commit.  Returns (walls, CPU seconds, stored bytes per turn,
    last commit dir) of the ingests."""
    walls, cpus, sizes, last = [], [], [], None
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline or len(walls) < MIN_TIMED_INGESTS:
        got = ingest_op(ctx, df, exp, "archive", True)
        if got is None:
            raise RuntimeError("timed ingest raised; see the FAILED lines")
        walls.append(got[0])
        cpus.append(ctx.last_cpu_s)
        sizes.append(dir_bytes(os.path.join(got[1], "sinks"))[0] / rows)
        if last is not None:  # keep the work dir small
            shutil.rmtree(last, ignore_errors=True)
        last = commits["archive"] = got[1]
        for _ in range(0 if ctx.trace else PROBE_CALLS):
            search_round(ctx, commits, exp, lat, PROBE_QUERIES)
    return walls, cpus, sizes, last


def final_check(ctx: Ctx, out: str, df: DataFrame) -> None:
    """Decode join-back of one commit, once per run, outside timing.  A
    mismatch fails the ingest run that made the commit."""
    try:
        n = decode_mismatches(ctx.spark, out, df)
    except Exception:  # counted like any failed check
        n = traceback.format_exc()
    log(f"decode join-back: {n} mismatches")
    if n:
        ctx.failed += 1
        ctx.problems.append(f"decode join-back of {out}: {n} mismatches")


def add_setup(m: dict, ctx: Ctx, t0: float, c0: float) -> None:
    """``setup_s`` is the CPU seconds of everything before the timed part;
    its wall time is printed only (see ``add_search``)."""
    m["setup_s"] = ctx.cpu_s() - c0
    print(f"set-up: {time.perf_counter() - t0:.1f} s wall, {m['setup_s']:.1f} s cpu")


def add_ingest(m: dict, rows: int, walls: list[float], cpus: list[float]) -> None:
    """Turns per CPU second of the median ingest is the metric; turns per
    wall second is printed only (see ``add_search``)."""
    m["turns_per_cpu_s"] = rows / statistics.median(cpus)
    print(f"ingest: {len(walls)} runs, turns_per_s {rows / statistics.median(walls):.1f} "
          f"(wall), turns_per_cpu_s {m['turns_per_cpu_s']:.1f}")


def add_search(m: dict, lat: dict[str, list[tuple[float, float]]]) -> None:
    """Per layout, the CPU time of the run's ``search_run`` calls over
    their number is the metric: the calls are whole rounds of a fixed mix,
    whose mean moves only with the program, where a median over different
    queries picks whichever query ranks in the middle.  The wall latency,
    median and tail, is printed only: on a shared host it also holds the
    time other guests take from this one's CPUs, which moves it between
    runs far more than the program does.  The tail needs 20 calls or more,
    and a run makes fewer."""
    for layout in ("working", "archive"):
        s = stats.latency_summary([w for w, _ in lat[layout]])
        cpu_ms = sum(c for _, c in lat[layout]) * 1000.0 / len(lat[layout])
        m[f"search_{layout}_cpu_ms"] = cpu_ms
        print(f"search_{layout}: {s['samples']} calls, wall p50 {s['p50_ms']:.1f} ms, "
              f"tail p{s['tail_pct']:g} {s['tail_ms']:.1f} ms, cpu mean {cpu_ms:.1f} ms")


# -- traced layer pass --------------------------------------------------


@contextlib.contextmanager
def patched(obj, name: str, wrap):
    orig = getattr(obj, name)
    setattr(obj, name, wrap(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


@contextlib.contextmanager
def phase_spans(tr: Tracer, out: str):
    """Give each write and collect inside ``run_to_sinks`` its own span
    (named by its output dir), without touching the program."""

    def on_write(orig):
        def parquet(self, path, *a, **k):
            rel = os.path.relpath(path, out).split(os.sep)[0]
            with tr.span(f"write:{rel.removesuffix('_staging')}"):
                return orig(self, path, *a, **k)
        return parquet

    def on_collect(orig):
        def collect(self):
            with tr.span("collect"):
                return orig(self)
        return collect

    def on_offsets(orig):
        def offsets(*a, **k):
            with tr.span("offsets"):
                return orig(*a, **k)
        return offsets

    with patched(DataFrameWriter, "parquet", on_write), \
            patched(DataFrame, "collect", on_collect), \
            patched(pipeline, "write_block_offsets", on_offsets):
        yield


def noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def python_evals(df: DataFrame) -> int:
    return len(_PY_EVAL.findall(df._jdf.queryExecution().executedPlan().toString()))


def heaviest(stages: list[dict]) -> dict:
    return max(stages, key=lambda s: s["executorRunTime"], default={"task_skew": 0.0, "executorRunTime": 0})


def trace_pass(ctx: Ctx, df, exp: Expect, rows: int, input_bytes: int, layout: str,
               emit_ir: bool, untraced_s: float, commits: dict, fb) -> dict:
    """Each layer's public function on its own, each in a span with its
    own job group and stage diff; then one traced ``run_to_sinks``."""
    spark = ctx.spark
    tr = Tracer(StageProbe(spark))
    m: dict[str, float] = {}
    if fb is None:
        # not on this workload's path: the decode and parse layers are
        # measured on the seed's Fluent Bit chunk set instead, once warm
        fb = inputs.write_fluentbit_chunks(ctx.fresh("fb-in"), ctx.seed, FLUENTBIT_RECORDS)
        noop(msgpack_to_transcripts(read_msgpack_files(spark, fb.path)))
    with tr.span("msgpack.decode") as dec:
        row = read_msgpack_files(spark, fb.path).agg(
            F.count(F.lit(1)), F.sum(F.col("malformed").cast("long"))
        ).collect()[0]
    with tr.span("parse.to_transcripts") as parse:
        noop(msgpack_to_transcripts(read_msgpack_files(spark, fb.path)))
    m["msgpack.decode_s"] = dec.duration
    m["msgpack.mb_per_s"] = fb.input_bytes / 1e6 / dec.duration
    m["msgpack.malformed_records"] = row[1]
    m["parse.to_transcripts_s"] = parse.duration - dec.duration

    with tr.span("layers"):
        with tr.span("chunk.offsets") as off:
            offs = pipeline.write_block_offsets(spark, df, ctx.fresh("offsets"))
        routed = assign_chunks(
            with_row_bytes(with_sink(enrich(pipeline.parse_normalize(df), spark))),
            offsets=offs,
        )
        with tr.span("route.window") as route:
            noop(routed)
        encoded = pipeline.encode_pipeline(df, spark, offsets=offs)
        with tr.span("encode.pipeline") as enc:
            noop(encoded)
        out_df = encoded.withColumn(
            "encode_failed", F.col("text").isNull() | F.col("ts").isNull()
        ).select(*pipeline.OUTPUT_COLS, "encode_failed")
        if layout == "archive":
            out_df = to_archive(out_df)
        sink_dir = ctx.fresh("sinkwrite")
        with tr.span("sink.write") as sink:
            out_df.write.mode("overwrite").partitionBy("sink").parquet(sink_dir)
    m["chunk.offsets_s"] = off.duration
    m["chunk.offsets_stages"] = len(off.stages)
    m["chunk.offsets_shuffle_bytes"] = stage_sum(off.stages, "shuffleWriteBytes")
    m["route.window_s"] = route.duration
    m["route.shuffle_write_bytes"] = stage_sum(route.stages, "shuffleWriteBytes")
    m["route.task_skew"] = heaviest(route.stages)["task_skew"]
    m["encode.self_s"] = enc.duration - route.duration
    # the job's last stage holds the ArrowEvalPython node (after the window)
    enc_stage = enc.stages[-1] if enc.stages else {"executorRunTime": 0}
    m["encode.task_s"] = enc_stage["executorRunTime"] / 1000.0
    m["encode.rows_per_task_s"] = rows / m["encode.task_s"] if m["encode.task_s"] else 0.0
    m["sink.write_s"] = sink.duration - enc.duration
    m["sink.bytes_written"], m["sink.files_written"] = dir_bytes(sink_dir)

    out = ctx.fresh("traced")
    with tr.span("run_to_sinks") as rts, phase_spans(tr, out):
        res = ctx.operation(
            "traced ingest", lambda: (commit(spark, df, out, layout, emit_ir)[1], [])
        )
    bad = check_commit(res, out, exp) if res is not None else []
    if bad:
        ctx.failed += 1
        ctx.problems.append("traced ingest: " + "; ".join(bad))
    idx = tr.spans.index(rts)
    kids = tr.children(idx)
    main = {"offsets", "write:sinks", "write:ir_chunks"}
    m["readback.s"] = sum(k.duration for k in kids if k.name not in main)
    # IR chunk objects from the committed run, as run_to_sinks derives them
    # (measured on both workloads; only ingest_fluentbit emits them)
    ir_df = write_ir_chunks(pipeline.load_sinks(spark, out, "bench"))
    with tr.span("irstream.write") as ir:
        ir_df.write.mode("overwrite").parquet(ctx.fresh("ir"))
    m["irstream.write_s"] = ir.duration
    m["irstream.task_skew"] = heaviest(ir.stages)["task_skew"]
    m["pipeline.jobs"] = rts.jobs
    m["pipeline.stages"] = len(rts.stages)
    m["pipeline.input_read_ratio"] = stage_sum(rts.stages, "inputBytes") / input_bytes
    plans = [out_df] + ([ir_df] if emit_ir else [])
    m["pipeline.python_evals"] = sum(python_evals(p) for p in plans)
    m["pipeline.spill_bytes"] = stage_sum(rts.stages, "memoryBytesSpilled") + stage_sum(
        rts.stages, "diskBytesSpilled"
    )
    m["trace.overhead_s"] = rts.duration - untraced_s
    m.update(trace_search(ctx, tr, commits, exp))
    ctx.spans = tr.to_json()
    return m


def is_sinks_scan(name: str, desc: str) -> bool:
    # only the committed sinks table has an encoded_vars column
    return name.startswith("Scan") and "encoded_vars" in desc


def evaluates_decode(name: str, desc: str) -> bool:
    # clp_decode_column is a native expression that interleaves logtype
    # pieces and variables with zip_with; a scan only lists it as a data
    # filter it cannot push, so scans do not count
    return (_DECODE_SIG in desc and not name.startswith("Scan")) or bool(_PY_EVAL.match(name))


def trace_search(ctx: Ctx, tr: Tracer, commits: dict[str, str], exp: Expect) -> dict:
    """One traced round of the query mix.  Row counts come from the
    executed plans of those ``search_run`` calls: rows leaving the scan of
    the sinks table, and rows reaching the operator that decodes."""
    plans = PlanProbe(ctx.spark)
    compile_s = [0.0]

    def timed(orig):
        def call(*a, **k):
            t0 = time.perf_counter()
            try:
                return orig(*a, **k)
            finally:
                compile_s[0] += time.perf_counter() - t0
        return call

    names = ("compile_relaxed_pattern", "compile_var_predicates",
             "compile_fragment_var_predicates")
    spans, graphs = [], []
    with contextlib.ExitStack() as stack:
        for n in names:
            stack.enter_context(patched(search_ops, n, timed))
        with tr.span("search"):
            for q in inputs.QUERY_MIX:
                for layout, out in commits.items():
                    snap = plans.snapshot()
                    with tr.span(f"search.{layout}.{q.name}") as sp:
                        search_op(ctx, out, q, exp, layout)
                    spans.append(sp)
                    graphs += plans.since(snap)
    n = len(spans)
    decoded = sum(g.rows_into(evaluates_decode) for g in graphs)
    if not decoded:
        raise RuntimeError("no operator evaluating the decode found in the search plans")
    return {
        "search.compile_ms": compile_s[0] * 1000.0 / n,
        "search.jobs_per_query": sum(s.jobs for s in spans) / n,
        "search.input_bytes": sum(stage_sum(s.stages, "inputBytes") for s in spans) / n,
        "search.scan_rows": sum(
            g.rows_out(nid) for g in graphs for nid in g.matching(is_sinks_scan)
        ) / n,
        "search.decoded_rows": decoded / n,
    }
