"""Spark-free self-tests of the benchmark's own logic.

    python3 perfbench/selftest.py

Covers the metric-spec grammar, the tail-percentile rule, span self-time
arithmetic, row counts read off executed plans and seed determinism of
the Fluent Bit chunk generator.
"""

from __future__ import annotations

import copy
import filecmp
import json
import os
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, stats  # noqa: E402
from perfbench.trace import (  # noqa: E402
    PlanGraph, Proc, Tracer, covered, proc_tree, tree_cpu_s, tree_rss,
)


def _tmpdir():
    """A temporary directory inside the checkout's benchmark work dir."""
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=base)


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class SpecGrammar(unittest.TestCase):
    def test_benchmark_json_is_well_formed(self):
        self.assertEqual(stats.check_spec(_spec()), [])

    def test_workload_functions_exist(self):
        from perfbench.run import WORKLOADS

        self.assertEqual([w["name"] for w in _spec()["workloads"]], list(WORKLOADS))

    def test_bad_names_and_units_are_rejected(self):
        for name in ("", "_lead", "has space", "x" * 65, "a/b"):
            spec = _spec()
            spec["per_layer"][0]["name"] = name
            self.assertTrue(stats.check_spec(spec), name)
        spec = _spec()
        spec["end_to_end"][1]["unit"] = "too long a unit name"
        self.assertTrue(stats.check_spec(spec))

    def test_duplicate_names_are_rejected(self):
        spec = _spec()
        spec["per_layer"].append(dict(spec["per_layer"][0]))
        self.assertTrue(any("duplicate" in e for e in stats.check_spec(spec)))

    def test_metric_count_limits(self):
        spec = _spec()
        m = spec["end_to_end"][1]
        spec["end_to_end"] += [dict(m, name=f"e{i}") for i in range(17)]
        self.assertTrue(any("end_to_end" in e for e in stats.check_spec(spec)))
        spec = _spec()
        m = spec["per_layer"][0]
        spec["per_layer"] = [dict(m, name=f"l{i}") for i in range(129)]
        self.assertTrue(any("per_layer" in e for e in stats.check_spec(spec)))
        spec["per_layer"] = spec["per_layer"][:128]
        self.assertEqual(stats.check_spec(spec), [])

    def test_setup_s_and_bounds_are_required(self):
        spec = _spec()
        spec["end_to_end"] = [m for m in spec["end_to_end"] if m["name"] != "setup_s"]
        self.assertTrue(stats.check_spec(spec))
        spec = copy.deepcopy(_spec())
        spec["end_to_end"][0]["bound"] = 0.3
        self.assertTrue(stats.check_spec(spec))


class TailRule(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        for n in range(1, 2000):
            pct = stats.tail_percentile(n)
            beyond = n - stats.rank(n, pct)
            if pct > 50.0:
                self.assertGreaterEqual(beyond, stats.MIN_BEYOND, n)
            higher = [p for p in stats.TAIL_CANDIDATES if p > pct]
            for p in higher:  # no higher candidate would have qualified
                self.assertLess(n - stats.rank(n, p), stats.MIN_BEYOND, (n, p))

    def test_known_points(self):
        self.assertEqual(stats.tail_percentile(19), 50.0)  # median stands in
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)

    def test_percentile_is_a_measured_value(self):
        vals = [float(v) for v in range(1, 101)]
        self.assertEqual(stats.percentile(vals, 50.0), 50.0)
        self.assertEqual(stats.percentile(vals, 90.0), 90.0)
        s = stats.latency_summary([v / 1000 for v in vals])
        self.assertEqual((s["tail_pct"], s["samples"]), (90.0, 100))
        self.assertAlmostEqual(s["tail_ms"], 90.0)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class SpanSelfTime(unittest.TestCase):
    def test_self_time_excludes_children(self):
        clock = FakeClock()
        tr = Tracer(clock=clock)
        with tr.span("run"):
            clock.t = 1.0
            with tr.span("a"):
                clock.t = 3.0
                with tr.span("a.1"):
                    clock.t = 4.0
            clock.t = 5.0
            with tr.span("b"):
                clock.t = 8.0
            clock.t = 10.0
        run, a, a1, b = tr.spans
        self.assertEqual([s.parent for s in tr.spans], [None, 0, 1, 0])
        self.assertEqual(run.duration, 10.0)
        self.assertEqual(tr.self_time(0), 10.0 - 3.0 - 3.0)
        self.assertEqual(tr.self_time(1), 3.0 - 1.0)
        self.assertEqual(tr.self_time(2), 1.0)
        self.assertEqual(tr.self_time(3), 3.0)
        dumped = tr.to_json()
        self.assertEqual(dumped[2]["parent"], "a")
        self.assertEqual(sum(d["self_s"] for d in dumped), run.duration)

    def test_overlapping_intervals_count_once(self):
        self.assertEqual(covered([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(covered([(0, 5), (1, 2)]), 5)
        self.assertEqual(covered([]), 0)

    def test_span_closes_on_error(self):
        tr = Tracer(clock=FakeClock())
        with self.assertRaises(RuntimeError):
            with tr.span("boom"):
                raise RuntimeError
        self.assertIsNotNone(tr.spans[0].end)
        with tr.span("next"):
            pass
        self.assertIsNone(tr.spans[1].parent)


class PlanRows(unittest.TestCase):
    """Row counts read off an executed plan, shaped like a working-layout
    search: scan -> filter holding the decode -> project -> semi-join."""

    def _graph(self) -> PlanGraph:
        nodes = {
            0: ("HashAggregate", "count(1)", 1),
            1: ("BroadcastHashJoin", "LeftSemi", 9),
            2: ("Project", "Project [logtype_id]", None),
            3: ("Filter", "Filter (RLIKE(concat(array_join(zip_with(...", 30),
            4: ("ColumnarToRow", "ColumnarToRow", 1000),
            5: ("Scan parquet ", "FileScan parquet [logtype_id,encoded_vars] "
                "DataFilters: [RLIKE(concat(array_join(zip_with(...", 1000),
            6: ("Scan parquet ", "FileScan parquet [logtype_id,logtype]", 67),
        }
        edges = {0: [1], 1: [2, 6], 2: [3], 3: [4], 4: [5]}
        return PlanGraph(nodes, edges)

    def test_rows_into_the_lowest_decoding_operator(self):
        from perfbench.workloads import evaluates_decode, is_sinks_scan

        g = self._graph()
        self.assertEqual(g.rows_into(evaluates_decode), 1000)
        self.assertEqual([g.rows_out(n) for n in g.matching(is_sinks_scan)], [1000])
        self.assertEqual(g.rows_out(2), 30)  # a Project passes its child's count

    def test_upper_match_is_skipped(self):
        g = self._graph()
        both = lambda name, desc: name in ("Filter", "BroadcastHashJoin")  # noqa: E731
        self.assertEqual(g.rows_into(both), 1000)


class ProcessTree(unittest.TestCase):
    def test_shared_address_space_counts_once(self):
        mb = 2**20
        tree = {
            1: Proc(0, "python3", 600 * mb, 140 * mb, 10),
            2: Proc(1, "java", 6000 * mb, 1300 * mb, 500),
            # a JVM task thread's vfork child, named after the thread
            3: Proc(2, "Executor task l", 6000 * mb, 1300 * mb, 0),
            4: Proc(2, "python3", 300 * mb, 60 * mb, 20),
            5: Proc(4, "python3", 900 * mb, 130 * mb, 70),
        }
        self.assertEqual(tree_rss(tree), (140 + 1300 + 60 + 130) * mb)

    def test_own_tree_is_read(self):
        tree = proc_tree(os.getpid())
        self.assertIn(os.getpid(), tree)
        self.assertGreater(tree_rss(tree), 0)
        self.assertGreaterEqual(tree_cpu_s(tree), 0.0)


class SeedDeterminism(unittest.TestCase):
    N = 3000

    def _write(self, seed: int, d: str) -> inputs.FluentBitInput:
        return inputs.write_fluentbit_chunks(os.path.join(d, f"s{seed}"), seed, self.N)

    def test_same_seed_gives_identical_chunk_files(self):
        with _tmpdir() as d1, _tmpdir() as d2:
            a, b = self._write(7, d1), self._write(7, d2)
            for fa, fb in zip(a.files, b.files):
                self.assertTrue(filecmp.cmp(fa, fb, shallow=False))
            self.assertEqual(a.raw, b.raw)
            c = self._write(8, d1)
            self.assertNotEqual([_read(f) for f in a.files], [_read(f) for f in c.files])

    def test_program_decoder_sees_planted_records(self):
        from fluent_bit_clp_spark.sources.msgpack import iter_records

        with _tmpdir() as d:
            fb = self._write(3, d)
            decoded = []
            for name in fb.files:
                decoded += list(iter_records(_read(name), "v2"))
        self.assertEqual(len(decoded), fb.records)
        self.assertEqual(sum(bad for _, _, bad in decoded), fb.malformed)
        texts = [json.loads(rec)["log"] if rec else None for _, rec, _ in decoded]
        self.assertEqual(texts, [t for t, _ in fb.raw])
        self.assertEqual([ts for ts, _, _ in decoded], [ts for _, ts in fb.raw])

    def test_query_mix_hits_the_generated_text(self):
        from perfbench.workloads import expected_hits

        with _tmpdir() as d:
            fb = self._write(5, d)
        hits = expected_hits(fb.raw, fb.time_range)
        for q in inputs.QUERY_MIX:
            counts = hits[q.name] if isinstance(q.query, dict) else {q.name: hits[q.name]}
            for name, n in counts.items():
                self.assertGreater(n, 0, name)


class ExpectedHits(unittest.TestCase):
    def test_case_and_time_window(self):
        from perfbench.workloads import expected_hits

        base = inputs.BASE_MS
        raw = [
            ("GET /api/v2/users/7?page=1 took 1.5 ms", base),
            ("GET /api/v2/users/8?page=2 took 2.5 ms", base + 10),
            ("GET /api/v2/users/9?page=3 took 3.5 ms", None),
            ("Uploaded chunk 1 of 2 (3.000%) to /var/log/app-1.log", base),
            ("uploaded chunk 1 OF 2", base),
            ("Task 5 started by user 0a1b at attempt 2", base),
            (None, None),
        ]
        hits = expected_hits(raw, (base, base + 5))
        self.assertEqual(hits["time_range"], 1)  # in window, stamped
        self.assertEqual(hits["ignore_case"], 2)
        self.assertEqual(hits["template"], 1)
        self.assertEqual(hits["dashboard"]["uploads"], 1)  # case-sensitive
        self.assertEqual(hits["static"], 0)


if __name__ == "__main__":
    unittest.main()
