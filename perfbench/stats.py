"""Spark-free statistics and metric-spec checks for the benchmark."""

from __future__ import annotations

import json
import math
import re
import statistics

# Percentiles the tail is picked from, highest first.  The tail is the
# highest of these that leaves at least MIN_BEYOND samples beyond it.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MAX_END_TO_END = 16
MAX_PER_LAYER = 128
MAX_BOUND = 0.25


def rank(n: int, pct: float) -> int:
    """1-based nearest rank of ``pct`` among ``n`` sorted samples."""
    return max(1, math.ceil(pct / 100.0 * n))


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: a value that was actually measured."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[rank(len(values), pct) - 1]


def tail_percentile(n: int) -> float:
    """Highest candidate percentile with at least MIN_BEYOND of ``n``
    samples ranked above it.  Below 2 * MIN_BEYOND samples no candidate
    qualifies and the median stands in (the result says so)."""
    for pct in TAIL_CANDIDATES:
        if n - rank(n, pct) >= MIN_BEYOND:
            return pct
    return 50.0


def latency_summary(samples_s: list[float]) -> dict:
    """p50 and tail of latencies given in seconds, reported in ms."""
    ms = [s * 1000.0 for s in samples_s]
    pct = tail_percentile(len(ms))
    p50 = statistics.median(ms)
    return {
        "p50_ms": p50,
        "tail_ms": percentile(ms, pct) if pct > 50.0 else p50,
        "tail_pct": pct,
        "samples": len(ms),
    }


def check_spec(spec: dict) -> list[str]:
    """Every way ``spec`` (the parsed BENCHMARK.json) breaks the metric
    grammar; an empty list means it is well formed."""
    errs = []
    e2e, layer = spec.get("end_to_end", []), spec.get("per_layer", [])
    if not 1 <= len(e2e) <= MAX_END_TO_END:
        errs.append(f"end_to_end has {len(e2e)} metrics")
    if not 1 <= len(layer) <= MAX_PER_LAYER:
        errs.append(f"per_layer has {len(layer)} metrics")
    if not 2 <= len(spec.get("workloads", [])) <= 8:
        errs.append("workloads must number 2 to 8")
    seen: set[str] = set()
    entries = [(m, {"name", "unit", "better", "bound"}) for m in e2e]
    entries += [(m, {"name", "unit", "better"}) for m in layer]
    entries += [(w, {"name", "why"}) for w in spec.get("workloads", [])]
    for m, keys in entries:
        name = m.get("name", "")
        if set(m) != keys:
            errs.append(f"{name}: keys {sorted(m)} != {sorted(keys)}")
        if not NAME_RE.match(name):
            errs.append(f"bad name {name!r}")
        if name in seen:
            errs.append(f"duplicate name {name!r}")
        seen.add(name)
        if "unit" in keys and not UNIT_RE.match(m.get("unit", "")):
            errs.append(f"{name}: bad unit {m.get('unit')!r}")
        if "better" in keys and m.get("better") not in ("lower", "higher"):
            errs.append(f"{name}: better must be lower or higher")
        if "bound" in keys and not 0 < m.get("bound", 0) <= MAX_BOUND:
            errs.append(f"{name}: bound must be in (0, {MAX_BOUND}]")
        if "why" in keys and (len(m["why"]) > 200 or "\n" in m["why"]):
            errs.append(f"{name}: why must be one line of at most 200 chars")
    setup = [m for m in e2e if m.get("name") == "setup_s"]
    if not setup or setup[0].get("unit") != "s" or setup[0].get("better") != "lower":
        errs.append("setup_s (unit s, better lower) is required")
    return errs


def load_spec(path: str) -> dict:
    with open(path) as f:
        spec = json.load(f)
    errs = check_spec(spec)
    if errs:
        raise ValueError(f"{path}: " + "; ".join(errs))
    return spec
