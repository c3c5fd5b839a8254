"""Per-sink lineage manifest + metrics — checkpoint-resumable commits.

Analogue of the reference's crash recovery
(`/root/reference/plugins/out_clp_s3/internal/recovery/recovery.go:45-66,
103-128,187-222`): the reference pairs on-disk ``ir/``+``zstd/`` buffer
files by tag and resumes them on restart; we record an atomic per-sink
manifest after each successful sink commit, and a re-run with the same
``run_id`` skips already-committed sinks (idempotent resume).  Parquet
directory commits stand in for Iceberg atomic snapshot commits — same
layout, same tests.

Metrics schema (FIXTURES.md §3 ``sink_metrics``): per (run_id, sink,
partition_id): rows_parsed, dict_hits, encode_failures, bytes_ir —
mirroring the reference's event/byte counters
(`internal/irzstd/writer.go:74-87`) and partial-failure accounting
(`plugins/out_clp_s3/internal/flush/flush.go:49-58`).
"""

from __future__ import annotations

import json
import os
import tempfile
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def manifest_path(out_dir: str, run_id: str, sink: str) -> str:
    return os.path.join(out_dir, "_lineage", run_id, f"{sink}.json")


def commit_manifest(out_dir: str, run_id: str, sink: str, payload: dict) -> None:
    """Atomic manifest write: tmp file + rename (the commit point)."""
    path = manifest_path(out_dir, run_id, sink)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(
            {
                **payload,
                "run_id": run_id,
                "sink": sink,
                "committed_at": datetime.now(timezone.utc).isoformat(),
            },
            f,
        )
    os.replace(tmp, path)


def committed_sinks(out_dir: str, run_id: str) -> set[str]:
    d = os.path.join(out_dir, "_lineage", run_id)
    if not os.path.isdir(d):
        return set()
    return {f[:-5] for f in os.listdir(d) if f.endswith(".json")}


def _data_marker(out_dir: str, run_id: str) -> str:
    return os.path.join(out_dir, "_lineage", run_id, "_data.marker")


def is_data_committed(out_dir: str, run_id: str) -> bool:
    """True once the run's single partitionBy(sink) data write completed —
    the write itself is atomic (Spark commit protocol), this marker makes
    completion visible to a resumed driver."""
    return os.path.exists(_data_marker(out_dir, run_id))


def mark_data_committed(out_dir: str, run_id: str, payload: dict) -> None:
    path = _data_marker(out_dir, run_id)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump({**payload, "run_id": run_id}, f)
    os.replace(tmp, path)


def read_data_marker(out_dir: str, run_id: str) -> dict:
    """The ingest counters persisted at data-commit time — a resumed run
    returns these so its result is identical to the uninterrupted one."""
    with open(_data_marker(out_dir, run_id)) as f:
        payload = json.load(f)
    payload.pop("run_id", None)
    return payload


def sink_metrics(written: DataFrame, run_id: str, n_buckets: int = 64) -> DataFrame:
    """Distributed per-(sink, partition) metrics — never driver-side.

    Computed from the *written* sink table (a column-pruned parquet
    read-back of sink/conv_id/dict_vars/row_bytes/encode_failed — the wide
    text column is never re-read and the encode never re-runs).

    ``partition_id`` is a *deterministic* lineage bucket
    (``xxhash64(conv_id) % n_buckets``), stable across re-runs and
    parallelism levels, unlike physical partition ids.
    """
    return (
        written.withColumn(
            "partition_id",
            F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"),
        )
        .groupBy("sink", "partition_id")
        .agg(
            F.count("*").alias("rows_parsed"),
            F.sum(
                F.size(F.filter(F.col("dict_vars"), lambda v: v.isNotNull()))
            ).alias("dict_hits"),
            F.sum(F.col("encode_failed").cast("long")).alias("encode_failures"),
            F.sum("row_bytes").alias("bytes_ir"),
        )
        .withColumn("run_id", F.lit(run_id))
    )
