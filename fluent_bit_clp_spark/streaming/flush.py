"""Structured-Streaming sinks: checkpointed encode and overwrite-per-key
sync (SURVEY.md §2.6, §2.7 K2).

- :func:`stream_encode_to_sinks` — ``readStream → CLP encode →
  partitionBy(sink)`` parquet, exactly-once via the streaming checkpoint;
- :func:`stream_sync_overwrite` — the v2 plugin's re-PUT-the-same-key sync
  as a ``foreachBatch`` overwrite per epoch.

The batch engine stays the primary path (deterministic chunking replaces
timers).  The reference's severity-aware dual-timer flush
(`plugins/out_clp_s3_v2/internal/flush_manager.go:9-44`) lives, exact,
in :mod:`streaming.dual_timer`, which drives :func:`stream_sync_overwrite`
with its flush decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stream_encode_to_sinks(
    stream: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
    spark,
    sink_layout: str = "working",
):
    """readStream transcripts → CLP encode → per-sink partitioned parquet,
    exactly-once via the Structured Streaming checkpoint (the streaming
    twin of plans/lineage.py's batch manifests).

    ``sink_layout="archive"`` stores the columnar archive layout
    (operators/archive.py) — same option as the batch surface's
    ``JobConfig.sink_layout``, and the same encoder assembles it
    (``clp_encode_pandas(..., sink_layout="archive")``), a stateless map
    that composes with the streaming plan unchanged."""
    from fluent_bit_clp_spark.functions.clp_pandas import clp_encode_pandas
    from fluent_bit_clp_spark.operators.enrich import enrich
    from fluent_bit_clp_spark.operators.route import with_sink

    if sink_layout not in ("working", "archive"):
        # same contract as JobConfig.validate — a typo must not silently
        # write the working layout under an 'archive' label
        raise ValueError(
            f"sink_layout: must be 'working' or 'archive', got {sink_layout!r}"
        )
    enc = clp_encode_pandas(
        with_sink(enrich(stream, spark)), sink_layout=sink_layout
    )
    return (
        enc.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("sink")
        .trigger(availableNow=True)
    )


def stream_sync_overwrite(stream: DataFrame, out_dir: str, checkpoint_dir: str):
    """K2 continuous sync with the reference's overwrite-per-key semantics.

    The v2 plugin re-PUTs the SAME object key on every sync
    (`plugins/out_clp_s3_v2/internal/s3.go:126-149`; README file-mapping:
    one S3 object per stream+index, overwritten as it grows) so a repeated
    sync is idempotent at the object level.  Streaming analogue: each
    micro-batch epoch maps to a deterministic key (``sync=<epoch>``
    partition, sink-partitioned inside) written with ``mode("overwrite")``
    via ``foreachBatch`` — replaying an epoch (checkpoint recovery, or a
    full re-run over the same input) rewrites the same keys byte-for-byte
    instead of appending duplicates.  Contrast with
    :func:`stream_encode_to_sinks`, whose parquet sink appends
    (exactly-once only via its own checkpoint).
    """
    import os

    def sync(bdf: DataFrame, epoch_id: int) -> None:
        (
            bdf.write.mode("overwrite")
            .partitionBy("sink")
            .parquet(os.path.join(out_dir, f"sync={epoch_id}"))
        )

    return (
        stream.writeStream.foreachBatch(sync)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
