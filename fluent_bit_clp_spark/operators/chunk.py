"""Deterministic size-based chunk assignment (SURVEY.md §2.3 E3, §2.4 R2/R3).

The reference buffers IR until 2 MiB bins ("trash compactor",
`/root/reference/internal/irzstd/disk.go:16-17,41-53`) and uploads when the
compressed stream reaches 16 MB (`/root/reference/internal/outctx/config.go:34,61`,
`plugins/out_clp_s3/internal/flush/flush.go:189-212`), with a per-tag
monotone chunk counter (`internal/outctx/manager.go:22-26,38-66`).

Batch-engine equivalent: assign every row a deterministic ``chunk_id`` =
``floor(byte_start / chunk_bytes)`` where ``byte_start`` is the row's
cumulative byte offset within its sink under stable
``(conv_id, turn_idx)`` order.  ``chunk_id`` doubles as the monotone
per-sink upload index (R3), and the same mechanism at 2 MiB yields the IR
bin id (E3).

Scale design — the naive single window ``PARTITION BY sink`` funnels a
whole sink's *rows* through one task (fatal at 10^12 turns).  We therefore
compute offsets hierarchically:

1. rows → *turn blocks* ``(sink, conv_id, floor(turn_idx/block_turns))``,
   aggregated bytes per block (``groupBy`` — map-side partial agg);
2. one window per sink over the block summaries → exclusive block start
   offsets;
3. join offsets back (broadcast hash join on the block key) + a bounded
   window *inside* each block (≤ ``block_turns`` rows per partition) →
   row offsets.

Result is bit-identical to the single-window formulation (property-tested,
one-conversation hot key included).  Step 2 is the one serial part: each
sink's summary — one row per (conversation, block), so at least one per
conversation and rows / ``block_turns`` for long conversations — is sorted
and scanned in one task, buffered in Spark's spillable window buffer, so
memory stays bounded and the cost is time.  ~10^7 summaries in one sink
(10^7 conversations, or ~8×10^10 turns at the default 8192) is where that
task becomes the phase's bottleneck; ``JobConfig.block_turns`` shrinks the
long-conversation part linearly (and lengthens each step-3 window by the
same factor).

Single-scan mode (the 100 TB path): any prefix sum needs the per-block
totals *and* the rows — a diamond dependency.  Left in one lazy plan,
Catalyst prunes the two branches differently, so the fact table is
scanned twice (the round-1 plan defect).  :func:`block_offsets` exposes
steps 1–2 as their own narrow plan: materialize it once
(``plans/pipeline.py:write_block_offsets``, one write scanning only the
route/size columns), then pass the result back via
``assign_chunks(..., offsets=...)`` — the main plan then scans the fact
table exactly once and broadcast-joins the (rows/block_turns)-row offset
table.  `plans/pipeline.py:run_to_sinks` wires this up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

IR_BIN_BYTES = 2 << 20  # internal/irzstd/disk.go:16-17
CHUNK_BYTES = 16 << 20  # internal/outctx/config.go:34,61
DEFAULT_BLOCK_TURNS = 8192


def with_row_bytes(df: DataFrame, size_cols: tuple[str, ...] = ("text",)) -> DataFrame:
    """Byte-size proxy per row: payload octet length (pre-compression, the
    same accounting point as the reference's ``irTotalBytes``)."""
    total = None
    for c in size_cols:
        term = F.coalesce(F.octet_length(F.col(c)), F.lit(0))
        total = term if total is None else total + term
    return df.withColumn("row_bytes", total.cast("bigint"))


def block_offsets(
    df: DataFrame,
    block_turns: int = DEFAULT_BLOCK_TURNS,
    sink_col: str = "sink",
) -> DataFrame:
    """Steps 1–2 of the scale design as a standalone plan:
    ``(sink, conv_id, _block) → _block_start`` (exclusive byte prefix).

    Requires ``sink_col, conv_id, turn_idx, row_bytes`` — at scale feed it
    a projection straight off the raw scan (route key + octet_length only;
    see ``pipeline.write_block_offsets``), materialize the tiny result
    (rows/block_turns rows), and pass it to ``assign_chunks(offsets=...)``
    so the fact table is scanned exactly once.  The per-block groupBy is
    the only pass over the fact rows; the per-sink window then runs over
    summaries, one task per sink (see the module docstring for the
    ``block_turns`` lever).
    """
    w_sink = (
        Window.partitionBy(sink_col)
        .orderBy("conv_id", "_block")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("_block", F.floor(F.col("turn_idx") / F.lit(block_turns)))
        .groupBy(sink_col, "conv_id", "_block")
        .agg(F.sum("row_bytes").alias("_block_bytes"))
        .withColumn(
            "_block_start",
            F.coalesce(F.sum("_block_bytes").over(w_sink), F.lit(0)),
        )
        .drop("_block_bytes")
    )


def assign_chunks(
    df: DataFrame,
    chunk_bytes: int = CHUNK_BYTES,
    bin_bytes: int = IR_BIN_BYTES,
    block_turns: int = DEFAULT_BLOCK_TURNS,
    sink_col: str = "sink",
    offsets: DataFrame | None = None,
) -> DataFrame:
    """Scalable hierarchical chunk assignment (see module docstring).

    Requires columns: ``sink_col, conv_id, turn_idx, row_bytes``.
    Adds: ``byte_start, chunk_id, ir_bin_id``.

    ``offsets``: a pre-materialized :func:`block_offsets` table.  When
    given, this plan reads the fact input ONCE (broadcast join + bounded
    intra-block window — no summary branch); when None, the summary is a
    branch of the same lazy plan, which costs a second (column-pruned)
    pass over the size/route columns — fine interactively, wrong at scale.

    The block-offset summary is always broadcast (it is input_rows /
    block_turns rows — tune ``block_turns`` so it stays a few million at
    most), so the fact side is shuffled exactly **once** (for the
    intra-block window), not twice (SMJ would add its own exchange).
    """
    df = df.withColumn("_block", F.floor(F.col("turn_idx") / F.lit(block_turns)))
    if offsets is not None:
        meta = {}
        for f in offsets.schema.fields:
            if f.name == "_block_start":
                meta = f.metadata or {}
        stamped = meta.get("block_turns")
        if stamped is not None and int(stamped) != block_turns:
            raise ValueError(
                f"offsets table was built with block_turns={stamped}, "
                f"assign_chunks called with {block_turns} — the block-key "
                "join would silently drop rows"
            )
        blocks = offsets
    else:
        blocks = block_offsets(df, block_turns, sink_col)
    # LEFT join + loud failure on uncovered rows (ADVICE r2, medium): an
    # inner join against an offsets table built from a different/stale
    # input snapshot would silently DROP fact rows from the committed sink
    # output.  With a left join, any fact row the offsets table does not
    # cover surfaces as a null _block_start and raises at execution time
    # instead of losing data.  (The block_turns metadata guard above
    # catches the granularity-mismatch case before any compute.)
    # NULL-SAFE equality on every key (review fix r3): a malformed row
    # with NULL conv_id/turn_idx forms its own group in block_offsets, and
    # plain `=` would never match it back — falsely blaming the offsets
    # table for a row the pipeline elsewhere tolerates (encode_failed).
    blocks = F.broadcast(
        blocks.select(
            F.col(sink_col).alias("_b_sink"),
            F.col("conv_id").alias("_b_conv"),
            F.col("_block").alias("_b_block"),
            "_block_start",
        )
    )
    cond = (
        df[sink_col].eqNullSafe(blocks["_b_sink"])
        & df["conv_id"].eqNullSafe(blocks["_b_conv"])
        & df["_block"].eqNullSafe(blocks["_b_block"])
    )
    out = df.join(blocks, cond, "left").drop("_b_sink", "_b_conv", "_b_block")
    covered_start = F.coalesce(
        F.col("_block_start"),
        F.raise_error(
            F.concat(
                F.lit(
                    "assign_chunks: fact row not covered by the offsets "
                    "table (stale or mismatched block_offsets input): sink="
                ),
                F.col(sink_col).cast("string"),
                F.lit(" conv_id="),
                F.col("conv_id").cast("string"),
                F.lit(" block="),
                F.col("_block").cast("string"),
            )
        ).cast("bigint"),
    )
    w_block = (
        Window.partitionBy(sink_col, "conv_id", "_block")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = out.withColumn(
        "byte_start",
        covered_start + F.coalesce(F.sum("row_bytes").over(w_block), F.lit(0)),
    ).drop("_block", "_block_start")
    return out.withColumn(
        "chunk_id", F.floor(F.col("byte_start") / F.lit(chunk_bytes))
    ).withColumn("ir_bin_id", F.floor(F.col("byte_start") / F.lit(bin_bytes)))


def assign_chunks_single_window(
    df: DataFrame,
    chunk_bytes: int = CHUNK_BYTES,
    bin_bytes: int = IR_BIN_BYTES,
    sink_col: str = "sink",
) -> DataFrame:
    """Reference formulation — one window per sink.  Only for equivalence
    tests and the DuckDB oracle; do NOT use at scale (single-task sink)."""
    w = (
        Window.partitionBy(sink_col)
        .orderBy("conv_id", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df.withColumn(
        "byte_start", F.coalesce(F.sum("row_bytes").over(w), F.lit(0))
    )
    return out.withColumn(
        "chunk_id", F.floor(F.col("byte_start") / F.lit(chunk_bytes))
    ).withColumn("ir_bin_id", F.floor(F.col("byte_start") / F.lit(bin_bytes)))


def chunk_stats(df: DataFrame, sink_col: str = "sink") -> DataFrame:
    """Per-chunk row/byte stats (A2/A3 analogue: buffer + zstd size tracking,
    `internal/irzstd/disk.go:148-157,302-317`)."""
    return df.groupBy(sink_col, "chunk_id").agg(
        F.count("*").alias("chunk_rows"),
        F.sum("row_bytes").alias("chunk_bytes"),
        F.min("byte_start").alias("chunk_start"),
    )
