#!/usr/bin/env python
"""spark-submit entry point for text extraction — the analogue of CLP's
``x``/decompress command (the reference pipeline's consumers read CLP
archives back out through YScope tooling; here the engine itself closes
the loop: compress → search → EXTRACT).

Reads a committed run's sink table (either ``--sink-layout``; the layout
comes from the data marker via ``load_sinks``), decodes every row back to
its original text with the native decoder (``clp_native.clp_decode``, a
Catalyst expression: no Python worker), and writes one text area per sink
(``text/sink=<name>/*.txt``), rows ordered by (conv_id, turn_idx) within
each file — the pipeline's explicit ordering keys (row order inside
stored sink files is storage-internal).

    spark-submit --py-files fluent_bit_clp_spark.zip jobs/extract_text.py \
        --input <sink-root> --output <text-root> --run-id run-2026-08-16 \
        [--sink tools.sh] [--time-range lo_ms hi_ms] \
        [--query 'job * done' [--ignore-case]]

Scale shape: one column-pruned scan of the selected sinks (+ the lazy
archive reconstruction when stored as archive — Catalyst prunes it into
the same scan), decode confined to selected rows, one hash exchange on
sink for the partitioned write.  ``--time-range`` filters on ``ts_ms``
BEFORE decode — the predicate reaches the parquet scan, so a
time-clustered archive skips row groups exactly as in time-bounded
search.  Encode-failed rows (null logtype) decode to null and are
written as empty lines would be ambiguous — they are SKIPPED and
counted in the summary instead.
"""

from __future__ import annotations

import argparse
import json
import os


def extract(
    spark,
    input_root: str,
    output_root: str,
    run_id: str = "run-0",
    sink: str | None = None,
    time_range: tuple[int, int] | None = None,
    query: str | None = None,
    ignore_case: bool = False,
) -> dict:
    """The extraction itself — factored out of main() so tests drive it
    against their own SparkSession (main() owns session lifecycle).

    ``query`` (r6) extracts only the rows matching a CLP wildcard query
    (``*``/``?``; ``ignore_case`` for clg's ``--ignore-case``) — the
    ``clg``-then-extract workflow in one job: the logtype prune and
    variable predicates run on the encoded columns before any decode, so
    a selective query decodes only its candidates.  (For scan-level
    template pushdown on an archive-layout run, search with
    search_stored_archive and extract by its keys; here the filter
    applies to the reconstructed view — one pass either way.)"""
    from pyspark.sql import functions as F

    from fluent_bit_clp_spark.functions.clp_native import clp_decode
    from fluent_bit_clp_spark.operators.search import search_encoded
    from fluent_bit_clp_spark.plans import lineage
    from fluent_bit_clp_spark.plans.pipeline import load_sinks

    # ADVICE r6 (high): thread the run's committed encoding_mode through
    # decode AND query pruning — defaulting to i64 on a 4byte-mode run
    # silently corrupted extracted float variables and dropped true
    # --query matches (search.py documents exactly that failure).
    mode = lineage.read_data_marker(input_root, run_id).get(
        "encoding_mode", "i64"
    )
    df = load_sinks(spark, input_root, run_id)
    if sink is not None:
        known = [r[0] for r in df.select("sink").distinct().collect()]
        if sink not in known:
            raise ValueError(
                f"sink {sink!r} not in this run's sinks {sorted(known)}"
            )
        df = df.where(F.col("sink") == sink)
    if time_range is not None:
        lo, hi = time_range
        df = df.where(F.col("ts_ms").between(F.lit(lo), F.lit(hi)))
    if query is not None:
        df = search_encoded(df, query, mode=mode, ignore_case=ignore_case)
    total = df.count()
    dec = clp_decode(df, mode=mode).select(
        "sink", "conv_id", "turn_idx", "decoded_text"
    )
    ok = dec.where(F.col("decoded_text").isNotNull())
    skipped = total - ok.count()
    (
        ok.repartition("sink")
        .sortWithinPartitions("conv_id", "turn_idx")
        .select("sink", "decoded_text")
        .write.mode("error")
        .partitionBy("sink")
        .text(os.path.join(output_root, "text"))
    )
    return {
        "run_id": run_id,
        "rows_written": total - skipped,
        "rows_skipped_undecodable": skipped,
        "extracted": True,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="committed run root")
    ap.add_argument("--output", required=True, help="text output root")
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--sink", default=None, help="extract one sink only")
    ap.add_argument(
        "--time-range", nargs=2, type=int, default=None,
        metavar=("LO_MS", "HI_MS"),
        help="inclusive ts_ms window; pushed into the scan",
    )
    ap.add_argument(
        "--query", default=None,
        help="CLP wildcard query (*/?); extract matching rows only",
    )
    ap.add_argument(
        "--ignore-case", action="store_true",
        help="case-insensitive --query (clg --ignore-case)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("clp-extract-text").getOrCreate()
    summary = extract(
        spark,
        args.input,
        args.output,
        args.run_id,
        sink=args.sink,
        time_range=tuple(args.time_range) if args.time_range else None,
        query=args.query,
        ignore_case=args.ignore_case,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
