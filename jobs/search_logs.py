#!/usr/bin/env python
"""spark-submit entry point for searching a committed run — the CLP
``clg`` analogue over this engine's stores (compress → SEARCH → extract).

Layout and encoding mode come from the run's data marker; the prune
dictionary is the run's persisted template dictionary (written by the
pipeline's phase 3, extended cross-run for archive stores) — no
per-session dictionary recompute.  Dictionary-variable predicates test
each row's ``dict_vars``, so no variable dictionary is read, and a root
clustered by ``jobs/compact_sinks.py`` searches like its source.
Matching rows are written as parquet WITH their decoded text, and one
JSON summary line goes to stdout.

    spark-submit --py-files fluent_bit_clp_spark.zip jobs/search_logs.py \
        --input <sink-root> --output <hits-root> --run-id run-2026-08-16 \
        --query 'Retrying container-* after *s: c?nnection reset by peer' \
        [--query-name conn_reset --query '...' --query-name '...']  \
        [--ignore-case] [--sink tools.sh] [--time-range lo_ms hi_ms] \
        [--count-by-time 3600000 | --context 2 1]

Modes (mutually exclusive):
- default: hit rows (+ ``query_name`` when several --query are given —
  the one-scan multi-query path);
- ``--count-by-time BUCKET_MS``: the log-viewer count-per-bucket
  aggregation instead of rows;
- ``--context N_BEFORE N_AFTER``: hits plus surrounding rows
  (``is_match`` flag) — probes the run's full table with broadcast hit
  spans, since context rows are by definition outside the hit prune
  (single --query only).

Scale shape: one pruned scan of the store (template-isin pushdown on
either layout), decode confined to candidates, output written
partitioned by sink.
"""

from __future__ import annotations

import argparse
import json
import os


def search(
    spark,
    input_root: str,
    output_root: str,
    run_id: str = "run-0",
    queries: dict[str, str] | None = None,
    sink: str | None = None,
    time_range: tuple[int, int] | None = None,
    ignore_case: bool = False,
    count_by_time: int | None = None,
    context: tuple[int, int] | None = None,
    profile: bool = False,
) -> dict:
    """The search itself — factored out of main() so tests drive it
    against their own SparkSession (main() owns session lifecycle)."""
    from pyspark.sql import functions as F

    from fluent_bit_clp_spark.functions.clp_native import clp_decode_column
    from fluent_bit_clp_spark.operators.search import (
        search_count_by_time,
        search_with_context,
    )
    from fluent_bit_clp_spark.plans import lineage
    from fluent_bit_clp_spark.plans.pipeline import (
        load_sinks,
        read_template_dictionary,
        search_run,
    )

    if sum([count_by_time is not None, context is not None, profile]) > 1:
        raise ValueError(
            "--count-by-time, --context and --profile are exclusive"
        )
    if profile and not queries:
        # whole-run profile: the template summary of everything stored
        # (marker mode threaded — ADVICE r6 medium: the profile decodes
        # stored rows, so a 4byte-mode run needs the 4byte unpack)
        marker_mode = lineage.read_data_marker(input_root, run_id).get(
            "encoding_mode", "i64"
        )
        tbl = load_sinks(spark, input_root, run_id)
        if sink is not None:
            tbl = tbl.where(F.col("sink") == sink)
        if time_range is not None:
            lo, hi = time_range
            tbl = tbl.where(F.col("ts_ms").between(F.lit(lo), F.lit(hi)))
        return _write_profile(spark, tbl, marker_mode, output_root, run_id)
    if not queries:
        raise ValueError("at least one --query is required")
    single = next(iter(queries.values())) if len(queries) == 1 else None

    if context is not None:
        if single is None:
            raise ValueError("--context supports a single --query")
        # context rows are OUTSIDE the hit prune by definition, so this
        # probes the layout-agnostic full view with broadcast hit spans;
        # the persisted template dictionary still prunes the hits
        marker = lineage.read_data_marker(input_root, run_id)
        tbl = load_sinks(spark, input_root, run_id)
        if sink is not None:
            tbl = tbl.where(F.col("sink") == sink)
        if time_range is not None:
            lo, hi = time_range
            tbl = tbl.where(F.col("ts_ms").between(F.lit(lo), F.lit(hi)))
        nb, na = context
        hits = search_with_context(
            tbl,
            single,
            n_before=nb,
            n_after=na,
            dictionary=read_template_dictionary(
                spark, input_root, marker.get("sink_layout", "working")
            ),
            mode=marker.get("encoding_mode", "i64"),
            var_dictionary=True,
            ignore_case=ignore_case,
        )
        mode = marker.get("encoding_mode", "i64")
    else:
        hits = search_run(
            spark,
            input_root,
            single if single is not None else queries,
            run_id,
            sink=sink,
            time_range=time_range,
            ignore_case=ignore_case,
        )
        mode = lineage.read_data_marker(input_root, run_id).get(
            "encoding_mode", "i64"
        )

    if profile:
        # profile of the MATCHING rows — "what templates does this query
        # hit"; a multi-query result carries one row per matching query,
        # so the union dedups on the row identity before profiling
        rows_in = hits
        if single is None:
            rows_in = hits.drop("query_name").dropDuplicates(
                ["sink", "conv_id", "turn_idx"]
            )
        return _write_profile(spark, rows_in, mode, output_root, run_id)
    if count_by_time is not None:
        out = search_count_by_time(hits, bucket_ms=count_by_time)
        buckets, total = (
            _write_and_read_back(spark, out, os.path.join(output_root, "counts"))
            .agg(F.count("*"), F.sum("n"))
            .first()
        )
        return {
            "run_id": run_id,
            "mode": "count_by_time",
            "buckets": buckets,
            "matches": int(total or 0),
            "searched": True,
        }

    keep = ["sink", "conv_id", "turn_idx", "ts_ms"]
    extra = (
        ["query_name"]
        if single is None
        else (["is_match"] if context is not None else [])
    )
    rows = hits.withColumn(
        "text", clp_decode_column(mode=mode)
    ).select(*keep, *extra, "text")
    (
        rows.repartition("sink")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("error")
        .partitionBy("sink")
        .parquet(os.path.join(output_root, "hits"))
    )
    written = spark.read.schema(rows.schema).parquet(
        os.path.join(output_root, "hits")
    )
    return {
        "run_id": run_id,
        "mode": "context" if context is not None else "rows",
        "rows_written": written.count(),
        "searched": True,
    }


def _write_and_read_back(spark, out, path: str):
    """Write ``out`` to ``path`` and return the written table, read with
    ``out``'s schema: the summary numbers come from the stored rows, so
    the lazy search is not executed again and no schema is inferred."""
    out.write.mode("error").parquet(path)
    return spark.read.schema(out.schema).parquet(path)


def _write_profile(
    spark, rows, mode: str, output_root: str, run_id: str
) -> dict:
    from fluent_bit_clp_spark.operators.dictionary import template_profile

    out = template_profile(rows, ts_col="ts_ms", example=True, mode=mode)
    written = _write_and_read_back(
        spark, out, os.path.join(output_root, "profile")
    )
    return {
        "run_id": run_id,
        "mode": "profile",
        "templates": written.count(),
        "searched": True,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="committed run root")
    ap.add_argument("--output", required=True, help="search output root")
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument(
        "--query", action="append", default=None,
        help="CLP wildcard query (*/?); repeat for one-scan multi-query; "
             "optional with --profile (whole-run profile)",
    )
    ap.add_argument(
        "--query-name", action="append", default=None,
        help="name for the Nth --query (defaults to q1, q2, ...)",
    )
    ap.add_argument("--ignore-case", action="store_true")
    ap.add_argument("--sink", default=None)
    ap.add_argument(
        "--time-range", nargs=2, type=int, default=None,
        metavar=("LO_MS", "HI_MS"),
    )
    ap.add_argument(
        "--count-by-time", type=int, default=None, metavar="BUCKET_MS",
        help="emit per-bucket match counts instead of rows",
    )
    ap.add_argument(
        "--context", nargs=2, type=int, default=None,
        metavar=("N_BEFORE", "N_AFTER"),
        help="emit hits plus surrounding rows (is_match flag)",
    )
    ap.add_argument(
        "--profile", action="store_true",
        help="emit the per-template profile (of the run, or of the "
             "matching rows when --query is given)",
    )
    args = ap.parse_args()

    qlist = args.query or []
    if not qlist and not args.profile:
        raise SystemExit("at least one --query is required (or --profile)")
    names = args.query_name or []
    if len(names) > len(qlist):
        raise SystemExit("more --query-name values than --query values")
    queries = {
        (names[i] if i < len(names) else f"q{i + 1}"): q
        for i, q in enumerate(qlist)
    }

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("clp-search-logs").getOrCreate()
    summary = search(
        spark,
        args.input,
        args.output,
        args.run_id,
        queries=queries,
        sink=args.sink,
        time_range=tuple(args.time_range) if args.time_range else None,
        ignore_case=args.ignore_case,
        count_by_time=args.count_by_time,
        context=tuple(args.context) if args.context else None,
        profile=args.profile,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
