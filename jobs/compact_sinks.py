#!/usr/bin/env python
"""spark-submit entry point for the offline archive-compaction pass.

The analogue of CLP's out-of-band archive building: reads a committed
run's sink table (written with ``--sink-layout archive``), template-
clusters it with ``compact_archive`` (operators/archive.py — identical
rows, ~33% fewer stored bytes, row groups prunable by logtype footer
stats), and writes the clustered copy to ``--output``.  The source run
is never modified; point consumers (``load_sinks`` reads the layout
from the data marker, so copy ``_lineage`` alongside, as this job does)
at the new root once the write commits.

    spark-submit --py-files fluent_bit_clp_spark.zip jobs/compact_sinks.py \
        --input <sink-root> --output <clustered-root> --run-id run-2026-08-16
"""

from __future__ import annotations

import argparse
import json
import os
import shutil


def copy_sidecars(input_root: str, output_root: str) -> None:
    """Copy the run's non-data sidecars to the clustered root.

    - ``archive_logtype_dict`` travels verbatim: clustering reorders rows
      but never changes the template set, so search_stored_archive stays
      readable against the new root without a rebuild pass
      (plans/pipeline.py maintains it at write time).  It is the only
      dictionary a search of an archive root needs: ``search_run`` and
      ``search_logs --context`` read no other.
    - ``_lineage`` manifests carry ``path`` fields under the OLD root —
      REBUILD them under the new root (review fix r5: a verbatim copy
      pointed consumers at the source run).  Roots are compared
      normalized+absolute (ADVICE r5: an unanchored str.replace silently
      no-oped when --input was spelled differently — relative vs
      absolute, trailing slash — from the root recorded at commit time),
      and a recorded path outside the input root fails loudly instead of
      being copied still pointing at the source run.

    Pure filesystem work — factored out of main() so the rewrite rules
    are unit-testable without a SparkSession.
    """
    src_dict = os.path.join(input_root, "archive_logtype_dict")
    if os.path.isdir(src_dict):
        shutil.copytree(
            src_dict, os.path.join(output_root, "archive_logtype_dict")
        )
    src_lin = os.path.join(input_root, "_lineage")
    if not os.path.isdir(src_lin):
        return
    norm_in = os.path.normpath(os.path.abspath(input_root))
    for root, _, files in os.walk(src_lin):
        rel = os.path.relpath(root, src_lin)
        dst_dir = os.path.join(output_root, "_lineage", rel)
        os.makedirs(dst_dir, exist_ok=True)
        for f in files:
            src_f = os.path.join(root, f)
            if f.endswith(".json"):
                with open(src_f) as fh:
                    payload = json.load(fh)
                if isinstance(payload.get("path"), str):
                    rec = os.path.normpath(os.path.abspath(payload["path"]))
                    if not (rec == norm_in
                            or rec.startswith(norm_in + os.sep)):
                        raise ValueError(
                            f"manifest {src_f!r} records path "
                            f"{payload['path']!r} outside the input root "
                            f"{input_root!r} — refusing to copy a "
                            "manifest that would keep pointing at the "
                            "source run"
                        )
                    payload["path"] = os.path.join(
                        output_root, os.path.relpath(rec, norm_in)
                    )
                with open(os.path.join(dst_dir, f), "w") as fh:
                    json.dump(payload, fh)
            else:
                shutil.copy2(src_f, os.path.join(dst_dir, f))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="committed run root")
    ap.add_argument("--output", required=True, help="clustered copy root")
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument(
        "--ts-col",
        default=None,
        help="cluster time-leading on this column (CLP's time-segmented "
        "archives): row groups become prunable by BOTH timestamp and "
        "template footer stats — pair with "
        "search_stored_archive(time_range=...)",
    )
    ap.add_argument("--time-bucket-ms", type=int, default=3_600_000)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from fluent_bit_clp_spark.operators.archive import compact_archive
    from fluent_bit_clp_spark.plans import lineage

    marker = lineage.read_data_marker(args.input, args.run_id)
    if marker.get("sink_layout", "working") != "archive":
        raise ValueError(
            f"run '{args.run_id}' at {args.input!r} is not an archive-layout "
            "run; compaction clusters the archive template column"
        )

    spark = SparkSession.builder.appName("clp-archive-compaction").getOrCreate()
    sinks = spark.read.parquet(os.path.join(args.input, "sinks"))
    rows = sinks.count()
    (
        compact_archive(
            sinks,
            num_partitions=args.num_partitions,
            ts_col=args.ts_col,
            time_bucket_ms=args.time_bucket_ms,
        )
        .write.mode("error")
        .partitionBy("sink")
        .parquet(os.path.join(args.output, "sinks"))
    )
    # verify FIRST, then commit the lineage sidecar: the copied data
    # marker is what makes the new root look committed to load_sinks, so
    # it must be the LAST artifact to appear (same tmp-last ordering as
    # plans/lineage.py's own commit protocol; review fix r5 — copying
    # before the check left a committed-looking root on a failed verify)
    out_rows = spark.read.parquet(os.path.join(args.output, "sinks")).count()
    if out_rows != rows:
        raise RuntimeError(
            f"row count changed during compaction: {rows} -> {out_rows}"
        )
    copy_sidecars(args.input, args.output)
    print(json.dumps({"rows": rows, "run_id": args.run_id, "compacted": True}))
    spark.stop()


if __name__ == "__main__":
    main()
