"""jobs/extract_text.py — the CLP ``x`` (decompress) surface: a committed
run's sinks decode back to the original texts, ordered by the pipeline's
explicit (conv_id, turn_idx) keys, for BOTH sink layouts."""

import glob
import os
import re
import sys

import pytest
from pyspark.sql import functions as F

from fluent_bit_clp_spark.datagen import transcripts
from fluent_bit_clp_spark.plans.pipeline import run_to_sinks
from fluent_bit_clp_spark.sources.tables import JobConfig

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "jobs"),
)


@pytest.mark.parametrize("layout", ["working", "archive"])
def test_extract_roundtrips_texts(spark, tmp_path, layout):
    from extract_text import extract

    df = transcripts(spark, 300, with_edge_rows=False)
    root = str(tmp_path / f"run_{layout}")
    run_to_sinks(spark, df, root, "run-x", cfg=JobConfig(sink_layout=layout))
    out = str(tmp_path / f"txt_{layout}")
    summary = extract(spark, root, out, "run-x")
    n_in = df.where(F.col("text").isNotNull()).count()
    assert summary["rows_written"] == n_in
    assert summary["rows_skipped_undecodable"] == df.count() - n_in
    lines = []
    for f in glob.glob(os.path.join(out, "text", "sink=*", "part-*.txt")):
        with open(f) as fh:
            lines.extend(ln.rstrip("\n") for ln in fh)
    want = sorted(r.text for r in df.where(F.col("text").isNotNull())
                  .select("text").collect())
    assert sorted(lines) == want


@pytest.mark.parametrize("layout", ["working", "archive"])
def test_extract_4byte_roundtrips_texts(spark, tmp_path, layout):
    """A 4byte-mode run extracts byte-exact: the decoder takes the run's
    committed encoding mode (an i64 decode of 4byte float words renders
    wrong digits)."""
    from extract_text import extract

    df = transcripts(spark, 300, with_edge_rows=False)
    root = str(tmp_path / f"run4_{layout}")
    cfg = JobConfig(sink_layout=layout, encoding_mode="4byte")
    run_to_sinks(spark, df, root, "run-4", cfg=cfg)
    out = str(tmp_path / f"txt4_{layout}")
    summary = extract(spark, root, out, "run-4")
    want = sorted(r.text for r in df.where(F.col("text").isNotNull())
                  .select("text").collect())
    assert any(re.search(r"\d\.\d", t) for t in want)  # floats exercised
    assert summary["rows_written"] == len(want)
    lines = []
    for f in glob.glob(os.path.join(out, "text", "sink=*", "part-*.txt")):
        with open(f) as fh:
            lines.extend(ln.rstrip("\n") for ln in fh)
    assert sorted(lines) == want


def test_extract_single_sink_and_bad_sink(spark, tmp_path):
    from extract_text import extract

    df = transcripts(spark, 200, with_edge_rows=False)
    root = str(tmp_path / "run_s")
    run_to_sinks(spark, df, root, "run-x")
    out = str(tmp_path / "txt_s")
    extract(spark, root, out, "run-x", sink="ops")
    dirs = os.listdir(os.path.join(out, "text"))
    assert [d for d in dirs if d.startswith("sink=")] == ["sink=ops"]
    with pytest.raises(ValueError, match="not in this run's sinks"):
        extract(spark, root, str(tmp_path / "txt_nope"), "run-x",
                sink="nope")


def test_extract_time_range(spark, tmp_path):
    from extract_text import extract

    df = transcripts(spark, 200, with_edge_rows=False)
    root = str(tmp_path / "run_t")
    run_to_sinks(spark, df, root, "run-x")
    # pick a window covering roughly half the rows by ts
    enc = spark.read.parquet(os.path.join(root, "sinks"))
    lo, mid = enc.agg(
        F.min("ts_ms"), F.expr("percentile_approx(ts_ms, 0.5)")
    ).first()
    out = str(tmp_path / "txt_t")
    summary = extract(spark, root, out, "run-x",
                      time_range=(lo, int(mid)))
    want = enc.where(F.col("ts_ms").between(lo, int(mid))).count()
    assert summary["rows_written"] == want > 0


@pytest.mark.parametrize("layout", ["working", "archive"])
def test_extract_with_query(spark, tmp_path, layout):
    """--query (r6): the clg-then-extract workflow — only rows matching
    the wildcard query are decoded and written, for both layouts, equal
    to the naive regex over the input texts."""
    import re

    from extract_text import extract

    df = transcripts(spark, 300, with_edge_rows=False)
    root = str(tmp_path / f"run_q_{layout}")
    run_to_sinks(spark, df, root, "run-x", cfg=JobConfig(sink_layout=layout))
    out = str(tmp_path / f"txt_q_{layout}")
    q = "Task * started by user * at attempt *"
    summary = extract(spark, root, out, "run-x", query=q)
    pat = "^" + ".*".join(re.escape(p) for p in q.split("*")) + "$"
    want = sorted(
        r.text
        for r in df.where(F.col("text").rlike(pat)).select("text").collect()
    )
    assert summary["rows_written"] == len(want) > 0
    lines = []
    for f in glob.glob(os.path.join(out, "text", "sink=*", "part-*.txt")):
        with open(f) as fh:
            lines.extend(ln.rstrip("\n") for ln in fh)
    assert sorted(lines) == want
    # mis-cased query: nothing without ignore_case, everything with it
    out2 = str(tmp_path / f"txt_qi_{layout}")
    s2 = extract(
        spark, root, out2, "run-x", query=q.upper(), ignore_case=True
    )
    assert s2["rows_written"] == len(want)
    s3 = extract(
        spark, root, str(tmp_path / f"txt_q0_{layout}"), "run-x",
        query=q.upper(),
    )
    assert s3["rows_written"] == 0
