"""Sources (JSONL decoder path, config validation) + streaming encode test."""

import json
import os

import pytest
from pyspark.sql import functions as F

from fluent_bit_clp_spark.operators.parse import (
    log_event,
    parse_json_records,
    single_key_message,
    split_kv_namespaces,
)
from fluent_bit_clp_spark.sources.tables import (
    JobConfig,
    load_transcripts,
    read_jsonl_records,
)
from fluent_bit_clp_spark.streaming.flush import stream_encode_to_sinks


@pytest.fixture()
def jsonl_dir(tmp_path):
    recs = [
        {"timestamp": "2026-01-01T00:00:00Z", "level": "info",
         "message": "Log message 0 from container", "service": "app"},
        {"timestamp": "2026-01-01T00:00:01Z", "level": "ERROR",
         "message": "boom 7", "service": "app",
         "file_path": "/var/log/app.log"},
        {"timestamp": "2026-01-01T00:00:02Z", "log": "single key payload 3"},
    ]
    p = tmp_path / "logs"
    p.mkdir()
    with open(p / "a.jsonl", "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")
        f.write("this is not json\n")
    return str(p)


def test_jsonl_decode_and_failures(spark, jsonl_dir):
    df = parse_json_records(read_jsonl_records(spark, jsonl_dir))
    assert df.count() == 4
    assert df.where("parse_failed").count() == 1  # malformed line counted


def test_kv_namespace_split(spark, jsonl_dir):
    """P5 buildLogEvent: file_path moves user→auto (out_clp_s3_v2.go:321-328)."""
    df = split_kv_namespaces(parse_json_records(read_jsonl_records(spark, jsonl_dir)))
    df = log_event(df)
    rows = df.where(~F.col("parse_failed")).collect()
    with_fp = [r for r in rows if "file_path" in r.record_json][0]
    assert with_fp.log_event.auto.file_path == "/var/log/app.log"
    assert "file_path" not in with_fp.log_event.user
    without_fp = [r for r in rows if "Log message 0" in r.record_json][0]
    assert without_fp.log_event.auto.file_path == ""  # default, :326-328
    assert without_fp.log_event.auto.timestamp == 1767225600000


def test_single_key_extraction(spark, jsonl_dir):
    """P4 getMessage: single key, fallback to whole record when missing."""
    df = parse_json_records(read_jsonl_records(spark, jsonl_dir))
    df = df.withColumn("message", single_key_message())
    ok = df.where(~F.col("parse_failed")).collect()
    by_ts = {r.ts.isoformat(): r for r in ok}
    assert by_ts["2026-01-01T00:00:02"].message == "single key payload 3"
    assert by_ts["2026-01-01T00:00:00"].message.startswith("{")  # fallback
    strict = df.withColumn(
        "message", single_key_message(allow_missing_key=False)
    ).where(~F.col("parse_failed"))
    assert strict.where(F.col("message").isNull()).count() == 2


def test_job_config_validation():
    with pytest.raises(ValueError) as e:
        JobConfig(input_path="x", output_dir="y", upload_size_mb=1).validate()
    assert "upload_size_mb" in str(e.value)
    with pytest.raises(ValueError) as e:
        JobConfig(upload_size_mb=5000).validate()
    msg = str(e.value)
    assert "input_path" in msg and "output_dir" in msg and ";" in msg
    cfg = JobConfig(input_path="a", output_dir="b").validate()
    assert cfg.chunk_bytes == 16 << 20


def test_load_transcripts_schema_check(spark, tmp_path):
    spark.range(3).write.parquet(str(tmp_path / "bad"))
    with pytest.raises(ValueError, match="missing columns"):
        load_transcripts(spark, str(tmp_path / "bad"))


def test_stream_encode_availablenow(spark, tmp_path):
    """Real readStream → encode → partitioned sink with checkpoint."""
    from fluent_bit_clp_spark.datagen import transcripts

    src = str(tmp_path / "src")
    transcripts(spark, 200, with_edge_rows=False).write.parquet(src)
    stream = spark.readStream.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).parquet(src)
    q = stream_encode_to_sinks(
        stream, str(tmp_path / "ckpt"), str(tmp_path / "out"), spark
    ).start()
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 200
    assert "logtype" in out.columns and "sink" in out.columns
    # exactly-once: re-running with the same checkpoint adds nothing
    q2 = stream_encode_to_sinks(
        stream, str(tmp_path / "ckpt"), str(tmp_path / "out"), spark
    ).start()
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 200


def test_stream_encode_archive_layout(spark, tmp_path):
    """Streaming twin of the batch sink_layout='archive' option: the
    checkpointed stream writes the columnar archive layout, and the
    reconstruction matches the batch encode of the same input."""
    from fluent_bit_clp_spark.datagen import transcripts
    from fluent_bit_clp_spark.functions.clp_pandas import clp_encode_pandas
    from fluent_bit_clp_spark.operators.archive import from_archive
    from fluent_bit_clp_spark.operators.enrich import enrich
    from fluent_bit_clp_spark.operators.route import with_sink

    src = str(tmp_path / "src")
    transcripts(spark, 200, with_edge_rows=False).write.parquet(src)
    stream = spark.readStream.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).parquet(src)
    q = stream_encode_to_sinks(
        stream, str(tmp_path / "ckpt"), str(tmp_path / "out"), spark,
        sink_layout="archive",
    ).start()
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 200
    assert {"var_kinds", "dict_var_ids", "logtype_id"}.isdisjoint(out.columns)
    cols = ["conv_id", "turn_idx", "logtype", "var_kinds",
            "encoded_vars", "dict_vars", "logtype_id"]
    got = {
        tuple(map(_canon_cell, r))
        for r in from_archive(out).select(*cols).collect()
    }
    want = {
        tuple(map(_canon_cell, r))
        for r in clp_encode_pandas(
            with_sink(enrich(spark.read.parquet(src), spark))
        ).select(*cols).collect()
    }
    assert got == want


def _canon_cell(v):
    return tuple(v) if isinstance(v, list) else v


def test_stream_encode_rejects_unknown_layout(spark, tmp_path):
    import pytest as _pytest

    stream = spark.readStream.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).parquet(str(tmp_path))
    with _pytest.raises(ValueError, match="sink_layout"):
        stream_encode_to_sinks(
            stream, str(tmp_path / "c"), str(tmp_path / "o"), spark,
            sink_layout="Archive",
        )
