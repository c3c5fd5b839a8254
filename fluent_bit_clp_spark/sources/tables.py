"""Source connectors + job config validation.

- :func:`load_table` / :func:`load_transcripts` — Iceberg-first table scan
  with plain-parquet fallback (no Iceberg runtime jar in this sandbox; the
  layout and every downstream test are identical — SURVEY.md §7 stance).
- :func:`read_jsonl_records` — the reference-shaped raw-record source
  (FIXTURES.md §4): JSONL files with ``timestamp/level/message/service``
  fields, the S1/S2 decoder-path analogue
  (`/root/reference/internal/decoder/decoder.go:129-176`).
- :class:`JobConfig` — P7 analogue of ``NewS3Config``
  (`/root/reference/internal/outctx/config.go:47-149`): typed coercion +
  rule validation with joined error messages, at submit time.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StoreProbeFailed(RuntimeError):
    """Common base for output-store probe failures — catch THIS when the
    reachable/writable distinction doesn't matter (ADVICE r4: under Spark
    Connect the split is best-effort, classified from the error class /
    exception type, so callers must not branch load-bearing logic on
    which subclass arrived)."""


class StoreNotReachable(StoreProbeFailed):
    """The output store's scheme/host cannot be resolved — the analogue of
    the reference's HeadBucket 'bucket does not exist / no permission'
    typed errors (`plugins/out_clp_s3_v2/internal/s3.go:58-114`)."""


class StoreNotWritable(StoreProbeFailed):
    """The output store exists but refuses writes — the analogue of the
    reference's credential/ACL validation failure
    (`internal/outctx/context.go:92-112`)."""


def validate_output_store(
    spark: SparkSession, out_dir: str, run_id: str = ""
) -> None:
    """K3: probe the output store BEFORE any compute, with typed errors.

    The reference issues a HeadBucket at plugin init so a typo'd bucket or
    missing credentials fail in seconds, not after the first 16 MB chunk
    (`internal/outctx/context.go:92-112`, `s3.go:58-114`).  Spark's
    equivalent cross-store surface is the Hadoop FileSystem API — the same
    probe works for ``file://``, ``hdfs://`` and ``s3a://`` (where it
    becomes a real HeadBucket + PutObject under the hood): resolve the
    filesystem for the path (reachability), then write-and-delete a
    zero-byte marker (writability).  Cheap, idempotent, run at submit time
    by :func:`plans.pipeline.run_to_sinks`.

    The marker name is suffixed with ``run_id`` (ADVICE r3: a fixed key
    let two concurrent runs probing the same prefix delete each other's
    marker mid-probe — a latent false ``StoreNotWritable``).  Under
    Spark Connect the classic ``_jvm`` bridge is absent; the probe then
    writes a zero-row marker table through the DataFrame writer instead
    (review fix r4: a warning no-op silently gave up the K3
    fail-before-compute contract).  That marker directory is removed
    best-effort for local paths and otherwise left behind — it is
    zero-row, underscore-prefixed (ignored by Spark/Hive readers), and
    overwritten by the next probe of the same run_id.
    """
    if not run_id:
        import uuid

        run_id = uuid.uuid4().hex[:12]
    if not hasattr(spark, "_jvm") or spark._jvm is None:
        import os
        import shutil

        marker = out_dir.rstrip("/") + f"/_store_probe-{run_id}"
        try:
            spark.range(0).write.mode("overwrite").parquet(marker)
        except Exception as e:
            # Classification is BEST-EFFORT here (ADVICE r4): prefer the
            # structured Spark error class / exception type over message
            # text — a timeout whose message mentions neither keyword must
            # not be misfiled.  Both subclasses share StoreProbeFailed, so
            # callers that only care that the probe failed catch the base.
            err_class = ""
            get_ec = getattr(e, "getErrorClass", None)
            if callable(get_ec):
                try:
                    err_class = get_ec() or ""
                except Exception:
                    err_class = ""
            probe_sig = f"{type(e).__name__} {err_class} {e}"
            # anchored to exception CLASS names / specific phrases, not
            # free substrings (review fix r5: bare "Connect" matched
            # SparkConnectGrpcException — every Spark-Connect failure
            # misfiled as unreachable — and bare "Timeout" matched ACL
            # errors whose message merely mentions a timeout)
            unreachable_markers = (
                "SCHEME",            # FAILED_TO_LOAD_FILESYSTEM / invalid scheme
                "UnknownHost",
                "Unresolved",
                "ConnectException",
                "connection refused",
                "connection timed out",
                "ConnectTimeout",
                "SocketTimeout",
                "NoRouteToHost",
                "FileSystem",
                "scheme",
            )
            if any(m.lower() in probe_sig.lower() for m in unreachable_markers):
                raise StoreNotReachable(
                    f"output store {out_dir!r} is not reachable: {e}"
                ) from e
            raise StoreNotWritable(
                f"output store {out_dir!r} refused the write probe: {e}"
            ) from e
        local = marker.removeprefix("file:")
        if os.path.isdir(local):  # best-effort cleanup, local stores only
            shutil.rmtree(local, ignore_errors=True)
        return
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    try:
        jpath = jvm.org.apache.hadoop.fs.Path(out_dir)
        fs = jpath.getFileSystem(hconf)
    except Exception as e:  # unresolvable scheme / host / credentials
        raise StoreNotReachable(
            f"output store {out_dir!r} is not reachable: {e}"
        ) from e
    probe = jvm.org.apache.hadoop.fs.Path(out_dir, f"_store_probe-{run_id}")
    try:
        out = fs.create(probe, True)  # overwrite=True: idempotent re-probe
        out.close()
        fs.delete(probe, False)
    except Exception as e:
        raise StoreNotWritable(
            f"output store {out_dir!r} refused the write probe: {e}"
        ) from e


def load_table(spark: SparkSession, path_or_table: str, fmt: str = "auto") -> DataFrame:
    """Iceberg catalog table if addressable, else parquet path."""
    if fmt == "iceberg" or (fmt == "auto" and "." in path_or_table and "/" not in path_or_table):
        return spark.read.format("iceberg").load(path_or_table)
    return spark.read.parquet(path_or_table)


def load_transcripts(spark: SparkSession, path: str) -> DataFrame:
    df = load_table(spark, path)
    expected = {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    missing = expected - set(df.columns)
    if missing:
        raise ValueError(f"transcript table missing columns: {sorted(missing)}")
    return df


def read_jsonl_records(spark: SparkSession, path: str) -> DataFrame:
    """Reference-shaped JSONL source → (ts, record_json) rows.

    Reads as text (not schema-inferred JSON) so malformed lines survive to
    the PERMISSIVE parse stage and get counted, mirroring the decoder's
    drop-and-log policy (decoder.go:147-163)."""
    lines = spark.read.text(path).withColumnRenamed("value", "record_json")
    parsed = lines.withColumn(
        "ts",
        F.to_timestamp(F.get_json_object("record_json", "$.timestamp")),
    )
    return parsed


@dataclass
class JobConfig:
    """Validated job configuration (P7).  Field spellings follow the
    reference's plugin options where they exist."""

    input_path: str = ""
    output_dir: str = ""
    run_id: str = "run-0"
    use_single_key: bool = True          # config.go:29,56
    single_key: str = "log"              # config.go:30,57
    allow_missing_key: bool = True       # config.go:31,58
    upload_size_mb: int = 16             # config.go:34,61 (bounds 2..<1000)
    timezone: str = "America/Toronto"    # config.go:35,62
    ir_bin_bytes: int = 2 << 20          # irzstd/disk.go:16-17
    block_turns: int = 8192
    encoding_mode: str = "i64"           # "4byte" = CLP FourByteEncoding
                                         # parity (ingestion.go:66-67)
    sink_layout: str = "working"         # "archive" = columnar archive
                                         # storage layout (operators/
                                         # archive.py; CLP's kind-typed
                                         # placeholder trick, 0.57x bytes)
    errors: list[str] = field(default_factory=list, repr=False)

    def validate(self) -> "JobConfig":
        errs = []
        if not self.input_path:
            errs.append("input_path: required")
        if not self.output_dir:
            errs.append("output_dir: required")
        if not (2 <= self.upload_size_mb < 1000):
            errs.append("upload_size_mb: must satisfy 2 <= x < 1000")
        if self.ir_bin_bytes <= 0:
            errs.append("ir_bin_bytes: must be positive")
        if self.block_turns <= 0:
            errs.append("block_turns: must be positive")
        if self.use_single_key and not self.single_key:
            errs.append("single_key: required when use_single_key")
        if self.encoding_mode not in ("i64", "4byte"):
            errs.append("encoding_mode: must be 'i64' or '4byte'")
        if self.sink_layout not in ("working", "archive"):
            errs.append("sink_layout: must be 'working' or 'archive'")
        if errs:
            raise ValueError("; ".join(errs))  # joined errors, config.go:144-147
        return self

    @property
    def chunk_bytes(self) -> int:
        return self.upload_size_mb << 20
