"""Log-level domain + lookup/enrichment tables (broadcast-join side).

Mirrors the reference's severity model verbatim:
- level constants ``trace(0)..fatal(5)``:
  `/root/reference/plugins/out_clp_s3_v2/out_clp_s3_v2.go:47-54`
- case-tolerant alias dictionary (``warning→warn``, ``critical→error``,
  Android ``D/I/W/E``, ``wtf→fatal``): `out_clp_s3_v2.go:62-95`
- missing/unknown levels default to ``info``: `out_clp_s3_v2.go:353-375`
  (``extractLogLevel``).

The reference does an O(1) per-record map lookup; at Spark scale the same
semantics are a **broadcast hash join** against this ~21-row table followed
by ``coalesce(level_id, 2)`` — the left side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

LEVEL_TRACE, LEVEL_DEBUG, LEVEL_INFO, LEVEL_WARN, LEVEL_ERROR, LEVEL_FATAL = range(6)
DEFAULT_LEVEL = LEVEL_INFO  # out_clp_s3_v2.go:369-374

# Verbatim alias → level mapping (out_clp_s3_v2.go:62-95).
LOG_LEVEL_ALIASES: dict[str, int] = {
    "trace": LEVEL_TRACE, "TRACE": LEVEL_TRACE,
    "debug": LEVEL_DEBUG, "DEBUG": LEVEL_DEBUG, "D": LEVEL_DEBUG,
    "info": LEVEL_INFO, "INFO": LEVEL_INFO, "I": LEVEL_INFO,
    "warn": LEVEL_WARN, "warning": LEVEL_WARN, "WARN": LEVEL_WARN,
    "WARNING": LEVEL_WARN, "W": LEVEL_WARN,
    "critical": LEVEL_ERROR, "error": LEVEL_ERROR, "CRITICAL": LEVEL_ERROR,
    "ERROR": LEVEL_ERROR, "E": LEVEL_ERROR,
    "wtf": LEVEL_FATAL, "fatal": LEVEL_FATAL, "FATAL": LEVEL_FATAL,
}

# Role / tool lookup tables (FIXTURES.md §2) — the north_rule's
# broadcast-join enrichment dims.
ROLE_LOOKUP = [
    ("user", 0, "chat"),
    ("assistant", 1, "chat"),
    ("system", 2, "ops"),
    ("tool", 3, "tools"),
]
TOOL_LOOKUP = [
    ("bash", 0, "sh"),
    ("search", 1, "web"),
    ("browser", 2, "web"),
    ("editor", 3, "fs"),
    ("scheduler", 4, "cron"),
]

# Regex pulling an explicit `level=<token>` out of free text (our transcript
# analogue of the reference reading record[log_level_key]).  Portable
# syntax: works identically in Java regex, RE2 and Python `re`.
LEVEL_TOKEN_RE = "level=([A-Za-z]+)"


def level_alias_table(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(a, i) for a, i in LOG_LEVEL_ALIASES.items()],
        "alias string, level_id int",
    )


def role_lookup_table(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        ROLE_LOOKUP, "role string, role_id int, sink_class string"
    )


def tool_lookup_table(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        TOOL_LOOKUP, "tool string, tool_id int, tool_tag string"
    )


def extract_level_token(text_col: str = "text") -> Column:
    """Raw level token from the text; null when absent (→ default info)."""
    return F.nullif(F.regexp_extract(F.col(text_col), LEVEL_TOKEN_RE, 1), F.lit(""))


def with_level(df: DataFrame, spark: SparkSession, text_col: str = "text") -> DataFrame:
    """Broadcast-join level enrichment (the reference's only join-like op,
    P6 in SURVEY.md §2.2).  Unknown/missing → ``DEFAULT_LEVEL`` (info)."""
    aliases = F.broadcast(level_alias_table(spark))
    return (
        df.withColumn("level_raw", extract_level_token(text_col))
        .join(aliases, F.col("level_raw") == aliases["alias"], "left")
        .drop("alias")
        .withColumn("level_id", F.coalesce("level_id", F.lit(DEFAULT_LEVEL)))
    )
