"""Dictionary compaction: stable hash IDs → dense 1..N IDs, distributed.

The pipeline's dictionary IDs are xxhash64 values — stable under
parallelism and resume (SURVEY.md §7 risk 1) but sparse.  CLP proper uses
dense dictionary ordinals; this module provides the offline compaction
job that produces them WITHOUT the single-task global window the naive
``row_number() over (order by key)`` formulation needs (the
oracle/interactive view ``q_e1_logtype_dense`` keeps that formulation and
carries a warning; this is the at-scale path).

Rank-by-zone (same shape as operators/chunk.py's hierarchical offsets):

1. zone = portable_hash(key) % zones — uniform by construction (hash),
   so every zone holds ~N/zones dictionary entries;
2. per-zone counts → exclusive prefix offsets (window over ≤ ``zones``
   summary rows — never over entries);
3. per-zone local ``row_number`` (one bounded task per zone) + broadcast
   zone offset = global dense id.

The resulting order is (zone, key) — a deterministic bijection onto
1..N, reproducible in plain SQL (the DuckDB oracle recomputes it with a
global window over the same sort key), and stable across cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fluent_bit_clp_spark.functions.hashing import portable_hash64

DEFAULT_ZONES = 256


def dense_ids(
    keys: DataFrame,
    key_col: str,
    out_col: str = "dense_id",
    zones: int = DEFAULT_ZONES,
) -> DataFrame:
    """Distinct ``key_col`` rows → + ``out_col`` dense ids 1..N.

    No global window: per-zone ranks are bounded (~N/zones per task; raise
    ``zones`` for bigger dictionaries), zone offsets broadcast.

    r7: the distinct key set feeds BOTH the zone-counts branch and the
    rank branch — left lazy, Catalyst duplicates the whole upstream
    subtree and the (possibly huge) input is scanned twice (measured: the
    e1_logtype_dense_dist plan carried two full fact scans).  The set is
    dictionary-sized by contract, so a lazy ``localCheckpoint`` shares
    ONE computation between the branches (guide §3.3/§5: materialize the
    intermediate to truncate a diamond plan).
    """
    d = keys.select(key_col).distinct().localCheckpoint(eager=False)
    d = d.withColumn("_zone", F.pmod(portable_hash64(F.col(key_col)), F.lit(zones)))
    counts = d.groupBy("_zone").agg(F.count("*").alias("_n"))
    w_zone = (
        Window.orderBy("_zone").rowsBetween(Window.unboundedPreceding, -1)
    )  # ≤ `zones` summary rows — tiny by construction
    offsets = counts.withColumn(
        "_zstart", F.coalesce(F.sum("_n").over(w_zone), F.lit(0))
    ).select("_zone", "_zstart")
    w_local = Window.partitionBy("_zone").orderBy(key_col)
    return (
        d.join(F.broadcast(offsets), "_zone")
        .withColumn(
            out_col,
            (F.col("_zstart") + F.row_number().over(w_local)).cast("bigint"),
        )
        .drop("_zone", "_zstart")
    )


def compact_logtype_dict(encoded: DataFrame, zones: int = DEFAULT_ZONES) -> DataFrame:
    """Offline dense remap for the logtype dictionary:
    (logtype_id (stable hash), logtype, dense_id 1..N)."""
    lt = encoded.select("logtype_id", "logtype").distinct()
    ranked = dense_ids(lt.select("logtype"), "logtype", zones=zones)
    return lt.join(ranked, "logtype").select("logtype_id", "logtype", "dense_id")


def extend_dense_ids(
    existing: DataFrame,
    keys: DataFrame,
    key_col: str,
    id_col: str = "dense_id",
    zones: int = DEFAULT_ZONES,
) -> DataFrame:
    """Incremental dictionary evolution: keep every existing (key → id)
    assignment VERBATIM, and append ids for unseen keys starting at
    max(existing)+1 (rank-by-zone over the new keys only).

    This is the cross-run dictionary-merge contract a long-lived pipeline
    needs: ids already written into sink data never change, new runs only
    ever extend the mapping — so old IR data and new IR data share one
    dictionary.  Deterministic given (existing, new batch).
    """
    new_keys = keys.select(key_col).distinct().join(
        existing.select(key_col), key_col, "left_anti"
    )
    base_row = existing.agg(F.max(id_col).alias("m")).collect()[0]
    base = base_row["m"] or 0
    appended = dense_ids(new_keys, key_col, id_col, zones).withColumn(
        id_col, (F.col(id_col) + F.lit(base)).cast("bigint")
    )
    return existing.select(key_col, id_col).unionByName(appended)


def template_profile(
    encoded: DataFrame,
    ts_col: str | None = None,
    example: bool = False,
    mode: str = "i64",
) -> DataFrame:
    """Per-template corpus profile — the "what is in my logs" summary a
    CLP store answers without touching message text: for every logtype
    template, its row count, total/avg text bytes, and (with ``ts_col``)
    the first/last occurrence.  ``example=True`` adds one deterministic
    example line (the minimum decoded text — min, not first, so the
    result is stable across partitioning).

    Scale shape: one scan, fully map-side-combinable aggregates, one
    (logtype_id)-hashed exchange of partial rows — cardinality is the
    template count (thousands), not the corpus.  Bytes come from
    ``octet_length(text)`` when the raw column is present, else from the
    decoded length expression — either way no row leaves the scan.

    ``mode`` is the run's encoding mode (ADVICE r6, medium: decoding a
    4byte-mode store with the default i64 unpack silently corrupted
    total/avg bytes and the example line).
    """
    from fluent_bit_clp_spark.functions.clp_native import clp_decode_column

    text = (
        F.col("text")
        if "text" in encoded.columns
        else clp_decode_column(mode=mode)
    )
    aggs = [
        F.count("*").alias("n_rows"),
        F.sum(F.octet_length(text)).alias("total_bytes"),
        F.round(F.avg(F.octet_length(text)), 2).alias("avg_bytes"),
    ]
    if ts_col is not None:
        aggs += [
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        ]
    if example:
        aggs.append(F.min(text).alias("example"))
    return (
        encoded.where(F.col("logtype").isNotNull())
        .groupBy("logtype_id", "logtype")
        .agg(*aggs)
    )
