"""Columnar archive layout for CLP-encoded rows: kind-typed placeholders.

The working encode layout (`functions/clp_native.py`) carries one generic
placeholder byte (0x11) plus an explicit ``var_kinds`` array, and two
derivable hash columns (``dict_var_ids``, ``logtype_id``).  That is the
right shape for *compute* — every operator can branch on ``var_kinds``
without re-parsing the template — but it is wasteful for *storage*:

- ``var_kinds`` repeats information per row that the template already
  implies (CLP's own archives use kind-specific placeholder bytes for
  exactly this reason — the public clp-ffi four-byte encoding gives
  integer / float / dictionary variables distinct placeholder bytes, so
  the logtype alone determines each variable's kind; see the CLP OSDI'21
  paper §4.1.1 and `/root/reference/internal/irzstd/writer.go:74-113`
  where the reference delegates to that encoding),
- ``dict_var_ids`` is 8 *high-entropy* (zstd-incompressible) bytes per
  dictionary variable, recomputable as ``xxhash64(dict_var)``,
- ``logtype_id`` is likewise ``xxhash64(logtype)``,
- the aligned ``encoded_vars`` / ``dict_vars`` arrays carry a null slot
  for every variable of the *other* family (definition-level overhead in
  parquet).

``to_archive`` rewrites a batch into the storage shape:

- ``logtype``     : placeholders become kind-specific —
                    0x11 = encoded int, 0x13 = encoded float,
                    0x12 = dictionary.  Literal 0x12/0x13 bytes in the
                    (already 0x10/0x11-escaped) template are escaped as
                    0x10+'q' / 0x10+'r' first, so every bare 0x12/0x13
                    is unambiguously a placeholder.
- ``encoded_vars``: nulls dropped — the kinds-0/1 values in appearance
                    order (int-vs-float recoverable from the template).
- ``dict_vars``   : nulls dropped — the kind-2 tokens in appearance order.
- ``var_kinds``, ``dict_var_ids``, ``logtype_id``: gone.  Both encoders
  append the two ids as JVM expressions (``clp_native.dict_var_ids_col``
  / ``logtype_id_col``), so Catalyst prunes them: an archive write never
  computes an id.

``from_archive`` is the exact inverse: it re-derives the three dropped
columns and re-nulls the arrays back into alignment, byte-identical to
what `clp_encode` produced (pinned in tests/test_archive.py, and in the
driver gate as the "archive" leg of ``pipeline_roundtrip_violations``).

Everything is native Spark SQL (no Python).  The
re-alignment is O(v log v) in the per-row variable count v (tag each
compact value with its original index, merge, ``array_sort``) — the
obvious prefix-count and ``aggregate``-fold shapes are both O(v²) and
fail outright on the multi-MiB 240k-variable turns the synthetic
transcript table deliberately contains.

The pipeline's archive write does not run ``to_archive``: the encode
UDF assembles the stored layout itself
(``clp_pandas.clp_encode_pandas(..., sink_layout="archive")``, used by
``run_to_sinks`` and ``stream_encode_to_sinks``), because the higher-
order functions above run interpreted, per row, outside whole-stage
codegen.  ``to_archive`` stays the native, oracle-checked reference
that encoder is pinned equal to (tests/test_archive.py), and the
transform for an already-encoded working table.  ``from_archive`` runs
immediately after the scan; Catalyst prunes whichever reconstructed
columns the query does not touch (e.g. a logtype-only search never pays
the re-alignment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.clp_native import (
    KIND_DICT,
    KIND_FLOAT,
    KIND_INT,
    PLACEHOLDER,
    dict_var_ids_col,
    logtype_id_col,
)

# Kind-specific placeholder bytes (0x11 keeps its meaning for int vars, so
# an all-int archive template is byte-identical to the working layout).
PH_INT = "\x11"
PH_DICT = "\x12"
PH_FLOAT = "\x13"

_DERIVED_COLS = ("var_kinds", "dict_var_ids", "logtype_id")


def _escape_archive(col: str) -> str:
    """Escape literal 0x12/0x13 bytes as 0x10+'q' / 0x10+'r'.

    Input is the working-layout logtype: already 0x10/0x11-escaped, so
    every 0x10 starts a two-byte pair and the only bare 0x11 bytes are
    placeholders.  Literal 0x12/0x13 pass through the base escape
    untouched — rewriting them into 0x10-pairs here keeps the pair
    invariant (pair second-chars are e/p/q/r, never 0x10) and leaves
    *no* bare 0x12/0x13 except the placeholders we insert next.
    """
    return (
        f"regexp_replace(regexp_replace({col}, '{PH_DICT}', '\x10q'), "
        f"'{PH_FLOAT}', '\x10r')"
    )


def _unescape_archive(col: str) -> str:
    """Inverse of :func:`_escape_archive` (pair-at-a-time, unambiguous
    because every 0x10 in archive text starts a pair)."""
    return (
        f"regexp_replace(regexp_replace({col}, '\x10q', '{PH_DICT}'), "
        f"'\x10r', '{PH_FLOAT}')"
    )


def compact_archive(
    archive: DataFrame,
    num_partitions: int | None = None,
    ts_col: str | None = None,
    time_bucket_ms: int = 3_600_000,
) -> DataFrame:
    """Template-cluster an archive table for storage — CLP archives group
    rows by logtype for exactly this reason: runs of identical templates
    compress far better (parquet dictionary/RLE + zstd see long repeats)
    and give row groups tight logtype min/max bounds, so a dictionary-
    pruned search skips whole row groups on footer stats alone.

    Measured (sf0.01-scale generated corpus, parquet+zstd): clustering
    cuts the archive a further ~33% — **0.65× raw-text parquet** vs
    0.97× unclustered.

    Shape: ``repartitionByRange`` on (logtype, spread) + an intra-
    partition sort.  The spread key (hash of ``conv_id`` when present)
    splits a pathologically hot template across partitions instead of
    serializing it — each partition stays internally clustered.  This is
    an OFFLINE storage/maintenance transform (the analogue of CLP's
    archive-building pass): row order inside sink files is storage-
    internal, and consumers already order by explicit (conv_id,
    turn_idx) keys, never file position.

    ``ts_col`` (r6) prepends a TIME dimension to the clustering — CLP
    proper segments archives by time range first, then groups templates
    within a segment, so a time-bounded search never opens cold
    segments.  Rows are bucketed into ``time_bucket_ms`` windows
    (default 1 h) and the range partition / intra-partition sort lead
    with the bucket: row-group footers then carry tight min/max on BOTH
    the timestamp and the template, and
    ``search_stored_archive(time_range=...)`` skips row groups on
    either.  Template-clustering quality within a bucket is unchanged;
    choose the bucket so each (bucket × template) run still spans many
    rows — at 100 TB/day, 1 h buckets ≈ 4 TB per time slice, far above
    row-group granularity.
    """
    # spread key: hash of conv_id when present, else a hash over ALL
    # columns — xxhash64("logtype") alone was functionally dependent on
    # the range key, so a hot template still serialized (review fix r5).
    # Residual caveat: fully identical rows still co-locate.
    spread = (
        F.xxhash64("conv_id")
        if "conv_id" in archive.columns
        else F.xxhash64(*archive.columns)
    )
    keys = [F.col("logtype"), spread]
    sort_keys = ["logtype"]
    if ts_col is not None:
        if ts_col not in archive.columns:
            raise ValueError(
                f"ts_col {ts_col!r} not in archive columns {archive.columns}"
            )
        bucket = F.floor(F.col(ts_col) / F.lit(time_bucket_ms))
        keys = [bucket, *keys]
        sort_keys = [bucket, "logtype"]
    parted = (
        archive.repartitionByRange(num_partitions, *keys)
        if num_partitions
        else archive.repartitionByRange(*keys)
    )
    return parted.sortWithinPartitions(*sort_keys)


def untyped_logtype_expr(col: str = "logtype") -> str:
    """SQL expr: stored (kind-typed) template → working-layout template.

    Every bare 0x12/0x13 is a placeholder (literals are 0x10-pairs), so
    a byte-level translate collapses the typed template back to 0x11s,
    then the archive escape pairs unwind.  Shared by :func:`from_archive`
    and ``search.archive_logtype_dictionary`` so the two reconstructions
    can never diverge (review fix r5)."""
    return _unescape_archive(
        f"translate({col}, '{PH_DICT}{PH_FLOAT}', "
        f"'{PLACEHOLDER}{PLACEHOLDER}')"
    )


def to_archive(encoded: DataFrame) -> DataFrame:
    """Working encode layout → columnar archive layout (see module doc).

    Drops ``var_kinds`` / ``dict_var_ids`` / ``logtype_id`` and compacts
    the aligned nullable arrays; all other columns pass through.
    """
    esc = _escape_archive("logtype")
    pieces = f"split({esc}, '{PLACEHOLDER}', -1)"
    kind_bytes = (
        f"transform(var_kinds, k -> case k when {KIND_INT} then '{PH_INT}' "
        f"when {KIND_FLOAT} then '{PH_FLOAT}' else '{PH_DICT}' end)"
    )
    typed = (
        f"case when logtype is null then null "
        f"when size(var_kinds) = 0 then {esc} else concat("
        f"array_join(zip_with(slice({pieces}, 1, size(var_kinds)), {kind_bytes}, "
        f"(p, c) -> concat(p, c)), ''), "
        f"element_at({pieces}, size(var_kinds) + 1)) end"
    )
    return (
        encoded.withColumn("logtype", F.expr(typed))
        .withColumn(
            "encoded_vars", F.expr("filter(encoded_vars, v -> v is not null)")
        )
        .withColumn("dict_vars", F.expr("filter(dict_vars, v -> v is not null)"))
        .drop(*_DERIVED_COLS)
    )


def from_archive(archive: DataFrame) -> DataFrame:
    """Columnar archive layout → working encode layout, byte-exact.

    Re-derives ``var_kinds`` from the placeholder byte sequence,
    re-aligns the compacted arrays, and recomputes the two hash columns
    with the encoders' own id expressions (xxhash64 is deterministic, so
    the recomputed ids are identical to the originals under any
    parallelism — the same stability argument as SURVEY.md §7 risk 1).
    """
    kinds = (
        f"transform(regexp_extract_all(logtype, "
        f"'[{PH_INT}{PH_DICT}{PH_FLOAT}]', 0), "
        f"c -> case c when '{PH_INT}' then {KIND_INT} "
        f"when '{PH_FLOAT}' then {KIND_FLOAT} else {KIND_DICT} end)"
    )
    untyped = untyped_logtype_expr("logtype")
    # Re-align in O(v log v): each compact value is tagged with its
    # original variable index (recovered from the kind sequence), the two
    # tagged arrays are concatenated and array_sort'ed by index (distinct
    # keys → deterministic), and the aligned nullable arrays project out
    # of the merged structs.  The obvious per-index prefix-count
    # (slice+filter) is O(v²) — fatal on the multi-MiB turns the datagen
    # deliberately includes (240k variables in one turn at the gate's own
    # scale), same trap the decode docstring pins for aggregate+concat.
    enc_pos = (
        f"filter(transform(var_kinds, (k, i) -> "
        f"if(k != {KIND_DICT}, i, -1)), p -> p >= 0)"
    )
    dict_pos = (
        f"filter(transform(var_kinds, (k, i) -> "
        f"if(k = {KIND_DICT}, i, -1)), p -> p >= 0)"
    )
    merged = (
        f"array_sort(concat("
        f"zip_with({enc_pos}, encoded_vars, (p, v) -> "
        f"struct(p as i, v as ev, cast(null as string) as dv)), "
        f"zip_with({dict_pos}, dict_vars, (p, v) -> "
        f"struct(p as i, cast(null as bigint) as ev, v as dv))))"
    )
    return (
        archive.withColumn("var_kinds", F.expr(kinds))
        .withColumn("_merged", F.expr(merged))
        .withColumn("encoded_vars", F.expr("transform(_merged, s -> s.ev)"))
        .withColumn("dict_vars", F.expr("transform(_merged, s -> s.dv)"))
        .drop("_merged")
        .withColumn("logtype", F.expr(untyped))
        .withColumn("dict_var_ids", dict_var_ids_col())
        .withColumn("logtype_id", logtype_id_col())
    )
