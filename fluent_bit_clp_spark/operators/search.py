"""Search over CLP-encoded tables — prune on the encoding, verify exactly.

The reference delegates search to CLP's own engine (reference
`README.md:20-21` points at the YScope log viewer); the CLP paper's core
trick is that a wildcard query compiles against the *logtype dictionary*,
so the fact scan prunes on one small column and never re-materializes
message text for non-matching rows.

Plan here (the classic prune + verify):

1. :func:`compile_relaxed_pattern` turns a wildcard query (``*`` = any
   run of chars, ``?`` = any one char — CLP's two wildcards) into a
   regex over the **logtype** column.  Variable tokens in the query become
   the placeholder byte.  A token fragment adjacent to a ``*`` (e.g.
   ``container-*`` where the data token ``container-1a00…`` encodes as a
   variable) is ambiguous — it may survive as literal text or be swallowed
   into a placeholder — so it compiles to the alternation
   ``(?:fragment|PLACEHOLDER)``.  The pattern therefore *over*-selects,
   never under-selects.
2. Prune: collect the ids of the dictionary templates the pattern matches
   (tiny, on the driver) and filter the table with ``isin`` on them — one
   Filter, pushed into the parquet scan and evaluated ahead of the
   variable predicates and the decode (:func:`template_prune`, shared by
   both layouts).  Without a dictionary, or above ``max_templates``
   matches, the pattern itself filters ``logtype``, still before the
   decode.  In the same Filter, per-variable predicates test each
   candidate row's own variables: exact values probe ``encoded_vars`` /
   ``dict_var_ids``, and dictionary-only wildcard fragments run as a
   regex over the row's ``dict_vars`` strings.  CLP matches those against
   its variable dictionary because its message table holds only ids;
   these tables store the strings, so the test is per row and needs no
   driver collect.
3. Verify: decode ONLY the pruned candidates and apply the exact wildcard
   regex to the reconstructed text.  Decode cost is confined to candidate
   rows — the pruning is what makes search on 100 TB viable.

There is one evaluation of these steps, :func:`search_encoded_multi` (a
dashboard of named queries: one scan pruned to the OR of the queries,
one decode, each row tagged by the exact verify of every query it
matches).  A single search is its one-entry case with the tag column
dropped, and the archive pair runs it over ``from_archive`` of the
scan-pruned stored rows.

Equality with naive regex over raw text is asserted in
tests/test_search.py.
"""

from __future__ import annotations

import re
from functools import reduce
from operator import and_, or_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluent_bit_clp_spark.functions.clp_native import (
    MODE_I64,
    PLACEHOLDER,
    clp_decode_column,
    logtype_id_col,
)
from fluent_bit_clp_spark.functions.clp_pandas import _encode_one

_TOKEN_CHARS = r"[A-Za-z0-9_./+-]"
_TRAILING_FRAG = re.compile(f"{_TOKEN_CHARS}+$")
_LEADING_FRAG = re.compile(f"^{_TOKEN_CHARS}+")
_HAS_LETTER = re.compile("[A-Za-z]")


def _relax(fragment: str) -> str:
    return f"(?:{re.escape(fragment)}|{re.escape(PLACEHOLDER)})"


def compile_relaxed_pattern(query: str, ignore_case: bool = False) -> str:
    """``*``/``?``-wildcard query → over-selecting regex on the logtype
    column.  ``?`` (any ONE char, CLP's second wildcard) is widened to
    ``*`` for pruning: every text matching ``?`` also matches ``*``, so
    the prune language is a superset and stays sound, while the adjacent-
    fragment ambiguity machinery (a ``?`` could be a token char extending
    a variable, e.g. ``id-?4`` matching the single token ``id-34``) comes
    for free.  Exact one-char semantics are enforced by the decode-verify
    regex (:func:`exact_text_pattern`).

    ``ignore_case`` (clg's ``--ignore-case``, r6) prefixes ``(?i)``.
    Soundness: token classification is case-independent (variables are
    digit-bearing tokens with [A-Za-z] symmetric in the token class, so
    case-folding never moves a token boundary or placeholder), leaving
    only literal letters for ``(?i)`` to fold.  ASCII case folding —
    query fixtures and CLP logtypes are ASCII; Java applies Unicode
    folding only under UNICODE_CASE, which we do not enable.

    Merge regions (hypothesis-found, round 6): the token-char runs
    touching a wildcard may all belong to ONE data token — ``x?y``
    must match the single token ``x9y`` (logtype = one placeholder),
    ``n*ode-7`` the token ``node-7``, ``a*9*b`` the token ``a9b``.
    The pattern is therefore assembled from typed atoms, and every
    maximal run of fragment/edge-placeholder/gap atoms (bounded by
    literal logtype text, whose boundary chars are non-token by
    maximality) carries a single-placeholder alternative.  For a
    one-fragment gap like ``container-*`` the alternative is a strict
    subset of ``(?:frag|PH).*`` — prune selectivity on the common
    query shapes is unchanged."""
    ph = re.escape(PLACEHOLDER)
    parts = query.replace("?", "*").split("*")
    # atoms: ('lit', text) | ('frag', run) | ('ph_edge',) | ('gap',)
    atoms: list[tuple] = []
    last = len(parts) - 1
    for i, part in enumerate(parts):
        logtype = _encode_one(part)[0]
        lead = trail = None
        if i > 0:  # a '*' precedes this part: leading fragment ambiguous
            m = _LEADING_FRAG.match(logtype)
            if m and PLACEHOLDER not in m.group(0):
                lead = ("frag", m.group(0))
                logtype = logtype[m.end():]
            elif logtype.startswith(PLACEHOLDER):
                # leading token fragment is (part of) a VARIABLE
                # ('n*ode-7' → 'ode-7' encodes to the placeholder)
                lead = ("ph_edge",)
                logtype = logtype[1:]
        if i < last:  # a '*' follows: trailing fragment ambiguous
            m = _TRAILING_FRAG.search(logtype)
            if m and PLACEHOLDER not in m.group(0):
                trail = ("frag", m.group(0))
                logtype = logtype[: m.start()]
            elif logtype.endswith(PLACEHOLDER):
                trail = ("ph_edge",)
                logtype = logtype[:-1]
        if i > 0:
            atoms.append(("gap",))
        if lead is not None:
            atoms.append(lead)
        if logtype:
            atoms.append(("lit", logtype))
        if trail is not None:
            atoms.append(trail)
    out: list[str] = []
    run: list[tuple] = []

    def _flush() -> None:
        if not run:
            return
        r = "".join(
            ".*" if a[0] == "gap"
            else f"(?:{ph})?" if a[0] == "ph_edge"
            else _relax(a[1])
            for a in run
        )
        # a region with a wildcard AND ≥1 token fragment/edge may be a
        # single merged data token → one placeholder serves it all
        if any(a[0] == "gap" for a in run) and any(
            a[0] in ("frag", "ph_edge") for a in run
        ):
            r = f"(?:{r}|{ph})"
        out.append(r)
        run.clear()

    for a in atoms:
        if a[0] == "lit":
            _flush()
            out.append(re.escape(a[1]))
        else:
            run.append(a)
    _flush()
    return ("(?i)" if ignore_case else "") + "^" + "".join(out) + "$"


def exact_text_pattern(query: str, ignore_case: bool = False) -> str:
    r"""Anchored verify regex for the decoded text: ``*`` → ``.*``,
    ``?`` → ``.`` (exactly one char — here, unlike the prune stages, the
    two wildcards keep their distinct semantics; ``.`` excludes ``\n``
    identically in Java and RE2 default mode).  The end anchor is
    ``\z`` (end of input), not ``$``: Java's ``$`` also matches before a
    final line terminator, so a text ending in ``\n`` that otherwise
    matches would count as a Spark hit but not a DuckDB/RE2 oracle hit
    (ADVICE r5).  ``\z`` is strict end-of-text in Java and RE2 alike
    (matching RE2's non-multiline ``$``), so both engines agree.  The
    relaxed LOGTYPE prune pattern keeps ``$`` — over-selection there is
    harmless (decode-verify follows).

    ``ignore_case`` prefixes ``(?i)`` — this stage is exact, so it is
    what defines the case-insensitive result; the prune stages merely
    stay supersets of it (see :func:`compile_relaxed_pattern`)."""
    seg = lambda p: "".join("." if c == "?" else re.escape(c) for c in p)
    body = "^" + ".*".join(seg(p) for p in query.split("*")) + "\\z"
    return ("(?i)" if ignore_case else "") + body


def compile_var_predicates(
    query: str,
    mode: str = MODE_I64,
    ignore_case: bool = False,
    var_dictionary: DataFrame | bool | None = None,
) -> list:
    """CLP-style sub-query enumeration, adapted: per-variable predicates.

    CLP proper enumerates every (var|literal) interpretation of each query
    token against its dictionaries (the paper's query compilation).  Our
    encoder is *deterministic* — a concrete token has exactly ONE data-side
    representation — so enumeration collapses to one predicate per token:

    - encoded int/float token → ``array_contains(encoded_vars, packed)``
    - dictionary token        → ``array_contains(dict_var_ids, xxhash64(tok))``

    Only *unambiguous* tokens compile (not adjacent to a ``*``: a fragment
    like ``container-*`` may extend into a longer data token).  Soundness:
    any text matching :func:`exact_text_pattern` contains each concrete
    query part verbatim with its delimiters, so the same maximal token is
    extracted and identically classified — the predicates can only remove
    true negatives.  On concrete-value queries this prunes far below the
    logtype-only filter (no decode of rows whose variables can't match).

    ``mode`` MUST match the table's encode mode (i64 vs 4byte classify and
    pack tokens differently — a mismatched mode would silently drop true
    matches).

    ``?`` widens to ``*`` exactly as in :func:`compile_relaxed_pattern`:
    a token touching a ``?`` becomes wildcard-adjacent and is dropped
    from the concrete predicates (sound — it might be a fragment of a
    longer data token).

    ``ignore_case`` (r6): int/float tokens and letter-free dictionary
    tokens (e.g. ``1.2.3``) have no case variants — their exact
    predicates stay.  A letter-bearing dictionary token's data-side match
    can be any case variant, still necessarily a dictionary variable
    (case folding preserves the digit that made it a variable and the
    letters that ruled out int/float), so it compiles to a per-row test
    that some ``dict_vars`` element matches ``(?i)^token$``.
    ``var_dictionary`` only switches that predicate on (``True``, or a
    variable-dictionary frame whose rows are not read); without it the
    token's predicate is skipped (sound: decode-verify follows).
    """
    parts = query.replace("?", "*").split("*")
    preds = []
    for i, part in enumerate(parts):
        core = part
        if i > 0:  # leading fragment touches a '*' — ambiguous, drop it
            m = _LEADING_FRAG.match(core)
            if m:
                core = core[m.end():]
        if i < len(parts) - 1:  # trailing fragment ambiguous
            m = _TRAILING_FRAG.search(core)
            if m:
                core = core[: m.start()]
        _, kinds, encs, dicts = _encode_one(core, mode)
        for k, e, d in zip(kinds or [], encs or [], dicts or []):
            if d is not None:
                if ignore_case and _HAS_LETTER.search(d):
                    if var_dictionary:  # else skip: sound
                        preds.append(_has_dict_var(f"(?i)^{re.escape(d)}$"))
                else:
                    preds.append(
                        F.array_contains("dict_var_ids", F.xxhash64(F.lit(d)))
                    )
            else:
                preds.append(F.array_contains("encoded_vars", F.lit(e)))
    return preds


def _has_dict_var(pattern: str):
    """The row holds a dictionary variable matching the regex ``pattern``
    — evaluated per row over ``dict_vars``; a null or non-matching row
    gives null/false and the Filter drops it."""
    return F.exists("dict_vars", lambda v: v.rlike(pattern))


def _dict_only_fragment(frag: str) -> bool:
    """True when every token matching this fragment is necessarily a
    DICTIONARY variable: int/float tokens consist of [0-9.-] only, so a
    fragment containing any other character rules the encoded classes out
    for every token containing it."""
    return any(ch not in "0123456789.-" for ch in frag)


def compile_fragment_var_predicates(
    query: str,
    var_dictionary: DataFrame | bool,
    ignore_case: bool = False,
) -> list:
    """CLP-style sub-query enumeration for *wildcard-adjacent fragments*
    (the paper's query compilation against the variable dictionary).

    A fragment like ``container-*`` has exactly two interpretations in the
    data (when it contains a non-numeric character, so the encoded-int/
    float classes are impossible): it survives as literal text in the
    logtype, OR it is (part of) a dictionary variable.  Both are tested
    per row, giving the disjunctive predicate

        logtype RLIKE fragment  OR  exists(dict_vars, v -> v RLIKE oriented)

    which strictly tightens the relaxed logtype prune — rows whose
    placeholder swallowed a non-matching variable are no longer decoded.
    ``var_dictionary`` is not read (``True`` suffices): the row's
    ``dict_vars`` are exactly the strings a variable dictionary would be
    built from.

    Orientation matters for soundness (the data token can extend over the
    ``*`` side only):

    - fragment BEFORE a ``*`` (``abc*``)  → token starts with it: ``^abc``
    - fragment AFTER a ``*``  (``*abc``)  → token ends with it:  ``abc$``
    - fragment between two ``*``          → token contains it:   ``abc``

    Purely numeric fragments are skipped (the token could be an encoded
    variable).  ``?`` widens to ``*`` (see :func:`compile_relaxed_pattern`),
    so a ``?``-adjacent fragment is oriented contains/starts/ends exactly
    like a ``*``-adjacent one.
    """
    parts = query.replace("?", "*").split("*")
    last = len(parts) - 1
    frags: list[tuple[str, str]] = []  # (regex_on_var, fragment)
    for i, part in enumerate(parts):
        lead = _LEADING_FRAG.match(part) if i > 0 else None
        trail = _TRAILING_FRAG.search(part) if i < last else None
        if (
            lead
            and trail
            and lead.group(0) == part
            and trail.group(0) == part
        ):
            # the whole part is one token fragment with '*' on both sides
            frags.append((re.escape(part), part))
            continue
        if lead and trail and lead.end() > trail.start():
            # overlapping fragments inside one token region but only
            # partially — ambiguous orientation; skip (stay sound)
            continue
        if lead:
            frags.append((re.escape(lead.group(0)) + "$", lead.group(0)))
        if trail:
            frags.append(("^" + re.escape(trail.group(0)), trail.group(0)))
    ci = "(?i)" if ignore_case else ""
    return [
        F.col("logtype").rlike(ci + re.escape(frag))
        | _has_dict_var(ci + var_pat)
        for var_pat, frag in frags
        if _dict_only_fragment(frag)
    ]


def logtype_matches(pattern: str, dictionary: DataFrame) -> DataFrame:
    return dictionary.where(F.col("logtype").rlike(pattern))


def template_prune(
    table: DataFrame,
    dictionary: DataFrame,
    patterns: list[str],
    key: str,
    column: str,
    max_templates: int = 1024,
) -> DataFrame:
    """The template prune both layouts share: ``table`` restricted to the
    rows whose ``column`` is the ``key`` of a ``dictionary`` template
    matching ANY of ``patterns``.  The keys are collected on the driver
    (capped at ``max_templates``) into a literal ``isin``, which Spark
    pushes into the parquet scan (``PushedFilters: In(column, ...)``) and
    evaluates ahead of every later predicate, so the variable predicates
    and the decode see only rows of a matching template.  The dictionary
    must COVER the table, so zero matches proves zero hits: the empty
    frame, no scan (``limit(0)`` folds to an empty relation).  Over the
    cap the table comes back unfiltered and the callers' relaxed
    ``logtype`` rlike, also ahead of the decode, prunes instead."""
    wanted = reduce(or_, [F.col("logtype").rlike(p) for p in patterns])
    rows = (
        dictionary.where(wanted).select(key).limit(max_templates + 1).collect()
    )
    if len(rows) > max_templates:
        return table
    if not rows:
        return table.limit(0)
    return table.where(F.col(column).isin(sorted({r[0] for r in rows})))


def search_encoded(
    encoded: DataFrame,
    query: str,
    dictionary: DataFrame | None = None,
    mode: str = MODE_I64,
    var_dictionary: DataFrame | bool | None = None,
    ignore_case: bool = False,
    max_templates: int = 1024,
) -> DataFrame:
    """Rows of the encoded table matching ``query`` — the one-entry case
    of :func:`search_encoded_multi` (same columns as ``encoded``, no
    ``query_name``).

    Prune order: template ``isin`` from ``dictionary`` when supplied
    (:func:`template_prune` — a ``logtype_dict(logtype_id, logtype)``
    covering the table) → relaxed logtype pattern → per-variable
    predicates (:func:`compile_var_predicates` — concrete values prune
    on the encoded/dictionary columns, no decode) → wildcard-fragment
    predicates when ``var_dictionary`` is supplied
    (:func:`compile_fragment_var_predicates` — the CLP paper's
    dictionary-compiled sub-queries, run per row over ``dict_vars``,
    tightening fragment queries like ``container-*``) → decode-verify the
    survivors only (step 3 above).  ``var_dictionary`` only switches the
    dictionary-variable predicates on: pass ``True`` (what ``search_run``
    does) or any frame — its rows are not read.
    ``mode`` must be the mode the table was encoded with (i64 default;
    pass "4byte" for FourByteEncoding tables — both the value predicates
    and the decode-verify depend on it).  ``ignore_case`` (clg's
    ``--ignore-case``, r6) makes the whole match case-insensitive — every
    prune stage folds case too (see the compile functions), so pruning
    power is retained for letter-free values and dictionary
    tokens/fragments."""
    return search_encoded_multi(
        encoded, {"query": query}, dictionary, mode, var_dictionary,
        ignore_case, max_templates,
    ).drop("query_name")


def search_encoded_multi(
    encoded: DataFrame,
    queries: dict[str, str],
    dictionary: DataFrame | None = None,
    mode: str = MODE_I64,
    var_dictionary: DataFrame | bool | None = None,
    ignore_case: bool = False,
    max_templates: int = 1024,
) -> DataFrame:
    """Run MANY wildcard queries in ONE pass — the saved-searches /
    dashboard shape.  ``queries`` maps a query name to its wildcard
    string; the result is the matching rows with a ``query_name`` column
    (a row matching k queries appears k times).

    This is the one search evaluation: :func:`search_encoded` is the
    one-entry case, and the archive pair runs it over ``from_archive``.

    Scale rationale: N separate searches cost N scans and up to N decodes
    of overlapping candidate sets.  Here the scan is pruned ONCE — the
    template ``isin`` over the union of every query's matching templates
    (:func:`template_prune`, when ``dictionary`` is supplied), then the
    OR of the per-query logtype-pattern+variable predicates (each
    documented on :func:`search_encoded`) — the survivors are decoded
    ONCE, and each is tagged with the queries whose exact verify regex
    matches the decoded text.  Every query's prune is a sound superset of
    its exact match, so the exact verify alone attributes a row exactly
    as running that query by itself would.  At 100 TB the scan dominates;
    this amortizes it across the whole dashboard.
    """
    if not queries:
        raise ValueError("queries must be a non-empty {name: wildcard} map")
    patterns = [compile_relaxed_pattern(q, ignore_case) for q in queries.values()]
    prunes = []
    for q, pattern in zip(queries.values(), patterns):
        preds = compile_var_predicates(q, mode, ignore_case, var_dictionary)
        if var_dictionary:
            preds += compile_fragment_var_predicates(
                q, var_dictionary, ignore_case=ignore_case
            )
        prunes.append(reduce(and_, preds, F.col("logtype").rlike(pattern)))
    if dictionary is not None:
        encoded = template_prune(
            encoded, dictionary, patterns, "logtype_id", "logtype_id",
            max_templates,
        )
    decoded = encoded.where(reduce(or_, prunes)).withColumn(
        "_decoded", clp_decode_column(mode=mode)
    )
    tags = F.array_compact(
        F.array(
            *[
                F.when(
                    F.col("_decoded").rlike(
                        exact_text_pattern(queries[name], ignore_case)
                    ),
                    F.lit(name),
                )
                for name in queries
            ]
        )
    )
    return (
        decoded.withColumn("query_name", F.explode(tags))
        .drop("_decoded")
    )


def search_with_context(
    encoded: DataFrame,
    query: str,
    n_before: int = 2,
    n_after: int = 2,
    key_cols: tuple[str, ...] = ("conv_id",),
    order_col: str = "turn_idx",
    dictionary: DataFrame | None = None,
    mode: str = MODE_I64,
    var_dictionary: DataFrame | bool | None = None,
    ignore_case: bool = False,
    broadcast_hits: bool = True,
) -> DataFrame:
    """Search hits WITH their surrounding rows — ``grep -C`` / the log
    viewer's context view.  Returns every row within ``n_before``/
    ``n_after`` positions (by ``order_col``, within the same
    ``key_cols`` group) of a matching row, plus an ``is_match`` flag
    distinguishing hits from context.

    Scale shape: the hit set of a selective query is tiny next to the
    table, so the hit positions (key + an inclusive [lo, hi] window
    around each hit) are broadcast and the fact table is probed in ONE
    scan with a broadcast semi-join — equality on ``key_cols`` carries
    the hash join, the range lands as its join condition, and no row of
    the fact table shuffles.  ``is_match`` is a per-row expression over
    the surviving context set (decode + the exact verify regex — the
    same predicate that admitted the hits), so the search subtree is
    evaluated exactly once.  For a NON-selective query
    set ``broadcast_hits=False``: the semi-join falls back to a
    key-hashed shuffle join (one wide exchange) — same results.

    ``order_col`` must be integral and unique per row within its key
    group (the pipeline's (conv_id, turn_idx) contract); gaps are fine —
    context is by position value, not row count, matching time/sequence
    semantics rather than file-line semantics."""
    if n_before < 0 or n_after < 0:
        raise ValueError("n_before/n_after must be >= 0")
    keys = list(key_cols)
    hits = search_encoded(
        encoded, query, dictionary, mode, var_dictionary, ignore_case
    ).select(*keys, order_col)
    # span keys renamed (_ctx_*) — hits share lineage with ``encoded``,
    # and a self-join on same-named attribute refs would be ambiguous
    spans = hits.select(
        *[F.col(k).alias(f"_ctx_{k}") for k in keys],
        (F.col(order_col) - F.lit(n_before)).alias("_ctx_lo"),
        (F.col(order_col) + F.lit(n_after)).alias("_ctx_hi"),
    )
    if broadcast_hits:
        spans = F.broadcast(spans)
    cond = F.col(order_col).between(F.col("_ctx_lo"), F.col("_ctx_hi"))
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"_ctx_{k}"))
    ctx = encoded.join(spans, cond, "left_semi")
    # is_match needs NO second join (and no second evaluation of the
    # search subtree): a context row is a hit iff its decoded text
    # matches the exact verify regex — a per-row expression over the
    # small context set, exactly the predicate that admitted the hits
    return ctx.withColumn(
        "is_match",
        F.coalesce(
            clp_decode_column(mode=mode).rlike(
                exact_text_pattern(query, ignore_case)
            ),
            F.lit(False),  # encode-failed rows decode to null → not hits
        ),
    )


def search_count_by_time(
    hits: DataFrame, bucket_ms: int = 3_600_000, ts_col: str = "ts_ms"
) -> DataFrame:
    """Matches per time bucket — the CLP log-viewer's count aggregation
    over a search (one bar per bucket).  Apply to the output of
    :func:`search_encoded` / :func:`search_stored_archive`; counting
    happens AFTER decode-verify, so relaxed-prune over-selection can
    never inflate a bucket.

    Returns ``(query_name, bucket_start_ms, n)`` in every mode.  Bucket
    start is computed with ``ts - pmod(ts, bucket)`` — exact bigint
    arithmetic (no double rounding at ns-epoch magnitudes) with floor
    semantics for negative timestamps.  Scale: map-side-combinable count,
    one narrow exchange of (bucket, partial-count) rows — the
    decode-verify cost dominates, and only candidate rows reach it.

    A multi-query result (``query_name`` column present) is counted PER
    QUERY (ADVICE r6: summing across queries double-counted rows matching
    several queries and gave the dashboard no per-panel series); a
    single-query result is named ``'default'``, so both modes share one
    output schema.
    """
    if bucket_ms < 1:
        raise ValueError(f"bucket_ms must be >= 1, got {bucket_ms}")
    bucket = (F.col(ts_col) - F.pmod(F.col(ts_col), F.lit(bucket_ms))).alias(
        "bucket_start_ms"
    )
    name = (
        F.col("query_name")
        if "query_name" in hits.columns
        else F.lit("default").alias("query_name")
    )
    return hits.groupBy(name, bucket).agg(F.count("*").alias("n"))


class StaleArchiveDictionaryError(ValueError):
    """The supplied archive dictionary does not cover the archive: at
    least one stored template in the data has no dictionary row, so a
    template-pruned search could silently drop its rows (VERDICT r5 #3).
    Rebuild with :func:`archive_logtype_dictionary`, or extend the
    persisted dictionary with :func:`extend_archive_dictionary` at write
    time (plans/pipeline.py does this for ``--sink-layout archive``)."""


def extend_archive_dictionary(
    archive: DataFrame, existing: DataFrame | None = None
) -> DataFrame:
    """Write-time dictionary maintenance (VERDICT r5 #4): merge the
    templates of a newly written archive into an existing persisted
    dictionary — existing rows kept verbatim, unseen templates appended.
    The same cross-run discipline as ``dictionary.extend_dense_ids``:
    a search session then READS the persisted dictionary instead of
    re-running a full distinct pass over the archive (at 100 TB the
    distinct pass costs a scan; the dictionary is a few thousand rows).
    A superset dictionary (templates from overwritten/older runs) is
    harmless — extra ``isin`` templates over-select and decode-verify
    removes them; only MISSING templates are dangerous, which is what
    :class:`StaleArchiveDictionaryError` guards."""
    new = archive_logtype_dictionary(archive)
    if existing is None:
        return new
    return existing.unionByName(
        new.join(
            existing.select("logtype_stored"), "logtype_stored", "left_anti"
        )
    )


def archive_logtype_dictionary(archive: DataFrame) -> DataFrame:
    """Dictionary over an ARCHIVE-layout table (operators/archive.py):
    ``(logtype_stored, logtype, logtype_id)`` — the stored kind-typed
    template alongside its working-layout form and id.  One column-pruned
    distinct pass over the archive; the untyped form and id come from the
    same template expressions ``from_archive`` uses (kinds live only in
    the stored template, so this dict is not derivable from the working
    logtype_dict)."""
    from fluent_bit_clp_spark.operators.archive import untyped_logtype_expr

    stored = (
        archive.select(F.col("logtype").alias("logtype_stored"))
        .where(F.col("logtype_stored").isNotNull())  # encode-failed rows:
        .distinct()  # a null template is unsearchable (decode null never
    )  # matches) and would poison the coverage check's null-unequal join
    return stored.withColumn(
        "logtype", F.expr(untyped_logtype_expr("logtype_stored"))
    ).withColumn("logtype_id", logtype_id_col())


def search_stored_archive(
    archive: DataFrame,
    query: str,
    archive_dictionary: DataFrame,
    mode: str = MODE_I64,
    var_dictionary: DataFrame | bool | None = None,
    max_templates: int = 1024,
    verify_coverage: bool = False,
    time_range: tuple[int, int] | None = None,
    ts_col: str = "ts_ms",
    ignore_case: bool = False,
) -> DataFrame:
    """Search an ARCHIVE-layout table with SCAN-level template pruning.

    The same :func:`template_prune` as the working layout, keyed on the
    templates' STORED (kind-typed) strings: the ``isin`` lands on the
    stored ``logtype`` column in the parquet scan (``PushedFilters:
    In(logtype, ...)``), so on a ``compact_archive``-clustered table row
    groups whose footer min/max excludes every wanted template are
    skipped without reading a byte of them — the CLP archive-search
    shape.

    ``archive_dictionary`` must COVER the archive (built from it via
    :func:`archive_logtype_dictionary`, or maintained alongside the
    writes) — a stale dictionary missing templates would silently drop
    their rows, since zero dictionary matches is taken as proof of zero
    hits (no scan at all).  ``max_templates`` caps the driver-collected
    IN-list; above it the relaxed pattern filters the reconstructed
    ``logtype`` instead — identical results either way.  Remaining
    stages (variable predicates, fragment predicates, decode-verify) are
    exactly :func:`search_encoded` over the reconstructed rows.  This is
    the one-entry case of :func:`search_stored_archive_multi`.

    ``verify_coverage=True`` (opt-in — it costs one column-pruned
    distinct pass over the archive) proves the covering contract instead
    of assuming it: any stored template absent from
    ``archive_dictionary`` raises :class:`StaleArchiveDictionaryError`
    rather than letting a stale externally-maintained dictionary return
    silently empty/partial results (VERDICT r5 #3).  Default off: a
    dictionary built by :func:`archive_logtype_dictionary` or maintained
    by :func:`extend_archive_dictionary` covers by construction.

    ``time_range=(lo_ms, hi_ms)`` (r6, inclusive) bounds the search in
    time — CLP's archive search prunes whole time segments before
    looking at templates.  The filter lands next to the template
    ``isin`` in the parquet scan (``PushedFilters:
    GreaterThanOrEqual/LessThanOrEqual(ts_col)``), so on an archive
    compacted with ``compact_archive(ts_col=...)`` (time-leading
    clustering) row groups outside the window are skipped on footer
    stats alone; on a time-ordered-ingest archive natural clustering
    gives the same skip.  Requires ``ts_col`` in the archive columns.

    ``ignore_case`` folds case end-to-end (template prune included —
    the dictionary rlike carries ``(?i)``, so differently-cased stored
    templates all enter the isin pushdown); see :func:`search_encoded`."""
    return search_stored_archive_multi(
        archive, {"query": query}, archive_dictionary, mode, var_dictionary,
        max_templates, verify_coverage, time_range, ts_col, ignore_case,
    ).drop("query_name")


def search_stored_archive_multi(
    archive: DataFrame,
    queries: dict[str, str],
    archive_dictionary: DataFrame,
    mode: str = MODE_I64,
    var_dictionary: DataFrame | bool | None = None,
    max_templates: int = 1024,
    verify_coverage: bool = False,
    time_range: tuple[int, int] | None = None,
    ts_col: str = "ts_ms",
    ignore_case: bool = False,
) -> DataFrame:
    """The saved-searches dashboard over a STORED archive: one scan,
    pruned at scan level to the union of every query's matching templates
    (one ``isin`` pushdown — row groups outside ALL queries are skipped
    on footer stats), reconstructed once by ``from_archive``, then
    decoded once and attributed per query by :func:`search_encoded_multi`.
    Semantics and guards are documented on :func:`search_stored_archive`
    (the one-entry case); output carries ``query_name`` like
    :func:`search_encoded_multi`."""
    from fluent_bit_clp_spark.operators.archive import from_archive

    if not queries:
        raise ValueError("queries must be a non-empty {name: wildcard} map")
    if time_range is not None:
        if ts_col not in archive.columns:
            raise ValueError(
                f"time_range given but ts_col {ts_col!r} not in archive "
                f"columns {archive.columns}"
            )
        lo, hi = time_range
        archive = archive.where(F.col(ts_col).between(F.lit(lo), F.lit(hi)))
    if "var_kinds" in archive.columns:
        raise ValueError(
            "search_stored_archive expects the ARCHIVE layout (kind-typed "
            "logtype, no var_kinds column); got a working-layout frame — "
            "use search_encoded on it directly"
        )
    if verify_coverage:
        # null stored templates (encode-failed rows: null text/ts) are
        # unsearchable by construction — decode-verify can never match
        # them — so they are outside the covering contract, exactly as
        # archive_logtype_dictionary excludes them
        stored = archive.select("logtype").where(F.col("logtype").isNotNull())
        known = archive_dictionary.select(F.col("logtype_stored").alias("logtype"))
        uncovered = stored.distinct().join(known, "logtype", "left_anti").count()
        if uncovered:
            raise StaleArchiveDictionaryError(
                f"archive dictionary is stale: {uncovered} stored "
                "template(s) in the archive have no dictionary row — a "
                "template-pruned search would drop their rows; rebuild "
                "with archive_logtype_dictionary(archive) or extend the "
                "persisted dictionary at write time"
            )
    pruned = template_prune(
        archive, archive_dictionary,
        [compile_relaxed_pattern(q, ignore_case) for q in queries.values()],
        "logtype_stored", "logtype", max_templates,
    )
    return search_encoded_multi(
        from_archive(pruned), queries, None, mode, var_dictionary, ignore_case
    )
