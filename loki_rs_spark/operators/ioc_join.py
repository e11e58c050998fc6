"""IOC enrichment operators (SURVEY.md §2.4, J1-J4) — the "enrich" stage.

The reference does per-row binary search over sorted IOC vectors
(src/main.rs:456-501) and linear regex scans (src/modules/
filesystem_scan.rs:824-846). Spark-first renderings:

* J1 hash-IOC lookup  -> three broadcast hash equi-joins (beats the
  reference's O(log n) binary search: O(1) per probe, fully JVM-side);
* J2 FP-hash anti-lookup -> broadcast LEFT ANTI joins placed UPSTREAM of
  the expensive matcher stage (manual stage ordering the reference does by
  short-circuiting, src/modules/filesystem_scan.rs:854-859 — Catalyst will
  not reorder across an opaque UDF, so we do it ourselves);
* J3 filename-IOC regex theta-join -> per-IOC static `rlike` predicates
  generated at plan-build time (whole-stage codegen'd; the pattern list is
  broadcast implicitly as literals). The Arrow UDF matcher in matcher.py is
  the scale path for very large pattern sets;
* J4 C2 suffix theta-join -> host extraction with `regexp_extract_all` +
  a generated first-match-wins CASE chain inside `transform` (higher-order
  function, no UDF, preserves per-host duplication semantics of
  src/modules/process_check.rs:546-567).

All reason structs share REASON_TYPE and are assembled in the reference's
discovery order by the pipeline (filename -> md5 -> sha1 -> sha256 -> YARA
-> C2; SURVEY.md §2.5 A3).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..signatures.model import C2IOC, FilenameIOC, SignatureSet

REASON_TYPE = (
    "struct<message:string,score:int,description:string,author:string,"
    "reference:string,matched_strings:array<string>>"
)

HASH_TYPES = ("md5", "sha1", "sha256")

# Host-like tokens in turn text: IPv4 or dotted domain. Kept to a regex
# subset that behaves identically in Java regex (Spark), RE2 (DuckDB) and
# Python `re` so engine and oracle agree.
HOST_PATTERN = r"\b(?:(?:\d{1,3}\.){3}\d{1,3}|[a-z0-9][a-z0-9.-]*\.[a-z]{2,})\b"
# Octets restricted to 0-255 to match the reference's is_ip_address
# (src/main.rs:612-651): an out-of-range token like 999.12.34.56 is NOT an
# IP and falls through to domain suffix matching. Shared with the DuckDB
# oracle (RE2) — no lookarounds/backrefs so both engines agree.
_OCTET = r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
IPV4_PATTERN = rf"^(?:{_OCTET}\.){{3}}{_OCTET}$"


def reason_struct(
    message: Column,
    score: Column,
    description: Column,
    author: Column | None = None,
    reference: Column | None = None,
    matched_strings: Column | None = None,
) -> Column:
    null_str = F.lit(None).cast("string")
    null_arr = F.lit(None).cast("array<string>")
    return F.struct(
        message.alias("message"),
        score.cast("int").alias("score"),
        description.alias("description"),
        (author if author is not None else null_str).alias("author"),
        (reference if reference is not None else null_str).alias("reference"),
        (matched_strings if matched_strings is not None else null_arr).alias(
            "matched_strings"
        ),
    )


# Below this many entries a hash dim table MAY be rendered as literal
# expressions (InSet probe / CASE lookup) instead of a broadcast join:
# in local mode every broadcast exchange costs ~0.25-0.4s of per-action
# latency (build job + torrent registration) — measured round 7 — which
# dwarfs any per-row cost at ANY data volume since both renderings are
# O(1) per row. Above the threshold the broadcast-join path is kept: a
# million-entry IOC table belongs in a hash relation, not a CASE chain.
# Same dual-path spirit as C2_GATE_MAX_LITERALS below.
#
# The literal rendering is only SAFE over a plain stored-table input
# (see plain_relation_input): over the live synthetic-generator frame,
# predicate pushdown substitutes the literal probes — and through them
# the generator's multi-branch CASE trees — into filters below the
# projection, and the plan explodes multiplicatively (measured: 4.4 MB
# plan string, 30 s planning, 25x slower actions). The broadcast joins
# double as pushdown fences there. Over a real table scan the same
# substitution is exactly the GOOD predicate pushdown.
HASH_DIM_MAX_LITERALS = 64


def plain_relation_input(df: DataFrame) -> bool:
    """True when `df` is a plain relation read (scan + projections/
    filters, no Generate/Join/Window and no oversized expression trees) —
    the shape of the materialized transcript table and of any real table
    scan, where literal hash-dim rendering is safe and profitable."""
    try:
        s = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # noqa: BLE001 - conservatively take the join path
        return False
    return (
        len(s) < 20_000
        and "Generate" not in s
        and "Join" not in s
        and "Window" not in s
    )


def anti_join_fp_hashes(
    spark: SparkSession,
    df: DataFrame,
    sigs: SignatureSet,
    literal_dims: bool = False,
) -> DataFrame:
    """J2: drop any row whose md5/sha1/sha256 appears in the FP table —
    BEFORE matching, so the expensive stages never see the row. ALWAYS
    join-rendered: a literal NOT-IN filter here gets pushed below the
    hash projection by substituting md5(text) into the scan filter, and
    every row hashes twice (measured +20-30% on the big gate legs), so
    `literal_dims` is accepted for signature symmetry but ignored. Three
    broadcast anti-joins (each a BroadcastHashJoin, no shuffle); the
    first also fences further predicate pushdown toward the scan."""
    del literal_dims  # see docstring: filter rendering double-hashes
    for hash_type in HASH_TYPES:
        values = [h.hash_value for h in sigs.hashes_of_type(hash_type, fp=True)]
        if not values:
            continue
        fp_df = spark.createDataFrame(
            [(v,) for v in values], f"fp_{hash_type}_value string"
        )
        df = df.join(
            F.broadcast(fp_df),
            df[hash_type] == fp_df[f"fp_{hash_type}_value"],
            "left_anti",
        )
    return df


PROCESS_HASH_MSG = "Process Executable Hash Match HASH: "


def hash_reason_array(
    spark: SparkSession,
    df: DataFrame,
    sigs: SignatureSet,
    source_kind: str = "file",
    literal_dims: bool = False,
) -> tuple[DataFrame, Column, Column]:
    """J1: broadcast left joins per hash type; at most one IOC fires per
    type and all three can fire (src/modules/filesystem_scan.rs:862-896).
    Message format "HASH match with IOC HASH: {hash}" (ibid.).

    `source_kind='process'` switches to the reference's process-scan
    semantics (src/modules/process_check.rs:367-397): only the FIRST
    matching hash type in md5->sha1->sha256 order produces a reason, with
    message "Process Executable Hash Match HASH: {h}" — a real reason-
    multiplicity difference between the two sources in the U1 union.

    Returns (joined df, array<reason> column in md5,sha1,sha256 discovery
    order, cheap any-hit predicate)."""
    if source_kind not in ("file", "process"):
        raise ValueError(f"unknown source_kind {source_kind!r}")
    msg_prefix = (
        PROCESS_HASH_MSG if source_kind == "process"
        else "HASH match with IOC HASH: "
    )
    reason_cols: list[Column] = []
    hit_conds: list[Column] = []
    for hash_type in HASH_TYPES:
        iocs = sigs.hashes_of_type(hash_type)
        if not iocs:
            continue
        # one IOC per hash value (first wins), whatever the set's origin —
        # a duplicate would fan the left join out into duplicate routed rows
        uniq: dict[str, tuple] = {}
        for h in iocs:
            uniq.setdefault(h.hash_value, (h.hash_value, h.score, h.description))
        if literal_dims and len(uniq) <= HASH_DIM_MAX_LITERALS:
            # literal CASE lookup — join-free rendering of the same left
            # join against a unique-keyed dim (see HASH_DIM_MAX_LITERALS):
            # at most one entry can match, NULL hashes match nothing,
            # exactly the broadcast path's semantics.
            col = df[hash_type]
            hit_struct = None
            for hv, score, desc in uniq.values():
                payload = F.struct(
                    F.lit(hv).alias("h"),
                    F.lit(score).cast("int").alias("s"),
                    F.lit(desc).cast("string").alias("d"),
                )
                hit_struct = (
                    F.when(col == F.lit(hv), payload)
                    if hit_struct is None
                    else hit_struct.when(col == F.lit(hv), payload)
                )
            hit_conds.append(
                F.coalesce(
                    col.isin(*[v[0] for v in uniq.values()]), F.lit(False)
                )
            )
            reason_cols.append(
                F.when(
                    hit_struct.isNotNull(),
                    reason_struct(
                        F.concat(F.lit(msg_prefix), hit_struct["h"]),
                        hit_struct["s"],
                        hit_struct["d"],
                    ),
                )
            )
            continue
        ioc_df = spark.createDataFrame(
            list(uniq.values()),
            f"ioc_{hash_type}_hash string, ioc_{hash_type}_score int, "
            f"ioc_{hash_type}_desc string",
        )
        df = df.join(
            F.broadcast(ioc_df),
            df[hash_type] == ioc_df[f"ioc_{hash_type}_hash"],
            "left",
        )
        hit = F.col(f"ioc_{hash_type}_hash")
        hit_conds.append(hit.isNotNull())
        reason_cols.append(
            F.when(
                hit.isNotNull(),
                reason_struct(
                    F.concat(F.lit(msg_prefix), hit),
                    F.col(f"ioc_{hash_type}_score"),
                    F.col(f"ioc_{hash_type}_desc"),
                ),
            )
        )
    if not reason_cols:
        return df, F.array().cast(f"array<{REASON_TYPE}>"), F.lit(False)
    arr = F.filter(F.array(*reason_cols), lambda x: x.isNotNull())
    if source_kind == "process":
        arr = F.slice(arr, 1, 1)  # first-of-three only (process_check.rs)
    any_hit = hit_conds[0]
    for cond in hit_conds[1:]:
        any_hit = any_hit | cond
    return df, arr, any_hit


def filename_reason_array(tool: Column, iocs: list[FilenameIOC]) -> Column:
    """J3 (Catalyst rendering): one static rlike predicate pair per IOC.
    The reference tests each regex against the full path AND the bare
    filename (src/modules/filesystem_scan.rs:824-846); for turns, `tool`
    plays both roles, so a single rlike per pattern suffices. A match is
    suppressed iff the IOC's fp_regex also matches. Message format
    "File Name IOC matched PATTERN: {pattern}" (ibid.)."""
    if not iocs:
        return F.array().cast(f"array<{REASON_TYPE}>")
    items = []
    for ioc in iocs:
        cond = tool.rlike(ioc.pattern)
        if ioc.fp_pattern:
            cond = cond & ~tool.rlike(ioc.fp_pattern)
        items.append(
            F.when(
                cond,
                reason_struct(
                    F.lit(f"File Name IOC matched PATTERN: {ioc.pattern}"),
                    F.lit(ioc.score),
                    F.lit(ioc.description),
                ),
            )
        )
    return F.filter(F.array(*items), lambda x: x.isNotNull())


# Above this many C2 IOCs the OR-of-contains literal gate degrades to a
# per-row linear scan over the list; fall back to the structural '.' gate
# (host tokens require a dot) and let the extraction regex run instead.
C2_GATE_MAX_LITERALS = 64
# Hard cap for the Catalyst per-host CASE chain (c2_reason_array); the
# arrow matcher's dict-probe path has no such limit.
C2_CHAIN_MAX_IOCS = 512


def c2_text_gate(text: Column, iocs: list[C2IOC]) -> Column:
    """Cheap JVM superset gate for the C2 path: a C2 reason requires some
    host token to equal (IP) or end with (domain) an IOC server, so the
    server string must appear literally in lower(text). OR-folded
    `contains` (JVM indexOf, no regex) is ~5x cheaper per row than the
    host-extraction regex; rows failing the gate can produce no C2 reason.
    Mirrors the reference's cheap-predicates-before-expensive-scan ordering
    (src/modules/filesystem_scan.rs:590-708) on the process-connection
    analog. Falls back to contains('.') beyond C2_GATE_MAX_LITERALS."""
    if not iocs:
        return F.lit(False)
    if len(iocs) > C2_GATE_MAX_LITERALS:
        return F.contains(text, F.lit("."))
    lowered = F.lower(text)
    gate = F.lit(False)
    for ioc in iocs:
        gate = gate | F.contains(lowered, F.lit(ioc.server.lower()))
    return gate


def c2_reason_array(
    text: Column, iocs: list[C2IOC], gate: Column | None = None
) -> Column:
    """J4: extract host-like tokens from the lowercased turn text (the
    transcript analog of a process's remote connections), then match each
    host against the C2 list — first matching IOC wins per host, one
    reason PER HOST occurrence (duplication semantics of
    src/modules/process_check.rs:546-567). IPv4 remotes match by equality
    only; domains by suffix-or-equality (src/main.rs:612-651).

    Message adapts the reference's "C2 IOC match in remote address IP: {ip}
    PORT: {port}" to "C2 IOC match in turn text HOST: {host}" since turns
    carry no port."""
    if not iocs:
        return F.array().cast(f"array<{REASON_TYPE}>")
    if len(iocs) > C2_CHAIN_MAX_IOCS:
        raise ValueError(
            f"c2_reason_array renders a per-host CASE chain linear in IOC "
            f"count; {len(iocs)} IOCs would produce an unusable plan. Use "
            "the arrow matcher path (scan_transcripts(matcher='arrow')), "
            "whose dict-probe C2 resolution is sub-linear in IOC count "
            "(operators/arrow_matcher._c2_match_lists)."
        )
    # Gate on the IOC server literals (c2_text_gate): only rows that could
    # possibly yield a C2 reason pay for the host-extraction regex —
    # measured ~5x cheaper over the bench corpus than the previous
    # '.'-based structural gate (most natural text contains a dot).
    # Callers that evaluate the gate elsewhere too (the scan pipeline's
    # candidate predicate) pass it as a pre-aliased `gate` column so the
    # OR-of-contains chain runs ONCE per row — duplicated instantiations
    # inside one projection defeat codegen subexpression elimination
    # (conditional branches are excluded from CSE) and measurably regress
    # the scan (+9s/4M rows at local[8]).
    if gate is None:
        gate = c2_text_gate(text, iocs)
    hosts = F.when(
        gate,
        F.regexp_extract_all(F.lower(text), F.lit(HOST_PATTERN), 0),
    ).otherwise(F.array().cast("array<string>"))

    def first_match(host: Column) -> Column:
        is_ip = host.rlike(IPV4_PATTERN)
        result = F.lit(None).cast(REASON_TYPE)
        for ioc in reversed(iocs):
            cond = (is_ip & (host == F.lit(ioc.server))) | (
                ~is_ip
                & (host.endswith(F.lit(ioc.server)) | (host == F.lit(ioc.server)))
            )
            result = F.when(
                cond,
                reason_struct(
                    F.concat(F.lit("C2 IOC match in turn text HOST: "), host),
                    F.lit(ioc.score),
                    F.lit(ioc.description),
                ),
            ).otherwise(result)
        return result

    return F.filter(F.transform(hosts, first_match), lambda x: x.isNotNull())
