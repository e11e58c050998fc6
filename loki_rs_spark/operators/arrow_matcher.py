"""Arrow-native multi-pattern matcher — the scale path for P5/J3.

The pandas-UDF matcher (matcher.py) converts every row's text into a
Python string object before matching; at tens of millions of rows per
executor that object churn dominates and kills scaling. This variant stays
in Arrow end to end:

* a scalar `arrow_udf` streams the text/tool Arrow arrays straight from
  the JVM;
* per signature string, ONE `pyarrow.compute.match_substring[_regex]`
  kernel call over the whole batch (C++-vectorized RE2 / literal scan,
  zero Python objects in the hot path);
* per-rule condition algebra on numpy boolean masks;
* Python-level work (matched-string offsets, struct building) happens only
  for the sparse hit rows, and the output list<struct> arrays are built
  from offsets + flat values (no per-row Python lists for misses).

Pattern-dialect note: the batch kernels use RE2, the per-hit offset
extraction uses Python `re`. The supported signature subset (literal
strings + RE2-compatible regexes, no backreferences/lookaround) behaves
identically under both; parity with the reference scanner is enforced by
tests/test_pipeline.py.

Mirrors the reference's compile-once automaton sharing (src/main.rs:780-851)
via the same per-executor `_engine_for` cache as the pandas path.
"""

from typing import Iterator, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from ..signatures.compile import boolean_regex, literal_probe
from ..signatures.conditions import render_condition
from ..signatures.model import SignatureSet
from .matcher import (
    MAX_YARA_MATCHES,
    ExtBits,
    TextOps,
    _engine_for,
    _HOST_RX,
    _MaskBackend,
    string_occurrence_lines,
)

FNAME_STRUCT = pa.struct(
    [
        pa.field("pattern", pa.string()),
        pa.field("score", pa.int32()),
        pa.field("description", pa.string()),
    ]
)
YARA_STRUCT = pa.struct(
    [
        pa.field("rule", pa.string()),
        pa.field("score", pa.int32()),
        pa.field("description", pa.string()),
        pa.field("author", pa.string()),
        pa.field("reference", pa.string()),
        pa.field("matched_strings", pa.list_(pa.string())),
    ]
)

def _mask(arr, pattern: str, *, regex: bool, ignore_case: bool = False) -> np.ndarray:
    if regex:
        m = pc.match_substring_regex(arr, pattern, ignore_case=ignore_case)
    else:
        m = pc.match_substring(arr, pattern, ignore_case=ignore_case)
    return m.to_numpy(zero_copy_only=False).astype(bool)


class _CompactCol:
    """Candidate-proportional kernel evaluation for one string column.

    The pipeline's JVM gates blank every non-candidate row to '' before
    the bridge, so a typical batch is >90% empty strings — yet each of the
    ~O(100) per-signature kernels still walked the full batch. Two
    batch-local reductions make kernel cost proportional to CANDIDATE
    bytes instead:

    * compaction — kernels run over only the non-blank rows plus one ''
      sentinel whose result is scattered to every blank row (byte-identical
      to evaluating the kernel on '' per blank row; NULL rows stay False,
      matching pa boolean->numpy astype semantics);
    * dictionary encoding — repeated texts (templated tool output, retry
      loops, replayed logs) collapse to unique values before the kernel,
      and masks gather back through the code indices. Skipped when the
      batch is mostly unique (encode cost would exceed kernel savings).

    Masks returned are full-batch-length and identical to running each
    kernel over the raw column, verified by the routed-row-equality tests.
    """

    # dictionary-encode only when uniques shrink the kernel input enough
    # to beat the one extra hash pass over the batch
    _DICT_MAX_UNIQUE_FRACTION = 0.67

    def __init__(self, arr) -> None:
        arr = _as_array(arr)
        self.arr = arr
        self.n = len(arr)
        lens = pc.fill_null(pc.utf8_length(arr), 0).to_numpy(
            zero_copy_only=False
        )
        self.sel = np.nonzero(lens)[0]
        self.full = len(self.sel) == self.n
        self.null_sel = None
        self.codes = None
        if self.full:
            kernel_input = arr
        else:
            if arr.null_count:
                self.null_sel = np.nonzero(
                    arr.is_null().to_numpy(zero_copy_only=False).astype(bool)
                )[0]
            kernel_input = pa.concat_arrays(
                [
                    arr.take(pa.array(self.sel, type=pa.int64())),
                    pa.array([""], type=arr.type),
                ]
            )
        if len(kernel_input) > 64:
            enc = kernel_input.dictionary_encode()
            uniques = enc.dictionary
            if len(uniques) <= self._DICT_MAX_UNIQUE_FRACTION * len(
                kernel_input
            ):
                self.codes = enc.indices.to_numpy(zero_copy_only=False).astype(
                    np.int64, copy=False
                )
                kernel_input = uniques
        self.kernel_input = kernel_input

    def mask(self, fn) -> np.ndarray:
        """fn(pa.Array) -> np bool mask over that array; returns the
        equivalent full-batch mask."""
        small = fn(self.kernel_input)
        if self.codes is not None:
            small = small[self.codes]
        if self.full:
            return small
        out = np.full(self.n, bool(small[-1]))
        out[self.sel] = small[:-1]
        if self.null_sel is not None:
            out[self.null_sel] = False
        return out

    def row_to_kernel_index(self) -> np.ndarray:
        """For each batch row, the index into `kernel_input` holding its
        value (blank/NULL rows point at the '' sentinel). Lets per-unique
        computations (e.g. C2 host extraction) expand to rows."""
        if self.full:
            if self.codes is not None:
                return self.codes
            return np.arange(self.n, dtype=np.int64)
        # sentinel '' cannot collide with a (non-blank) compacted value,
        # so after dictionary_encode its code is always the LAST index
        idx = np.full(self.n, len(self.kernel_input) - 1, dtype=np.int64)
        small = (
            self.codes[:-1]
            if self.codes is not None
            else np.arange(len(self.sel), dtype=np.int64)
        )
        idx[self.sel] = small
        return idx


def _string_mask(arr, s) -> np.ndarray:
    """Boolean mask for one YaraString: literal kernel when possible,
    RE2 regex (modifier-aware, see signatures/compile.py) otherwise."""
    probe = literal_probe(s)
    if probe is not None:
        needle, nocase = probe
        return _mask(arr, needle, regex=False, ignore_case=nocase)
    return _mask(arr, boolean_regex(s, "re2"), regex=True)


def _list_struct_array(
    struct_type: pa.StructType, counts: np.ndarray, rows: dict[int, list[dict]]
) -> pa.Array:
    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    flat: list[dict] = []
    for i in sorted(rows):
        flat.extend(rows[i])
    values = pa.array(flat, type=struct_type)
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), values
    )


def match_record_batch(
    engine, batch: pa.RecordBatch
) -> tuple[pa.Array, pa.Array, pa.Array]:
    """Match one RecordBatch; returns (_m_fname, _m_yara, c2_gate) arrays.
    `ext_bits` is the packed external-variable bitmask the pipeline
    computed JVM-side (conditions.collect_ext_atoms ordering). Accepts
    raw (ungated) text/tool: dict-encoded compaction keeps kernel cost
    proportional to unique candidate bytes, so no JVM pre-blanking is
    needed — and masks are then EXACT, not gated supersets."""
    text = batch.column("text")
    tool = batch.column("tool")
    bits_np = (
        batch.column("ext_bits")
        .to_numpy(zero_copy_only=False)
        .astype("int64", copy=False)
    )
    ext = ExtBits(bits_np, engine.atom_index)
    n = batch.num_rows
    tool_c = _CompactCol(tool)
    text_c = _CompactCol(text)

    # ---- filename IOCs (J3)
    fn_counts = np.zeros(n, dtype=np.int64)
    fn_rows: dict[int, list[dict]] = {}
    for _rx, _fp_rx, ioc in engine.fname:
        mask = tool_c.mask(lambda a: _mask(a, ioc.pattern, regex=True))
        if ioc.fp_pattern:
            mask &= ~tool_c.mask(
                lambda a: _mask(a, ioc.fp_pattern, regex=True)
            )
        # one shared (read-only) struct dict per IOC — its fields are
        # row-independent, so hit rows append the same object instead of
        # building a fresh dict per hit
        entry = {
            "pattern": ioc.pattern,
            "score": ioc.score,
            "description": ioc.description,
        }
        for idx in np.nonzero(mask)[0]:
            i = int(idx)
            fn_rows.setdefault(i, []).append(entry)
            fn_counts[i] += 1
    fname_arr = _list_struct_array(FNAME_STRUCT, fn_counts, fn_rows)

    # ---- YARA subset (P5)
    ya_counts = np.zeros(n, dtype=np.int64)
    ya_rows: dict[int, list[dict]] = {}
    text_ops = None
    row_u = None  # lazy row -> kernel-input index map (hit rows only)
    for compiled in engine.yara:
        masks = [
            text_c.mask(lambda a, _s=s: _string_mask(a, _s))
            for s in compiled.rule.strings
        ]
        if compiled.uses_text_ops and text_ops is None:
            text_ops = TextOps(text)
        backend = _MaskBackend(
            [(ident, m) for (ident, _), m in zip(compiled.patterns, masks)],
            n,
            ext,
            text_ops=text_ops,
            strings_by_ident=compiled.strings_by_ident,
        )
        fired = render_condition(compiled.ast, backend)
        fired_idx = np.nonzero(fired)[0]
        if len(fired_idx) == 0:
            continue
        if row_u is None:
            row_u = text_c.row_to_kernel_index()
        # Matched strings depend only on (rule, text VALUE): the string
        # masks scatter from per-unique kernel results, so rows sharing a
        # dict-encoded unique value fire with identical matched_strings.
        # Compute the struct ONCE per unique value and append the shared
        # (read-only) dict per hit row — on replicated corpora (the
        # rep-1600 bench table has ~7 distinct texts per 10k-row batch)
        # this removes ~all per-hit .as_py() + occurrence-walk work.
        rule = compiled.rule
        per_unique: dict[int, dict] = {}
        for idx in fired_idx:
            i = int(idx)
            if ya_counts[i] >= MAX_YARA_MATCHES:
                continue
            u = int(row_u[i])
            entry = per_unique.get(u)
            if entry is None:
                row_text = text_c.kernel_input[u].as_py()
                matched_strings: list[str] = []
                for (identifier, rx), mask, s in zip(
                    compiled.patterns, masks, compiled.rule.strings
                ):
                    if not mask[i]:
                        continue
                    matched_strings.extend(
                        string_occurrence_lines(s, rx, row_text)
                    )
                entry = {
                    "rule": rule.name,
                    "score": rule.score,
                    "description": rule.description,
                    "author": rule.author,
                    "reference": rule.reference,
                    "matched_strings": matched_strings,
                }
                per_unique[u] = entry
            ya_rows.setdefault(i, []).append(entry)
            ya_counts[i] += 1
    yara_arr = _list_struct_array(YARA_STRUCT, ya_counts, ya_rows)

    c2_counts, c2_rows = _c2_match_lists(text_c, engine)
    return fname_arr, yara_arr, _c2_struct_array(c2_counts, c2_rows)


C2_STRUCT = pa.struct(
    [
        pa.field("host", pa.string()),
        pa.field("score", pa.int32()),
        pa.field("description", pa.string()),
    ]
)

# per-row cap on emitted C2 matches: the pipeline slices assembled
# reasons to max_matches (100) anyway, so entries beyond that can never
# be observed — this bounds memory on pathological host-stuffed rows
_MAX_C2_MATCHES = 100


def _c2_match_lists(
    text_c: "_CompactCol", engine
) -> tuple[np.ndarray, dict[int, list[tuple[str, int, str]]]]:
    """J4 C2 matching, the arrow scale path. Two stages, both over the
    dict-encoded UNIQUE text values:

    1. candidate gate — OR of case-insensitive literal kernels per IOC
       server (identical superset semantics to ioc_join.c2_text_gate);
       beyond C2_GATE_MAX_LITERALS one structural '.' kernel instead
       (a host token requires a dot);
    2. per candidate unique: extract host tokens (ioc_join.HOST_PATTERN
       over the lowercased text, occurrence order preserved) and resolve
       each via engine.c2_lookup — a dict probe per distinct server
       LENGTH, so cost is sub-linear in IOC count (matcher.py
       CompiledEngine docs; reference walk: src/main.rs:614-635).

    Returns (per-row match counts, {row: [(host, score, desc), ...]}) —
    per-host-occurrence duplication and first-match-wins preserved."""
    n = text_c.n
    counts = np.zeros(n, dtype=np.int64)
    if not engine.c2:
        return counts, {}
    from .ioc_join import C2_GATE_MAX_LITERALS

    ki = text_c.kernel_input
    if len(engine.c2) > C2_GATE_MAX_LITERALS:
        gate = _mask(ki, ".", regex=False)
    else:
        gate = np.zeros(len(ki), dtype=bool)
        for ioc in engine.c2:
            gate |= _mask(ki, ioc.server, regex=False, ignore_case=True)

    uniq_lists: dict[int, list[tuple[str, int, str]]] = {}
    for u in np.nonzero(gate)[0]:
        value = ki[int(u)].as_py()
        if not value:
            continue
        out: list[tuple[str, int, str]] = []
        for host in _HOST_RX.findall(value.lower()):
            hit = engine.c2_lookup(host)
            if hit is not None:
                out.append((host, hit[1], hit[2]))
                if len(out) >= _MAX_C2_MATCHES:
                    break
        if out:
            uniq_lists[int(u)] = out

    rows: dict[int, list[tuple[str, int, str]]] = {}
    if uniq_lists:
        row_idx = text_c.row_to_kernel_index()
        hit_uniques = np.array(sorted(uniq_lists), dtype=np.int64)
        hit_rows = np.nonzero(np.isin(row_idx, hit_uniques))[0]
        for r in hit_rows:
            lst = uniq_lists[int(row_idx[r])]
            rows[int(r)] = lst
            counts[int(r)] = len(lst)
    return counts, rows


def _c2_struct_array(
    counts: np.ndarray, rows: dict[int, list[tuple[str, int, str]]]
) -> pa.Array:
    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    flat: list[dict] = []
    for i in sorted(rows):
        flat.extend(
            {"host": h, "score": s, "description": d} for h, s, d in rows[i]
        )
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), pa.array(flat, type=C2_STRUCT)
    )


def match_gate_exprs(sigs: SignatureSet):
    """Cheap JVM-side candidate gates for the UDF matcher: a superset
    predicate over `text` built from every YARA string's cheapest
    rendering, and one over `tool` from the filename-IOC patterns. Rows
    failing a gate cannot match any string/IOC on that column, so the
    pipeline blanks it before the Arrow UDF — the Python bridge then
    carries only candidate bytes. External-variable conditions never see
    these columns: they arrive as the JVM-computed `ext_bits` bitmask, so
    gating cannot distort them.

    This is the Spark rendering of the reference's cheap-predicates-before-
    expensive-scan ordering (src/modules/filesystem_scan.rs:590-708), and
    is REQUIRED at scale: Catalyst cannot push selectivity through an
    opaque UDF, so we stage it ourselves.

    Returns (text_gate | None, tool_gate). text_gate is None when blanking
    text would be UNSOUND: a condition where a string reference sits under
    `not` is no longer monotone in the masks, so a blanked row could
    falsely FIRE. (Superset gating only ever turns masks False, which for
    monotone conditions can only suppress.) The tool gate is always sound:
    filename-IOC matching is monotone by construction — the fp_regex only
    SUPPRESSES an existing main-pattern match."""
    from pyspark.sql import functions as F

    from ..signatures.compile import hex_to_regex, regex_literal, wide_interleave
    from ..signatures.conditions import (
        collect_size_nodes,
        collect_uint_nodes,
        condition_negates_strings,
    )

    tool_alts = [f"(?:{ioc.pattern})" for ioc in sigs.filename_iocs]
    tool_gate = (
        F.col("tool").rlike("|".join(tool_alts)) if tool_alts else F.lit(False)
    )

    for rule in sigs.yara_rules:
        if condition_negates_strings(rule.condition_ast):
            return None, tool_gate

    # Literal ascii forms gate via contains() (JVM indexOf — much cheaper
    # than a backtracking regex alternation over long text); regex/wide/hex
    # forms collect into one rlike alternation. fullword is dropped from
    # the gate (contains is a superset of the word-bounded match).
    conds: list = []
    alts: list[str] = []
    for rule in sigs.yara_rules:
        for s in rule.strings:
            if s.is_hex:
                alts.append(f"(?s:{hex_to_regex(s.pattern)})")
                continue
            if s.xor_min is not None or s.base64_mod or s.base64wide:
                # variant-expanded strings: gate on the same alternation
                # the matcher uses (raw literal would never appear)
                alts.append(f"(?:{boolean_regex(s, 'lookaround')})")
                continue
            if s.is_regex:
                alts.append(
                    f"(?i:{s.pattern})" if s.nocase else f"(?:{s.pattern})"
                )
                continue
            if s.ascii_form:
                if s.nocase:
                    conds.append(
                        F.contains(
                            F.lower(F.col("text")), F.lit(s.pattern.lower())
                        )
                    )
                else:
                    conds.append(F.contains(F.col("text"), F.lit(s.pattern)))
            if s.wide:
                body = regex_literal(wide_interleave(s.pattern))
                alts.append(f"(?i:{body})" if s.nocase else f"(?:{body})")
        # uint reads have no string literal covering them: add a superset
        # probe per node so a uint-only firing row is never gated blank.
        # For '==' the exact fixed-offset comparison; for '!=' a length
        # probe (any text long enough to read could satisfy it).
        for node in collect_uint_nodes(rule.condition_ast):
            eq = (
                F.substring(F.col("text"), node.offset + 1, node.size)
                == node.needle
            )
            if node.op == "eq":
                conds.append(eq)
            else:
                conds.append(
                    F.length(F.col("text")) >= node.offset + node.size
                )
        # filesize reads likewise have no covering literal: the exact
        # JVM-side comparison is its own (sound and tight) superset probe.
        # A node under an odd number of `not`s must probe the COMPLEMENTED
        # comparison — the rows that can satisfy the negated literal are
        # exactly the ones failing the positive one (see
        # collect_size_nodes docstring for the soundness argument).
        complement = {
            "eq": "ne", "ne": "eq",
            "lt": "ge", "ge": "lt",
            "le": "gt", "gt": "le",
        }
        for node, negated in collect_size_nodes(rule.condition_ast):
            length = F.length(F.col("text"))
            op = complement[node.op] if negated else node.op
            conds.append(
                {
                    "eq": length == node.value,
                    "ne": length != node.value,
                    "gt": length > node.value,
                    "ge": length >= node.value,
                    "lt": length < node.value,
                    "le": length <= node.value,
                }[op]
            )
    if alts:
        conds.append(F.col("text").rlike("|".join(alts)))

    gate = F.lit(False)
    for cond in conds:
        gate = gate | cond
    return gate, tool_gate


def match_scores_record_batch(
    engine, batch: pa.RecordBatch
) -> tuple[pa.Array, pa.Array]:
    """Score-only variant of match_record_batch: per row, the SCORE arrays
    of matching filename IOCs and fired YARA rules (discovery order), with
    no struct assembly and no matched-string offset extraction — the whole
    batch is mask algebra + one ListArray construction, zero per-hit
    Python. Used by aggregate-only consumers (severity counts, rollups)
    where messages/offsets are never read; scoring semantics are identical
    because reason scores do not depend on matched strings."""
    text = batch.column("text")
    tool = batch.column("tool")
    bits_np = (
        batch.column("ext_bits")
        .to_numpy(zero_copy_only=False)
        .astype("int64", copy=False)
    )
    ext = ExtBits(bits_np, engine.atom_index)
    n = batch.num_rows
    tool_c = _CompactCol(tool)
    text_c = _CompactCol(text)

    def score_list_array(per_source: list[tuple[np.ndarray, int]]) -> pa.Array:
        """(mask, score) per source, source order preserved per row."""
        counts = np.zeros(n, dtype=np.int64)
        for mask, _ in per_source:
            counts += mask
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=offsets[1:])
        values = np.zeros(int(offsets[-1]), dtype=np.int32)
        cursor = offsets[:-1].copy()
        for mask, score in per_source:
            idx = np.nonzero(mask)[0]
            values[cursor[idx]] = score
            cursor[idx] += 1
        return pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()), pa.array(values, type=pa.int32())
        )

    fname_sources = []
    for _rx, _fp_rx, ioc in engine.fname:
        mask = tool_c.mask(lambda a: _mask(a, ioc.pattern, regex=True))
        if ioc.fp_pattern:
            mask &= ~tool_c.mask(
                lambda a: _mask(a, ioc.fp_pattern, regex=True)
            )
        fname_sources.append((mask, ioc.score))

    yara_sources = []
    text_ops = None
    for compiled in engine.yara:
        masks = [
            text_c.mask(lambda a, _s=s: _string_mask(a, _s))
            for s in compiled.rule.strings
        ]
        if compiled.uses_text_ops and text_ops is None:
            text_ops = TextOps(text)
        backend = _MaskBackend(
            [(ident, m) for (ident, _), m in zip(compiled.patterns, masks)],
            n,
            ext,
            text_ops=text_ops,
            strings_by_ident=compiled.strings_by_ident,
        )
        fired = render_condition(compiled.ast, backend)
        yara_sources.append((np.asarray(fired, dtype=bool), compiled.rule.score))

    c2_counts, c2_rows = _c2_match_lists(text_c, engine)
    c2_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(c2_counts, out=c2_offsets[1:])
    c2_scores = pa.ListArray.from_arrays(
        pa.array(c2_offsets, type=pa.int32()),
        pa.array(
            [s for i in sorted(c2_rows) for _h, s, _d in c2_rows[i]],
            type=pa.int32(),
        ),
    )
    return (
        score_list_array(fname_sources),
        score_list_array(yara_sources),
        c2_scores,
    )


def make_arrow_score_matcher_udf(spark: SparkSession, sigs: SignatureSet):
    """arrow_udf wrapper for match_scores_record_batch: returns
    struct<fname:array<int>, yara:array<int>, c2:array<int>> — per-source
    score arrays including the J4 C2 matches (scores only)."""
    from pyspark.sql.functions import arrow_udf

    bc = spark.sparkContext.broadcast(sigs.to_payload())

    @arrow_udf("struct<fname:array<int>,yara:array<int>,c2:array<int>>")
    def match_scores_arrow(
        it: Iterator[Tuple[pa.Array, pa.Array, pa.Array]],
    ) -> Iterator[pa.Array]:
        engine = _engine_for(bc.value)
        for text, tool, ext_bits in it:
            batch = pa.RecordBatch.from_arrays(
                [_as_array(text), _as_array(tool), _as_array(ext_bits)],
                names=["text", "tool", "ext_bits"],
            )
            fname_arr, yara_arr, c2_arr = match_scores_record_batch(
                engine, batch
            )
            yield pa.StructArray.from_arrays(
                [fname_arr, yara_arr, c2_arr], names=["fname", "yara", "c2"]
            )

    # The matcher is pure, but the non-deterministic marking is an
    # optimizer fence (guide §4.4): without it, the candidate-first
    # routed filter — which references this UDF's output — is pushed
    # below the projection by SUBSTITUTING the UDF call into the
    # predicate, and the plan carries TWO ArrowEvalPython nodes (every
    # row pays the matcher twice). Pinned by
    # tests/test_pipeline.py::test_scan_routed_plan_invariants.
    return match_scores_arrow.asNondeterministic()


def make_arrow_matcher_udf(spark: SparkSession, sigs: SignatureSet):
    """Scalar Arrow UDF (Spark 4.1 `arrow_udf`, iterator form): ONLY the
    text and tool columns cross the Python bridge (unlike mapInArrow,
    which round-trips every column), and the match computation runs on
    Arrow buffers via pyarrow compute kernels. This is the production
    matcher."""
    from pyspark.sql.functions import arrow_udf

    bc = spark.sparkContext.broadcast(sigs.to_payload())
    return_ddl = (
        "struct<fname:array<struct<pattern:string,score:int,"
        "description:string>>,"
        "yara:array<struct<rule:string,score:int,description:string,"
        "author:string,reference:string,matched_strings:array<string>>>,"
        "c2:array<struct<host:string,score:int,description:string>>>"
    )

    @arrow_udf(return_ddl)
    def match_signatures_arrow(
        it: Iterator[Tuple[pa.Array, pa.Array, pa.Array]],
    ) -> Iterator[pa.Array]:
        engine = _engine_for(bc.value)
        for text, tool, ext_bits in it:
            batch = pa.RecordBatch.from_arrays(
                [_as_array(text), _as_array(tool), _as_array(ext_bits)],
                names=["text", "tool", "ext_bits"],
            )
            fname_arr, yara_arr, c2_arr = match_record_batch(engine, batch)
            yield pa.StructArray.from_arrays(
                [fname_arr, yara_arr, c2_arr], names=["fname", "yara", "c2"]
            )

    # optimizer fence against duplicated evaluation under pushed-down
    # candidate filters — see make_arrow_score_matcher_udf.
    return match_signatures_arrow.asNondeterministic()


def _as_array(arr):
    if isinstance(arr, pa.ChunkedArray):
        return arr.combine_chunks()
    return arr
