"""Correctness checks, run outside every timed region.

Each check returns a list of mismatch descriptions; an empty list means
the output is correct. Expected answers come from independent renderings:
`plans.reference_scanner.scan_turn` (once per distinct text/tool/role) for
the scan outputs, and the repository's DuckDB `oracle_queries()` SQL for
the near-duplicate operators.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import re
from collections import Counter
from dataclasses import dataclass, replace

import pyarrow as pa
import pyarrow.dataset as ds

from .layers import L

LEVELS = ("ALERT", "WARNING", "NOTICE")


@dataclass(frozen=True)
class Evaluated:
    """The reference's verdict for one evaluated (not excluded, not FP)
    turn. `level` is None below the notice threshold; `reasons` holds the
    shown (sliced) reasons as plain tuples."""

    score: int
    level: str | None
    reasons: tuple


def _reason_tuple(message, score, description, author, reference, matched):
    return (message, int(score), description, author, reference,
            tuple(matched) if matched else None)


class Reference:
    """`scan_turn` evaluated once per distinct (text, tool, role)."""

    def __init__(self, sigs, cfg) -> None:
        self.sigs = sigs
        self.cfg = cfg
        # notice threshold 0: every turn with a reason comes back with its
        # score; the real level is derived from cfg below
        self._all = replace(cfg, notice_threshold=0)
        self._fp = {h.hash_value for h in sigs.fp_hashes}
        self._cache: dict[tuple, Evaluated | None] = {}
        self.calls = 0

    def _level(self, score: int) -> str | None:
        c = self.cfg
        if score >= c.alert_threshold:
            return "ALERT"
        if score >= c.warning_threshold:
            return "WARNING"
        if score >= c.notice_threshold:
            return "NOTICE"
        return None

    def eval(self, text, tool, role) -> Evaluated | None:
        """None when the turn never reaches `evaluated` (excluded by the
        tool filter, NULL/oversized text, or an FP-hash text)."""
        key = (text, tool, role)
        if key in self._cache:
            return self._cache[key]
        self.calls += 1
        out: Evaluated | None
        if any(re.search(p, tool or "") for p in self.cfg.exclude_patterns):
            out = None
        elif text is None or len(text) > self.cfg.max_text_chars:
            out = None
        elif self._is_fp(text):
            out = None
        else:
            row = L.scan_turn("", 0, text, tool, self.sigs, self._all,
                              role=role)
            if row is None:
                out = Evaluated(0, None, ())
            else:
                out = Evaluated(
                    row.score,
                    self._level(row.score),
                    tuple(
                        _reason_tuple(r.message, r.score, r.description,
                                      r.author, r.reference,
                                      r.matched_strings)
                        for r in row.reasons
                    ),
                )
        self._cache[key] = out
        return out

    def _is_fp(self, text: str) -> bool:
        raw = text.encode("utf-8")
        return any(
            h in self._fp
            for h in (hashlib.md5(raw).hexdigest(),
                      hashlib.sha1(raw).hexdigest(),
                      hashlib.sha256(raw).hexdigest())
        )


# ---------------------------------------------------------------- rows

def routed_key(conv_id, turn_idx, level, score, reasons) -> str:
    return json.dumps([conv_id, int(turn_idx), level, int(score),
                       [list(r) for r in reasons]])


def digest(keys) -> tuple[int, str]:
    """(count, order-independent digest) of row keys: the sum, mod 2^64,
    of each key's 8-byte blake2b."""
    total = 0
    n = 0
    for k in keys:
        h = hashlib.blake2b(k.encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) & (2**64 - 1)
        n += 1
    return n, f"{total:016x}"


def read_routed(path: str) -> pa.Table:
    """A routed sink directory (hive-partitioned parquet) as one table."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def sink_rows(table: pa.Table) -> list[tuple]:
    """(conv_id, turn_idx, level, score, reasons) per written row."""
    if table.num_rows == 0:  # no row routed: the sink has no data files
        return []
    cols = {c: table.column(c).to_pylist()
            for c in ("conv_id", "turn_idx", "level", "score", "reasons")}
    out = []
    for i in range(table.num_rows):
        reasons = tuple(
            _reason_tuple(r["message"], r["score"], r["description"],
                          r["author"], r["reference"], r["matched_strings"])
            for r in (cols["reasons"][i] or [])
        )
        out.append((cols["conv_id"][i], cols["turn_idx"][i],
                    str(cols["level"][i]), cols["score"][i], reasons))
    return out


@dataclass
class Expected:
    """Expected routed rows of a scan: counts per level, the digest, and
    each row's key for the sampled check."""

    levels: dict
    count: int
    digest: str
    rows: dict  # (conv_id, turn_idx) -> routed key


def expected_routed(ref: Reference, turns: pa.Table, rows=None) -> Expected:
    """Expected routed rows over all turns, or over the turn indices in
    `rows` (sampled check)."""
    conv = turns.column("conv_id").to_pylist()
    tidx = turns.column("turn_idx").to_pylist()
    text = turns.column("text").to_pylist()
    tool = turns.column("tool").to_pylist()
    role = turns.column("role").to_pylist()
    idx = range(turns.num_rows) if rows is None else rows
    keys: dict = {}
    levels: Counter = Counter()
    for i in idx:
        ev = ref.eval(text[i], tool[i], role[i])
        if ev is None or ev.level is None:
            continue
        keys[(conv[i], tidx[i])] = routed_key(conv[i], tidx[i], ev.level,
                                              ev.score, ev.reasons)
        levels[ev.level] += 1
    n, dig = digest(keys.values())
    return Expected({lv: levels.get(lv, 0) for lv in LEVELS}, n, dig, keys)


def compare_routed(actual_rows: list[tuple], exp: Expected) -> list[str]:
    """Full check: per-level counts and the order-independent digest."""
    levels = Counter(r[2] for r in actual_rows)
    got = {lv: levels.get(lv, 0) for lv in LEVELS}
    problems = []
    if got != exp.levels:
        problems.append(f"level counts {got} != expected {exp.levels}")
    n, dig = digest(routed_key(*r) for r in actual_rows)
    if (n, dig) != (exp.count, exp.digest):
        problems.append(f"routed digest {n}/{dig} != expected "
                        f"{exp.count}/{exp.digest}")
    return problems


def compare_routed_sampled(
    actual_rows: list[tuple], ref: Reference, turns: pa.Table,
    checked: set[int], exp: Expected,
) -> list[str]:
    """Sampled check (fresh_sparse): every checked turn (all planted rows
    plus a seeded sample of clean rows) must be routed exactly as the
    reference says, and every routed row outside the checked set must be
    one the reference also routes."""
    problems = []
    actual = {(r[0], r[1]): routed_key(*r) for r in actual_rows}
    if len(actual) != len(actual_rows):
        problems.append("duplicate (conv_id, turn_idx) in routed output")
    conv = turns.column("conv_id").to_pylist()
    tidx = turns.column("turn_idx").to_pylist()
    checked_keys = {(conv[i], tidx[i]) for i in checked}
    for key in checked_keys:
        if actual.get(key) != exp.rows.get(key):
            problems.append(f"turn {key}: routed {actual.get(key)} != "
                            f"expected {exp.rows.get(key)}")
            break
    extra = [k for k in actual if k not in checked_keys]
    if extra:
        pos = {(c, t): i for i, (c, t) in enumerate(zip(conv, tidx))}
        unknown = [k for k in extra if k not in pos]
        if unknown:
            problems.append(f"routed rows not in the input: {unknown[:3]}")
        sub = expected_routed(ref, turns, [pos[k] for k in extra if k in pos])
        for k in extra:
            if k in pos and actual[k] != sub.rows.get(k):
                problems.append(f"unplanted turn {k} routed as {actual[k]}, "
                                f"reference says {sub.rows.get(k)}")
                break
    return problems


def expected_rollup(ref: Reference, turns: pa.Table) -> dict:
    """conv_id -> (n_turns, n_routed, n_alerts, max_score) over the
    evaluated turns, as `per_conv_rollup_salted` computes it."""
    out: dict = {}
    for c, text, tool, role in zip(
        turns.column("conv_id").to_pylist(),
        turns.column("text").to_pylist(),
        turns.column("tool").to_pylist(),
        turns.column("role").to_pylist(),
    ):
        ev = ref.eval(text, tool, role)
        if ev is None:
            continue
        n, r, a, m = out.get(c, (0, 0, 0, None))
        out[c] = (
            n + 1,
            r + (ev.level is not None),
            a + (ev.level == "ALERT"),
            ev.score if m is None else max(m, ev.score),
        )
    return out


def compare_rollup(rows, expected: dict) -> list[str]:
    got = {
        r["conv_id"]: (r["n_turns"], r["n_routed"], r["n_alerts"],
                       r["max_score"])
        for r in rows
    }
    if got == expected:
        return []
    diff = [c for c in set(got) | set(expected) if got.get(c) != expected.get(c)]
    c = sorted(diff)[0]
    return [f"rollup differs on {len(diff)} conversations, e.g. {c}: "
            f"{got.get(c)} != expected {expected.get(c)}"]


def compare_counts(rows, expected_levels: dict) -> list[str]:
    got = {lv: 0 for lv in LEVELS}
    for r in rows:
        got[r["level"]] = r["n"]
    return [] if got == expected_levels else [
        f"severity_counts {got} != expected {expected_levels}"
    ]


# ---------------------------------------------------------- near-dup oracle

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "item"):
        return _norm(v.item())
    return v


def normalized_rows(columns: list[str], rows) -> tuple[list[str], list]:
    """Columns sorted by name, rows as sorted tuples (the repository's
    oracle-parity normalisation)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (sorted(columns[i] for i in order),
            sorted(tuple(_norm(row[i]) for i in order) for row in rows))


def oracle_rows(sql: str, sf_dir: str) -> tuple[list[str], list]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        return normalized_rows(names, cur.fetchall())
    finally:
        con.close()


def compare_rows(actual, expected, what: str) -> list[str]:
    (acols, arows), (ecols, erows) = actual, expected
    if acols != ecols:
        return [f"{what}: columns {acols} != oracle {ecols}"]
    if arows != erows:
        missing = Counter(erows) - Counter(arows)
        extra = Counter(arows) - Counter(erows)
        return [f"{what}: {len(arows)} rows vs oracle {len(erows)} "
                f"({sum(missing.values())} missing, "
                f"{sum(extra.values())} extra)"]
    return []
