#!/usr/bin/env python3
"""Self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py          # checks, then tiny-size runs
    python3 perfbench/selftest.py --checks # only the correctness checks

1. Every correctness check reports a mismatch when given a deliberately
   wrong expected answer (and none when given the right one).
2. A tiny-size run of each workload, untraced and traced, prints every
   metric named in BENCHMARK.json with its unit, and `correct` is true.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from collections import Counter

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        FAILURES.append(what)


def _expected_from(rows):
    from perfbench import check

    levels = Counter(r[2] for r in rows)
    n, dig = check.digest(check.routed_key(*r) for r in rows)
    return check.Expected({lv: levels.get(lv, 0) for lv in check.LEVELS},
                          n, dig, {(r[0], r[1]): check.routed_key(*r)
                                   for r in rows})


def check_routed() -> None:
    from perfbench import check

    reason = ("YARA match with rule X", 75, "d", None, None, ("$a: 'x' @ 3",))
    rows = [("conv-0", 0, "ALERT", 90, (reason,)),
            ("conv-0", 3, "NOTICE", 45, ()),
            ("conv-1", 1, "WARNING", 75, (reason,))]
    good = _expected_from(rows)
    expect(not check.compare_routed(rows, good), "routed: right answer passes")
    wrong = {
        "score": [rows[0], rows[1], ("conv-1", 1, "WARNING", 74, (reason,))],
        "level": [rows[0], rows[1], ("conv-1", 1, "ALERT", 75, (reason,))],
        "row dropped": rows[:2],
        "reason text": [rows[0], rows[1],
                        ("conv-1", 1, "WARNING", 75,
                         (reason[:5] + (("$a: 'x' @ 4",),),))],
    }
    for what, exp_rows in wrong.items():
        expect(bool(check.compare_routed(rows, _expected_from(exp_rows))),
               f"routed: wrong expected ({what}) is caught")


def check_reference_paths() -> None:
    import pyarrow as pa

    from perfbench import check
    from perfbench.layers import L

    sigs = L.load_signature_set(os.path.join(ROOT, "signatures"))
    cfg = L.DEFAULT_CONFIG
    src = L.transcripts_module
    turns = pa.table({
        "conv_id": ["c0", "c0", "c1", "c1"],
        "turn_idx": pa.array([0, 1, 0, 1], pa.int32()),
        "role": ["user", "assistant", "tool", "user"],
        "text": [src.ALPHA_PAYLOAD, "plain words only",
                 "x launched netcat -e /bin/sh session", src.FP_PAYLOAD],
        "tool": ["tool-1", "tool-2", "tool-3", "tool-4"],
    })
    ref = check.Reference(sigs, cfg)
    exp = check.expected_routed(ref, turns)
    expect(exp.count == 2, "reference: the planted payloads route")
    actual = [(c, t, lv, s, r) for (c, t), key in exp.rows.items()
              for c, t, lv, s, r in [_unkey(key)]]
    expect(not check.compare_routed(actual, exp),
           "reference: its own rows pass")
    sampled = check.expected_routed(ref, turns, [0, 1, 2, 3])
    expect(not check.compare_routed_sampled(actual, ref, turns, {0, 1, 2, 3},
                                            sampled),
           "sampled: right answer passes")
    bad = check.Expected(sampled.levels, sampled.count, sampled.digest,
                         {k: v.replace("ALERT", "NOTICE")
                          for k, v in sampled.rows.items()})
    expect(bool(check.compare_routed_sampled(actual, ref, turns, {0, 1, 2, 3},
                                             bad)),
           "sampled: wrong expected (level) is caught")
    stray = actual + [("c0", 1, "ALERT", 99, ())]
    expect(bool(check.compare_routed_sampled(stray, ref, turns, {0, 2},
                                             check.expected_routed(
                                                 ref, turns, [0, 2]))),
           "sampled: an unplanted routed row the reference rejects is caught")
    roll = check.expected_rollup(ref, turns)
    rows = [{"conv_id": c, "n_turns": v[0], "n_routed": v[1],
             "n_alerts": v[2], "max_score": v[3]} for c, v in roll.items()]
    expect(not check.compare_rollup(rows, roll), "rollup: right answer passes")
    wrong = dict(roll)
    c = sorted(wrong)[0]
    wrong[c] = (wrong[c][0] + 1, *wrong[c][1:])
    expect(bool(check.compare_rollup(rows, wrong)),
           "rollup: wrong expected (n_turns) is caught")
    counts = [{"level": lv, "n": n} for lv, n in exp.levels.items() if n]
    expect(not check.compare_counts(counts, exp.levels),
           "severity_counts: right answer passes")
    expect(bool(check.compare_counts(counts, {**exp.levels, "NOTICE": 7})),
           "severity_counts: wrong expected is caught")


def _unkey(key: str):
    c, t, lv, s, reasons = json.loads(key)
    return c, t, lv, s, tuple(
        tuple(tuple(x) if isinstance(x, list) else x for x in r)
        for r in reasons)


def check_oracle() -> None:
    from perfbench import check
    from perfbench.gen import generate
    from perfbench.layers import L

    cache = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(cache, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        nd = generate("neardup", 3, 0.05, tmp)
        sql = L.oracle_queries()["simhash_pairs"]
        cols, rows = check.oracle_rows(sql, nd.sf_dir)
    expect(len(rows) > 0, "oracle: planted near-duplicates give pairs")
    expect(not check.compare_rows((cols, rows), (cols, rows), "simhash"),
           "oracle: right answer passes")
    expect(bool(check.compare_rows((cols, rows), (cols, rows[1:]), "simhash")),
           "oracle: wrong expected (row dropped) is caught")
    changed = [tuple(v + 1 if isinstance(v, int) else v for v in rows[0])]
    expect(bool(check.compare_rows((cols, rows), (cols, changed + rows[1:]),
                                   "simhash")),
           "oracle: wrong expected (value changed) is caught")


def tiny_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "5",
                   "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            ok = proc.returncode == 0 and bool(lines)
            result = json.loads(lines[-1]) if ok else {}
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in
                   result.get("metrics", {}).items()}
            expect(ok and got == want,
                   f"tiny run {w['name']} trace={trace}: every {key} metric "
                   f"with its unit" + ("" if got == want else
                                       f" (missing {sorted(set(want) - set(got))},"
                                       f" extra {sorted(set(got) - set(want))})"))
            expect(result.get("correct") is True and result.get("failed") == 0,
                   f"tiny run {w['name']} trace={trace}: outputs correct")


def main() -> int:
    check_routed()
    check_reference_paths()
    check_oracle()
    if "--checks" not in sys.argv:
        tiny_runs()
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
