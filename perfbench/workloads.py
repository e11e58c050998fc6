"""The measured operations.

Each workload is a closed loop with one client: one scan pass (read the
stored transcript table, `scan_transcripts`, `write_severity_sinks`) at a
time, the next starting only after the previous one finished and its
output was checked. Checks run outside every timed region.

The traced run adds the per-layer ladder on the same session: noop writes
of each public stage prefix (layer time = prefix time minus the previous
prefix), repeated on the measured and on a tiny table of the workload so
that each layer's fixed and marginal cost separate; the matcher kernels
in-process over the same Arrow batches; the resumable scan, the
score-only aggregates and the near-duplicate queries.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc

from . import check
from .gen import Generated
from .layers import L
from .speed import SpeedProbe
from .trace import Tracer

RESUME_BUCKETS = 16
SALT_BUCKETS = 16
DEDUP_OPS = ("simhash_pairs", "minhash_lsh_pairs", "embedding_cosine_pairs",
             "neardup_groups")
# clean (unplanted) turns checked against the reference on fresh_sparse
CLEAN_SAMPLE = 400
MAX_FAILED_PASSES = 3


@dataclass
class Ctx:
    spark: object
    sigs: object
    cfg: object
    gen: Generated
    seed: int
    work: str  # scratch dir for sinks, inside the checkout
    cores: int
    tracer: Tracer
    checker: "ScanChecker | None" = None
    # the same workload at TINY_SCALE: its passes measure the fixed cost
    tiny: Generated | None = None
    tiny_checker: "ScanChecker | None" = None
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    peak_rss_kb: int = 0
    peak_rss_parts: dict = field(default_factory=dict)
    # the core-speed probe, and its slowdown over the last checked pass
    speed: "SpeedProbe | None" = None
    last_slowdown: float | None = None

    def usage(self) -> float:
        """CPU seconds used so far by the Spark driver JVM and its
        descendants (the Python worker daemon and workers), plus this
        process; also tracks their peak resident memory (sum of VmHWM),
        in all and per kind ("jvm", "python"). Read between passes, so no
        sampler competes with measured work."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        cpu, kb = tree_usage(proc.pid) if proc is not None else (0.0, {})
        self.peak_rss_kb = max(self.peak_rss_kb, sum(kb.values()))
        for kind, v in kb.items():
            self.peak_rss_parts[kind] = max(self.peak_rss_parts.get(kind, 0),
                                            v)
        t = os.times()
        return cpu + t.user + t.system

    def record(self, what: str, problems: list[str]) -> None:
        """Count one operation; a non-empty `problems` makes it failed."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)


@contextmanager
def job_count(spark, name: str):
    """Counts the Spark jobs started inside the block, through a job group
    and the public status tracker (works with the UI disabled)."""
    sc = spark.sparkContext
    gid = f"perfbench-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, name)
    box = [0]
    try:
        yield box
    finally:
        box[0] = len(sc.statusTracker().getJobIdsForGroup(gid))
        sc.setLocalProperty("spark.jobGroup.id", None)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_usage(root: int) -> tuple[float, dict]:
    """(CPU seconds, {"jvm": kB, "python": kB}) of `root` and its
    descendants. CPU counts user+system time of live processes plus that
    of reaped children, less the JIT compiler threads of `root`; memory
    is each process's VmHWM (peak resident set), summed per kind."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    peak: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/status") as f:
                hwm = next((line.split()[1] for line in f
                            if line.startswith("VmHWM:")), "0")
        except OSError:  # the process exited while we walked /proc
            continue
        # fields after the command: state ppid ... utime(12) stime(13)
        # cutime(14) cstime(15), counted from `state` at index 0
        children.setdefault(int(stat[1]), []).append(pid)
        cpu[pid] = sum(int(x) for x in stat[11:15]) / _TICK
        peak[pid] = int(hwm)
    total_cpu, kb, todo = -_jit_cpu(root), {"jvm": 0, "python": 0}, [root]
    while todo:
        pid = todo.pop()
        total_cpu += cpu.get(pid, 0.0)
        kb["jvm" if pid == root else "python"] += peak.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total_cpu, kb


# CPU seconds last read per JIT compiler thread id. The JVM starts and
# stops compiler threads as its compile queue grows and shrinks; a stopped
# thread's time stays in the process's total, so it stays counted here.
_JIT_SEEN: dict[tuple[int, str], float] = {}


def _jit_cpu(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads, live and stopped:
    warm-up work whose amount varies from run to run, kept out of the
    per-pass CPU."""
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # the thread exited
            continue
        if "CompilerThre" in stat[stat.index("("):stat.rindex(")")]:
            fields = stat.rsplit(")", 1)[1].split()
            _JIT_SEEN[(pid, tid)] = (int(fields[11])
                                     + int(fields[12])) / _TICK
    return sum(v for (p, _), v in _JIT_SEEN.items() if p == pid)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files
                     if f.endswith(".parquet"))
    return total


# ------------------------------------------------------------- scan pass

def scan_pass(ctx: Ctx, out: str, table: str | None = None) -> float:
    tr = ctx.tracer
    started = time.perf_counter()
    with tr.span("pass"):
        df = ctx.spark.read.parquet(table or ctx.gen.table)
        with tr.span("plans.pipeline"):
            result = L.scan_transcripts(ctx.spark, df, ctx.sigs, ctx.cfg)
        with tr.span("operators.route"):
            L.write_severity_sinks(result.routed, out)
    return time.perf_counter() - started


class ScanChecker:
    """Expected routed rows for a generated table, computed once per run
    from the reference scanner; `__call__` checks one sink dir."""

    def __init__(self, ctx: Ctx, gen: Generated) -> None:
        self.ref = check.Reference(ctx.sigs, ctx.cfg)
        self.turns = gen.turns
        self.sampled = gen.workload == "fresh_sparse"
        if self.sampled:
            rng = np.random.default_rng([ctx.seed, 7])
            planted = np.nonzero(gen.planted)[0]
            clean = np.nonzero(~gen.planted)[0]
            pick = rng.choice(clean, min(CLEAN_SAMPLE, len(clean)),
                              replace=False)
            self.checked = {int(i) for i in planted} | {int(i) for i in pick}
            self.expected = check.expected_routed(
                self.ref, self.turns, sorted(self.checked))
        else:
            self.expected = check.expected_routed(self.ref, self.turns)

    def __call__(self, routed_dir: str) -> list[str]:
        rows = check.sink_rows(check.read_routed(routed_dir))
        if self.sampled:
            return check.compare_routed_sampled(
                rows, self.ref, self.turns, self.checked, self.expected)
        return check.compare_routed(rows, self.expected)


def checked_pass(ctx: Ctx, tiny: bool, out: str) -> tuple[float, float]:
    """One scan pass over the measured table (or the tiny one), then its
    check. Returns the pass's wall time and CPU seconds, and keeps the
    core-speed probe's slowdown over the pass in `ctx.last_slowdown`."""
    gen, checker = (ctx.tiny, ctx.tiny_checker) if tiny else (ctx.gen,
                                                              ctx.checker)
    s0 = ctx.speed.sample() if ctx.speed else None
    c0 = ctx.usage()
    t = scan_pass(ctx, out, gen.table)
    cpu = ctx.usage() - c0
    if s0 is not None:
        ctx.last_slowdown = SpeedProbe.slowdown(s0, ctx.speed.sample())
    ctx.record(f"{'tiny' if tiny else 'scan'} pass",
               checker(os.path.join(out, "routed")))
    return t, cpu


def closed_loop(ctx: Ctx, seconds: float, min_passes: int):
    """Steady passes over the measured table until their summed wall time
    reaches `seconds`. Returns [(wall, cpu, slowdown), ...]."""
    out = os.path.join(ctx.work, "sinks")
    passes: list[tuple[float, float, float | None]] = []
    failures = 0
    while sum(p[0] for p in passes) < seconds or len(passes) < min_passes:
        try:
            passes.append((*checked_pass(ctx, False, out),
                           ctx.last_slowdown))
        except Exception as exc:  # a failed pass counts in error_rate
            ctx.record("scan pass", [repr(exc)])
            failures += 1
            if failures >= MAX_FAILED_PASSES:
                raise
    return passes


# ------------------------------------------------------------ the ladder

LADDER = ("sources", "operators.filters", "operators.hashes",
          "operators.ioc_join", "operators.arrow_matcher", "plans.pipeline",
          "operators.route")


@dataclass
class Ladder:
    """Per repetition of the ladder, each layer's self time (its prefix
    minus the previous prefix): wall seconds on the measured table, wall
    seconds on the tiny table, and the marginal CPU per turn (the CPU
    delta on the measured table minus the one on the tiny table, over the
    turns between them)."""

    wall: dict
    tiny_wall: dict
    marginal_us: dict
    untraced: list  # one untraced measured pass, in the second repetition
    traced: list  # traced measured passes (the route prefix)
    tiny_pass_cpu: list  # CPU seconds of the tiny table's whole pass
    counts: dict
    fp_frame: object  # the frame after the FP anti-join (matcher input)


def ladder(ctx: Ctx, deadline: float, min_reps: int, max_reps: int):
    """Prefix ladder of the scan, on the measured and the tiny table.
    Each prefix is a noop write of a public stage frame or operator; the
    last is a whole scan pass with the real sink write. The second
    repetition also runs one untraced pass. The ladder repeats while another
    repetition is expected to end before `deadline` (a perf_counter
    time), at least `min_reps` and at most `max_reps` times. Self times
    are computed per repetition, so drift between repetitions cancels."""
    from pyspark.sql import functions as F

    spark, sigs, cfg = ctx.spark, ctx.sigs, ctx.cfg
    out = os.path.join(ctx.work, "ladder_sinks")

    def stage_frames(table):
        df0 = spark.read.parquet(table)
        result = L.scan_transcripts(spark, df0, sigs, cfg)
        hashed = L.with_hashes(result.scanned)
        fp = L.anti_join_fp_hashes(spark, hashed, sigs)
        udf = L.make_arrow_matcher_udf(spark, sigs)
        matched = fp.withColumn(
            "_m", udf(F.col("text"), F.col("tool"), L.ext_bits_col(sigs)))
        return [df0, result.scanned, hashed, fp, matched, result.routed]

    def prefixes(tiny: bool):
        """(wall, cpu) per prefix, in LADDER order."""
        gen = ctx.tiny if tiny else ctx.gen
        tag = "tiny." if tiny else ""
        got = []
        for name, frame in zip(LADDER, stage_frames(gen.table)):
            with ctx.tracer.span(f"ladder.{tag}{name}"):
                c0 = ctx.usage()
                t0 = time.perf_counter()
                noop(frame)
                got.append((time.perf_counter() - t0, ctx.usage() - c0))
        with ctx.tracer.span(f"ladder.{tag}operators.route"), \
                job_count(spark, "sinks") as jobs:
            got.append(checked_pass(ctx, tiny, out))
        return got, jobs[0]

    def deltas(values):
        return {n: v - (values[i - 1] if i else 0.0)
                for i, (n, v) in enumerate(zip(LADDER, values))}

    rows = ctx.gen.props["rows"] - ctx.tiny.props["rows"]
    wall = {n: [] for n in LADDER}
    tiny_wall = {n: [] for n in LADDER}
    marginal = {n: [] for n in LADDER}
    untraced: list[float] = []
    traced: list[float] = []
    tiny_pass_cpu: list[float] = []
    route_jobs = 0
    took = 0.0
    while len(traced) < min_reps or (
            len(traced) < max_reps
            and time.perf_counter() + took < deadline):
        t_rep = time.perf_counter()
        tiny, _ = prefixes(True)
        big, route_jobs = prefixes(False)
        traced.append(big[-1][0])
        tiny_pass_cpu.append(tiny[-1][1])
        if len(traced) == 2:
            ctx.tracer.enabled = False
            untraced.append(checked_pass(ctx, False, out)[0])
            ctx.tracer.enabled = True
        d_big = deltas([c for _, c in big])
        d_tiny = deltas([c for _, c in tiny])
        for n, w in deltas([w for w, _ in big]).items():
            wall[n].append(w)
        for n, w in deltas([w for w, _ in tiny]).items():
            tiny_wall[n].append(w)
        for n in LADDER:
            marginal[n].append((d_big[n] - d_tiny[n]) / rows * 1e6)
        took = time.perf_counter() - t_rep

    # counts, outside the timed prefixes
    frames = stage_frames(ctx.gen.table)
    rows_in = ctx.gen.props["rows"]
    scanned_rows = frames[1].count()
    fp_rows = frames[3].count()
    df = spark.read.parquet(ctx.gen.table)
    evaluated = L.scan_transcripts(spark, df, sigs, cfg).evaluated
    candidates = evaluated.filter(F.col("n_reasons") > 0).count()
    text_bytes = frames[1].select(
        F.sum(F.octet_length("text")).alias("b")).collect()[0]["b"] or 0
    sink = check.read_routed(os.path.join(out, "routed"))
    hash_hits = 0
    for reasons in sink.column("all_reasons").to_pylist():
        if any(r["message"].startswith("HASH match") for r in reasons or []):
            hash_hits += 1
    counts = {
        "sources.rows": rows_in,
        "sources.bytes": _dir_bytes(ctx.gen.table),
        "filters.rows_out": scanned_rows,
        "filters.excluded": rows_in - scanned_rows,
        "hashes.bytes": int(text_bytes),
        "ioc_join.fp_dropped": scanned_rows - fp_rows,
        "ioc_join.hash_hits": hash_hits,
        "assemble.candidate_rows": candidates,
        "assemble.routed_rows": sink.num_rows,
        "route.jobs": route_jobs,
        "route.rows_written": sink.num_rows,
        "route.bytes_written": _dir_bytes(os.path.join(out, "routed")),
    }
    ctx.usage()
    return Ladder(wall, tiny_wall, marginal, untraced, traced,
                  tiny_pass_cpu, counts, frames[3])


def kernels(ctx: Ctx, fp_frame) -> dict:
    """match_record_batch and match_scores_record_batch in this process,
    single-threaded, over the Arrow batches the UDF receives: the rows
    after the FP anti-join, split per Spark partition into batches of
    `spark.sql.execution.arrow.maxRecordsPerBatch` rows."""
    from pyspark.sql import functions as F

    spark, sigs = ctx.spark, ctx.sigs
    table = fp_frame.select(
        F.spark_partition_id().alias("_pid"), "text", "tool",
        L.ext_bits_col(sigs).alias("ext_bits"),
    ).toArrow()
    size = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    pids = table.column("_pid").to_numpy()
    cut = np.nonzero(np.diff(pids))[0] + 1
    bounds = [0, *cut.tolist(), table.num_rows]
    batches = []
    data = table.drop_columns(["_pid"])
    for lo, hi in zip(bounds, bounds[1:]):
        for s in range(lo, hi, size):
            batches.extend(
                data.slice(s, min(size, hi - s)).combine_chunks().to_batches())
    engine = L.CompiledEngine(sigs)
    rows = sum(b.num_rows for b in batches)
    distinct = sum(pc.count_distinct(b.column("text")).as_py()
                   for b in batches)
    bytes_in = sum(b.nbytes for b in batches)

    bytes_out = 0
    hit_rows = 0
    with ctx.tracer.span("kernel.match_record_batch"):
        cpu0 = time.process_time()
        outs = [L.match_record_batch(engine, b) for b in batches]
        kernel_cpu = time.process_time() - cpu0
    for fname, yara, c2 in outs:
        bytes_out += fname.nbytes + yara.nbytes + c2.nbytes
        hit = ((pc.list_value_length(fname).to_numpy(zero_copy_only=False) > 0)
               | (pc.list_value_length(yara).to_numpy(zero_copy_only=False) > 0)
               | (pc.list_value_length(c2).to_numpy(zero_copy_only=False) > 0))
        hit_rows += int(hit.sum())
    with ctx.tracer.span("kernel.match_scores_record_batch"):
        cpu0 = time.process_time()
        for b in batches:
            L.match_scores_record_batch(engine, b)
        score_cpu = time.process_time() - cpu0
    return {
        "matcher.kernel_cpu_s": kernel_cpu,
        "matcher.score_kernel_cpu_s": score_cpu,
        "matcher.distinct_ratio": distinct / rows if rows else 0.0,
        "matcher.hit_rows": hit_rows,
        "matcher.bytes_to_python": bytes_in,
        "matcher.bytes_from_python": bytes_out,
    }


def resume_layer(ctx: Ctx, gen: Generated, checker: ScanChecker) -> dict:
    """`run_resumable_scan` stopped after half the buckets, then resumed;
    the resumed sinks must equal the expected routed rows."""
    spark, sigs, cfg = ctx.spark, ctx.sigs, ctx.cfg
    out = os.path.join(ctx.work, "resume")
    shutil.rmtree(out, ignore_errors=True)
    df = spark.read.parquet(gen.table)
    half = set(range(RESUME_BUCKETS // 2))
    with ctx.tracer.span("plans.resume.first"), job_count(spark, "r1") as j1:
        t0 = time.perf_counter()
        first = L.run_resumable_scan(spark, df, sigs, out, cfg,
                                     n_buckets=RESUME_BUCKETS,
                                     only_buckets=half)
        t_first = time.perf_counter() - t0
    with ctx.tracer.span("plans.resume.lineage"):
        t0 = time.perf_counter()
        L.completed_buckets(spark, out)
        t_lineage = time.perf_counter() - t0
    with ctx.tracer.span("plans.resume.second"), job_count(spark, "r2") as j2:
        t0 = time.perf_counter()
        second = L.run_resumable_scan(spark, df, sigs, out, cfg,
                                      n_buckets=RESUME_BUCKETS)
        t_second = time.perf_counter() - t0
    lineage = check.read_routed(os.path.join(out, "lineage"))
    part_ids = lineage.column("part_id").to_pylist()
    rescanned = len(first & second) + len(part_ids) - len(set(part_ids))
    problems = checker(os.path.join(out, "routed"))
    if set(part_ids) != set(range(RESUME_BUCKETS)):
        problems.append(f"lineage covers {sorted(set(part_ids))}")
    if rescanned:
        problems.append(f"{rescanned} buckets scanned twice")
    ctx.record("resumable scan", problems)
    return {
        "resume.first_s": t_first,
        "resume.second_s": t_second,
        "resume.jobs": j1[0] + j2[0],
        "resume.lineage_s": t_lineage,
        "resume.buckets_rescanned": rescanned,
    }


def aggregates_layer(ctx: Ctx, gen: Generated, checker: ScanChecker) -> dict:
    """`severity_counts` over the score-only routed frame, collected, and
    `per_conv_rollup_salted` over the score-only evaluated frame. `gen`
    must be a table the checker covers in full (not sampled)."""
    from pyspark.sql import functions as F

    spark, sigs, cfg = ctx.spark, ctx.sigs, ctx.cfg
    df = spark.read.parquet(gen.table)
    scores = L.scan_transcripts_scores(spark, df, sigs, cfg)
    with ctx.tracer.span("operators.route.severity_counts"):
        t0 = time.perf_counter()
        counts = L.severity_counts(scores.routed).collect()
        t_counts = time.perf_counter() - t0
    ctx.record("severity_counts",
               check.compare_counts(counts, checker.expected.levels))
    with ctx.tracer.span("plans.skew.per_conv_rollup_salted"):
        t0 = time.perf_counter()
        rollup = L.per_conv_rollup_salted(scores.evaluated,
                                          SALT_BUCKETS).collect()
        t_rollup = time.perf_counter() - t0
    ctx.record("per_conv_rollup_salted", check.compare_rollup(
        rollup, check.expected_rollup(checker.ref, checker.turns)))
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sizes = [
        r["count"]
        for r in L.with_salt(scores.evaluated.select("conv_id", "turn_idx"),
                             SALT_BUCKETS)
        .repartition(nparts, "conv_id", "salt")
        .groupBy(F.spark_partition_id().alias("p")).count().collect()
    ]
    return {
        "route.severity_counts_s": t_counts,
        "skew.rollup_s": t_rollup,
        "skew.partition_max_over_median": (
            max(sizes) / statistics.median(sizes) if sizes else 0.0),
    }


def dedup_layer(ctx: Ctx, sf_dir: str) -> dict:
    """One materialised pass of each near-duplicate query over the
    generated sf dir, each checked against its DuckDB oracle SQL."""
    spark = ctx.spark
    oracle = L.oracle_queries()
    out = {}
    for op in DEDUP_OPS:
        with ctx.tracer.span(f"queries.{op}"), job_count(spark, op) as jobs:
            t0 = time.perf_counter()
            df = L.QUERIES[op](spark, sf_dir)
            rows = df.collect()
            elapsed = time.perf_counter() - t0
        actual = check.normalized_rows(df.columns, rows)
        ctx.record(op, check.compare_rows(
            actual, check.oracle_rows(oracle[op], sf_dir), op))
        out[f"dedup.{op}.s"] = elapsed
        out[f"dedup.{op}.rows_out"] = len(rows)
        out[f"dedup.{op}.jobs"] = jobs[0]
    return out
