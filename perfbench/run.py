#!/usr/bin/env python3
"""Benchmark of the loki-rs-spark scan pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload replay_dense --seed 1 --seconds 16 \
        --trace 0

It generates the workload's inputs from the seed (cached under
`.perfbench_cache/`), starts one `local[nproc]` Spark session, and runs a
closed loop of scan passes for `--seconds` seconds of pass time, checking
every pass's sinks against the reference scanner outside the timed
region. `--trace 1` instead runs the per-layer ladder, on the measured
table and on a tiny table of the workload (the fixed per-pass cost), and
prints per-layer metrics. A probe process (`speed.py`) measures how
fast the shared host lets the cores run meanwhile; the declared CPU and
set-up figures are given on a reference core. Report lines start with
`#`; the last line of standard output is the JSON result. Exits 2 without a result when the program is
missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORKLOADS = ("fresh_sparse", "replay_dense")
SETUP_REPS = 3
# steady passes start after the cold pass and this many warm-up passes
WARMUP_PASSES = 1
MIN_PASSES = 3
# the traced run: ladder repetitions, and the time from the start of the
# run by which the last one should end, leaving room for the resume,
# aggregate and near-duplicate layers within the 180 s a run may take
LADDER_REPS = (2, 3)  # (at least, at most)
LADDER_DEADLINE_S = 80.0


def report(line: str) -> None:
    print(f"# {line}", flush=True)


def pin_environment(cores: int) -> dict:
    """Environment for the session and its Python workers, all scratch
    space inside the checkout."""
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_mem = f"{max(1, min(24, int(mem_gb // 4)))}g"
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": driver_mem,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM (the launcher too): temp files in the checkout, and no
        # hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(CACHE, 'warehouse')}",
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    return env


def start_session(L, cores: int):
    spark = L.get_spark(app_name="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(L, cores: int, sig_dir: str, reps: int):
    """Session start, `load_signature_set` and `CompiledEngine`, `reps`
    times. Only the first start launches the JVM; the later ones reuse
    it. Returns the live session, the signatures and per-step
    durations."""
    steps: dict[str, list[float]] = {"session": [], "load": [], "compile": []}
    spark = sigs = None
    for i in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(L, cores)
        t1 = time.perf_counter()
        sigs = L.load_signature_set(sig_dir)
        t2 = time.perf_counter()
        L.CompiledEngine(sigs)
        t3 = time.perf_counter()
        steps["session"].append(t1 - t0)
        steps["load"].append(t2 - t1)
        steps["compile"].append(t3 - t2)
    return spark, sigs, steps


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort at exit
            proc.kill()
            proc.wait(timeout=10)


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    return statistics.quantiles(values, n=4)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses tiny sizes)")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    sig_dir = os.path.join(ROOT, "signatures")
    if not (os.path.isdir(os.path.join(ROOT, "loki_rs_spark"))
            and os.path.isdir(sig_dir)):
        print("perfbench: run from the root of a loki-rs-spark checkout "
              "(loki_rs_spark/ and signatures/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.speed import SpeedProbe

    # started before anything else, so that it also measures the set-up
    with SpeedProbe() as speed:
        return measure(args, speed, speed.sample(), t_start, sig_dir)


def measure(args, speed, speed_start, t_start: float, sig_dir: str) -> int:
    """One run on the checkout, with the core-speed probe running."""
    cores = len(os.sched_getaffinity(0))  # what nproc prints
    env = pin_environment(cores)

    import pyarrow
    import pyspark

    from perfbench import workloads as W
    from perfbench.gen import TINY_SCALE, generate
    from perfbench.layers import LAYER_MAP, L
    from perfbench.trace import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(CACHE, "runs", run_id)
    os.makedirs(work, exist_ok=True)
    report(f"run {run_id}: nproc={cores} pyspark={pyspark.__version__} "
           f"pyarrow={pyarrow.__version__} seed={args.seed} "
           f"driver_mem={env['SPARK_DRIVER_MEM']} scale={args.scale:g}")

    inputs = os.path.join(CACHE, "inputs")
    gen = generate(args.workload, args.seed, args.scale, inputs)
    report(f"input {json.dumps(gen.props, sort_keys=True)}")

    tracer = Tracer(run_id, enabled=False)
    spark, sigs, steps = setup(L, cores, sig_dir, SETUP_REPS)
    ctx = W.Ctx(spark, sigs, L.DEFAULT_CONFIG, gen, args.seed, work,
                cores, tracer, speed=speed)
    try:
        ctx.checker = W.ScanChecker(ctx, gen)
        report(f"reference: {ctx.checker.ref.calls} distinct turns, "
               f"expected levels {ctx.checker.expected.levels}")
        out = os.path.join(work, "sinks")
        # the cold pass starts the Python workers and warms the JIT
        cold = W.checked_pass(ctx, False, out)[0]
        layers = reported = None
        if args.trace:
            ctx.tiny = generate(args.workload, args.seed,
                                args.scale * TINY_SCALE, inputs)
            ctx.tiny_checker = W.ScanChecker(ctx, ctx.tiny)
            report(f"tiny input {json.dumps(ctx.tiny.props, sort_keys=True)}")
            metrics, layers = traced(ctx, args, steps, gen, W,
                                     t_start + LADDER_DEADLINE_S)
            report(f"core slowdown over the run "
                   f"{speed.slowdown(speed_start, speed.sample())} "
                   f"(per-layer figures are as measured on this box)")
        else:
            warm = [W.checked_pass(ctx, False, out)[0]
                    for _ in range(WARMUP_PASSES)]
            steady = W.closed_loop(ctx, args.seconds, MIN_PASSES)
            slowdown = speed.slowdown(speed_start, speed.sample())
            metrics, reported = untraced_metrics(steps, [cold, *warm],
                                                 steady, gen, slowdown)
            # the Python workers' peak is declared; the JVM's depends on
            # when G1 grows the heap and spreads more than the bound
            parts = {k: v / 1024 for k, v in ctx.peak_rss_parts.items()}
            metrics["worker_peak_rss_mb"] = (parts["python"], "MB")
            reported["peak_rss_mb"] = ctx.peak_rss_kb / 1024
            reported["jvm_peak_rss_mb"] = parts["jvm"]
            report(f"peak rss {ctx.peak_rss_kb / 1024:.1f} MB: "
                   + ", ".join(f"{n} {mb:.1f}" for n, mb
                               in sorted(parts.items())))
    finally:
        stop_session(spark)
    if args.trace:
        tracer.write(os.path.join(work, "spans.jsonl"))
        report(f"spans written to {os.path.relpath(work, ROOT)}/spans.jsonl")
        for layer, moves in LAYER_MAP.items():
            report(f"layer {layer}: should move {moves}")

    for p in ctx.problems[:20]:
        report(f"CHECK FAILED {p}")
    error_rate = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    report(f"error_rate {error_rate:.6f} ratio "
           f"({ctx.failed} of {ctx.attempted} operations)")
    result = {
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"workload": args.workload, "trace": args.trace,
                   "seed": args.seed, "scale": args.scale,
                   "env": {"nproc": cores, "pyspark": pyspark.__version__,
                           "pyarrow": pyarrow.__version__,
                           "python": sys.version.split()[0],
                           "driver_mem": env["SPARK_DRIVER_MEM"]},
                   "input": gen.props,
                   "tiny_input": ctx.tiny.props if ctx.tiny else None,
                   "reported": reported, "layers": layers, **result},
                  f, indent=1)
    print(json.dumps(result), flush=True)
    return 0


def untraced_metrics(steps, first, steady, gen, slowdown):
    """(end-to-end metrics, reported-only figures) from the steady
    passes. Set-up is the first (JVM-launching) session start, the median
    signature load and compile, and how much longer the cold and warm-up
    passes (`first`) took than the steady median. Both are given on a
    reference core (`speed.py`): each pass's CPU divided by the probe's
    slowdown over that pass, and set-up by its slowdown over the whole
    run (`slowdown`), which also stands in for a pass the probe could not
    measure."""
    times = [t for t, _, _ in steady]
    cpus = [c for _, c, _ in steady]
    slows = [s or slowdown for _, _, s in steady]
    ref_cpus = [c / s for c, s in zip(cpus, slows)]
    med = statistics.median(times)
    q1, _, q3 = quartiles(times)
    rows = gen.props["rows"]
    setup_core = steps["session"][0] + statistics.median(
        a + b for a, b in zip(steps["load"], steps["compile"]))
    excess = sum(t - med for t in first)
    report(f"passes {len(steady)}: median {med:.4f} s, q1 {q1:.4f}, "
           f"q3 {q3:.4f}; cold and warm-up "
           f"{' '.join(f'{t:.3f}' for t in first)} s")
    report(f"setup: first start {steps['session'][0]:.4f} s (JVM launch), "
           f"later starts {' '.join(f'{t:.4f}' for t in steps['session'][1:])}"
           f" s, signatures {setup_core - steps['session'][0]:.4f} s, "
           f"warm-up excess {excess:.4f} s")
    report(f"pass times {' '.join(f'{t:.3f}' for t in times)}")
    report(f"pass cpu s {' '.join(f'{t:.3f}' for t in cpus)}")
    report(f"pass slowdown {' '.join(f'{s:.3f}' for s in slows)}; "
           f"whole run {slowdown:.3f}")
    report(f"pass reference cpu s {' '.join(f'{t:.3f}' for t in ref_cpus)}")
    # wall-clock throughput is reported but not declared: on a VM with
    # heavy CPU steal its run-to-run spread exceeds any allowed bound
    report(f"turns_per_s {rows / med:.2f} turns/s (wall clock, median pass)")
    report(f"cpu_us_per_turn {statistics.median(cpus) / rows * 1e6:.2f} "
           f"us, setup_s {setup_core + excess:.4f} s (this box, as measured)")
    return {
        "cpu_us_per_turn": (statistics.median(ref_cpus) / rows * 1e6, "us"),
        "setup_s": ((setup_core + excess) / slowdown, "s"),
    }, {"turns_per_s": rows / med,
        "measured_cpu_us_per_turn": statistics.median(cpus) / rows * 1e6,
        "measured_setup_s": setup_core + excess,
        "slowdown": slowdown, "pass_slowdowns": slows}


def spread_line(name: str, values: list[float], unit: str) -> str:
    """Median and quartiles over the ladder's repetitions; a layer whose
    median lies within its quartile spread is marked unresolved."""
    q1, med, q3 = quartiles(values)
    flag = "" if resolved(values) else "  UNRESOLVED"
    return (f"{name:28s} median {med:9.4f} {unit} "
            f"q1 {q1:9.4f} q3 {q3:9.4f}{flag}")


def resolved(values: list[float]) -> bool:
    q1, med, q3 = quartiles(values)
    return q1 > 0 and med > q3 - q1


def traced(ctx, args, steps, gen, W, deadline):
    """(per-layer metrics, per-layer repetitions): the prefix ladder
    (self times per repetition on the measured table, on the tiny table,
    and marginal CPU per turn), tracing overhead, kernels, resume,
    aggregates and the near-duplicate queries."""
    from perfbench.gen import generate

    ctx.tracer.enabled = True
    lad = W.ladder(ctx, deadline, *LADDER_REPS)
    u_med = statistics.median(lad.untraced)
    t_med = statistics.median(lad.traced)
    kern = W.kernels(ctx, lad.fp_frame)
    inputs = os.path.join(CACHE, "inputs")
    rr = generate("resume_rollup", args.seed, args.scale, inputs)
    rr_checker = W.ScanChecker(ctx, rr)
    resume = W.resume_layer(ctx, rr, rr_checker)
    aggs = W.aggregates_layer(ctx, rr, rr_checker)
    nd = generate("neardup", args.seed, args.scale, inputs)
    dedup = W.dedup_layer(ctx, nd.sf_dir)

    # the in-process kernels have almost no fixed cost: their CPU per turn
    # is their marginal cost, and the matcher layer's marginal CPU beyond
    # it is the Arrow bridge's
    kernel_us = kern["matcher.kernel_cpu_s"] / gen.props["rows"] * 1e6
    marginal = dict(lad.marginal_us)
    marginal["bridge"] = [m - kernel_us
                          for m in marginal["operators.arrow_matcher"]]
    wall = dict(lad.wall)
    wall["bridge"] = [w - kern["matcher.kernel_cpu_s"] / ctx.cores
                      for w in wall["operators.arrow_matcher"]]
    report(f"ladder: {len(lad.traced)} repetitions; per layer, self time "
           f"on the measured table ({gen.props['rows']} turns), on the tiny "
           f"table ({ctx.tiny.props['rows']} turns), and marginal cpu")
    for name in [*W.LADDER, "bridge"]:
        report("wall   " + spread_line(name, wall[name], "s"))
        if name in lad.tiny_wall:
            report("tiny   " + spread_line(name, lad.tiny_wall[name], "s"))
        report("margin " + spread_line(name, marginal[name], "us/turn"))
    report(f"kernel match_record_batch {kernel_us:.2f} us/turn in-process")
    # the ranking splits the matcher layer into its kernels and the bridge
    kernels = {"self time": kern["matcher.kernel_cpu_s"] / ctx.cores,
               "marginal cpu": kernel_us}
    ranking = {}
    for what, series in (("self time", wall), ("marginal cpu", marginal)):
        med = {n: statistics.median(v) for n, v in series.items()}
        med["operators.arrow_matcher"] = kernels[what]
        top = sorted(med, key=lambda k: -med[k])[:2]
        ranking[what] = top
        report(f"top two layers by {what}: "
               + ", ".join(f"{n} ({med[n] / sum(med.values()):.0%} of the "
                           f"layer sum)" for n in top))
    report(f"tracing overhead {t_med - u_med:+.4f} s per pass (traced "
           f"{t_med:.4f} s, untraced {u_med:.4f} s); the ladder's layers "
           f"sum to its last prefix by construction")
    for name, t in sorted(ctx.tracer.self_times().items()):
        report(f"span self time {name:40s} {t:8.4f} s")
    report(f"resume/skew input {json.dumps(rr.props, sort_keys=True)}")
    report(f"near-dup input {json.dumps(nd.props, sort_keys=True)}")

    def med(series, name):
        return statistics.median(series[name])

    m = {
        "session.jvm_start_s": (steps["session"][0], "s"),
        "session.start_s": (statistics.median(steps["session"][1:]
                                              or steps["session"]), "s"),
        "signatures.load_s": (statistics.median(steps["load"]), "s"),
        "signatures.compile_s": (statistics.median(steps["compile"]), "s"),
        "trace.pass_untraced_s": (u_med, "s"),
        "trace.pass_traced_s": (t_med, "s"),
        "trace.overhead_s": (t_med - u_med, "s"),
        "fixed.pass_s": (statistics.median(
            [sum(v) for v in zip(*lad.tiny_wall.values())]), "s"),
        "fixed.pass_cpu_s": (statistics.median(lad.tiny_pass_cpu), "s"),
        "pass.marginal_us_per_turn": (statistics.median(
            [sum(v) for v in zip(*lad.marginal_us.values())]), "us"),
    }
    for layer, metric in LAYER_METRICS.items():
        m[f"{metric}"] = (med(wall, layer), "s")
        m[f"{metric.split('.')[0]}.marginal_us_per_turn"] = (
            med(marginal, layer), "us")
    # per layer: the quartiles over the ladder's repetitions, and whether
    # each median lies outside its spread
    layers = {
        layer: {"wall_s": wall[layer],
                "wall_quartiles": quartiles(wall[layer]),
                "wall_resolved": resolved(wall[layer]),
                "tiny_wall_s": lad.tiny_wall.get(layer),
                "marginal_us": marginal[layer],
                "marginal_quartiles": quartiles(marginal[layer]),
                "marginal_resolved": resolved(marginal[layer])}
        for layer in LAYER_METRICS
    }
    layers["top_two"] = ranking
    for k, v in {**lad.counts, **kern, **resume, **aggs, **dedup}.items():
        m[k] = (v, unit_of(k))
    return m, layers


# the ladder's layers and the per-layer metric of each one's self time
LAYER_METRICS = {
    "sources": "sources.read_s",
    "operators.filters": "filters.s",
    "operators.hashes": "hashes.s",
    "operators.ioc_join": "ioc_join.fp_s",
    "operators.arrow_matcher": "matcher.s",
    "bridge": "bridge.overhead_s",
    "plans.pipeline": "assemble.s",
    "operators.route": "route.sink_s",
}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its naming convention."""
    if name.endswith("_us_per_turn"):
        return "us"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("ratio", "over_median")):
        return "ratio"
    return "bytes" if "bytes" in name else "count"


if __name__ == "__main__":
    sys.exit(main())
