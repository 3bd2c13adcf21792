"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_csv --seed 1 --seconds 10 --trace 0

Closed loop: one driver process, one caller, each call waits for the
last. Inputs are generated from the seed in a separate process, then a
fresh Spark session (``local[nproc]``) runs one cold pass, one warm-up
pass and measured passes until ``--seconds`` have passed, and results
are checked against the workload's reference. With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics of the traced warm passes. Either way a
detail file with every pass, span and per-query record is written under
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.trace import Tracer, exec_totals, read_stages, self_time  # noqa: E402
from perfbench.workloads import WORKLOADS, Ops  # noqa: E402

# Warm passes that run before the measured window: on a 4-core host the
# first warm pass was about 60% slower than the later ones, on both
# workloads, while the JVM and the Python workers warm up.
WARMUP_PASSES = 1
# A shared host has slow spells of 10-30 s, which a median over several
# measured passes rides over. Four keep one run of the catalog workload
# near 70 s on a slow 4-core host.
MIN_WARM_PASSES = 4
# setup_s is everything before the warm passes: the session start and the
# cold first pass, whose JIT, codegen and worker spawn users pay once per
# process. Its parts are printed and kept in the detail file.
END_TO_END = ("setup_s", "wall_s")
# --trace 1 interleaves untraced and traced warm passes to measure the
# tracing overhead; it needs this many of each.
MIN_TRACED_PASSES = 2

# The per-layer metric prefix each traced layer adds to; "plans" spans
# add to plans.build or plans.action by their name.
_PHASE_PREFIX = {
    "sources": "sources.build",
    "pipeline": "pipeline.build",
    "sinks": "sinks.save",
    "rejections": "rejections.go",
    "streaming": "streaming.run",
}


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(work: str) -> None:
    """Environment inherited by the JVM and its Python workers: the repo on
    the workers' import path (without it every worker fails to unpickle
    ``gratum_spark`` when the run starts outside the repo root), local
    parallelism equal to the usable cores, and every scratch file inside
    the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: HotSpot would otherwise write its counters file
    # under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_spark():
    """Import the engine and start its session; returns it and the time
    get_spark() took."""
    from gratum_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    took = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, took


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """VmHWM of this process plus the JVM it launched."""
    from pyspark import SparkContext

    pids = ["self"]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(str(proc.pid))
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def conditions(spark, load_before: tuple) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": len(os.sched_getaffinity(0)),
        "load1_before": load_before[0],
    }


def run_pass(wl, spark, tracer: Tracer, ops: Ops) -> float:
    """One timed pass. The result check, and for a traced pass the
    reading of its stages, run after the clock stops."""
    tracer.pass_id += 1
    t0 = time.perf_counter()
    with tracer.span("pass") as ps:
        result = wl.run_pass(spark, tracer, ops)
    wall = time.perf_counter() - t0
    if ps is not None:
        tracer.stage_metrics.update(read_stages(spark, *ps.stages))
    wl.verify(result, ops)
    return wall


def pass_layers(tracer: Tracer, pass_span, wl) -> dict:
    """Per-layer figures of one traced pass, summed over its spans, with
    one record per query or pipeline and each layer's self time."""
    stages = tracer.stage_metrics
    in_pass = [s for s in tracer.spans if s.pass_id == pass_span.pass_id]
    m: dict[str, float] = {}
    for s in in_pass:
        if s.layer is None:
            continue
        prefix = f"plans.{s.name}" if s.layer == "plans" else _PHASE_PREFIX[s.layer]
        m[f"{prefix}_s"] = m.get(f"{prefix}_s", 0.0) + s.duration
        m[f"{prefix}_jobs"] = m.get(f"{prefix}_jobs", 0) + s.jobs[1] - s.jobs[0]
        if "bytes_written" in s.counts:
            m["sinks.bytes_written"] = m.get("sinks.bytes_written", 0) + s.counts["bytes_written"]
    pass_stages = [stages[i] for i in range(*pass_span.stages) if i in stages]
    m.update({f"exec.{k}": v for k, v in exec_totals(pass_stages).items()})
    m["pipeline.python_s"] = sum(max(0.0, s["task_run_s"] - s["jvm_cpu_s"]) for s in pass_stages)
    m["sources.read_amplification"] = m["exec.input_bytes"] / wl.input_bytes

    records = []
    for q in tracer.children(pass_span):
        rec = {"name": q.name, "wall_s": q.duration, "phases": []}
        for ph in tracer.children(q):
            rec["phases"].append({
                "name": ph.name, "layer": ph.layer, "s": ph.duration,
                "jobs": ph.jobs[1] - ph.jobs[0],
                "exec": exec_totals([stages[i] for i in range(*ph.stages) if i in stages]),
            })
        records.append(rec)
    self_s: dict[str, float] = {}
    for s in in_pass:
        layer = s.layer or ("pass" if s.parent is None else "driver")
        self_s[layer] = self_s.get(layer, 0.0) + self_time(s, tracer.children(s))
    phase_s = sum(s.duration for s in in_pass if s.layer is not None)
    return {"metrics": m, "records": records, "self_s": self_s,
            "phase_coverage": phase_s / pass_span.duration}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    inputs = os.path.join(work, "input")
    load_before = os.getloadavg()
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, "-c", f"from perfbench.workloads import prepare; "
                               f"prepare({wl.name!r}, {args.seed}, {inputs!r})"],
        cwd=ROOT, timeout=120, check=True,
    )
    gen_s = time.perf_counter() - t0
    configure_env(work)
    wl.load(inputs, work)

    spark, get_spark_s = start_spark()
    session_s = process_age_s() - gen_s
    ops = Ops()
    try:
        cond = conditions(spark, load_before)
        traced = Tracer(spark) if args.trace else None
        untraced = Tracer()
        first_s = run_pass(wl, spark, traced or untraced, ops)
        setup_s = session_s + first_s
        warmup = [run_pass(wl, spark, untraced, ops) for _ in range(WARMUP_PASSES)]
        walls: dict[str, list[float]] = {"untraced": [], "traced": []}
        t_warm = time.perf_counter()

        def enough() -> bool:
            if time.perf_counter() - t_warm < args.seconds:
                return False
            if traced:
                return min(map(len, walls.values())) >= MIN_TRACED_PASSES
            return len(walls["untraced"]) >= MIN_WARM_PASSES

        while not enough():
            # untraced, traced, traced, untraced, ...: both kinds sit at the
            # same mean position on the warm-up curve
            i = len(walls["untraced"]) + len(walls["traced"])
            use = traced if traced and i % 4 in (1, 2) else untraced
            walls["traced" if use is traced else "untraced"].append(run_pass(wl, spark, use, ops))
        wl.reference(spark, ops)
        rss = peak_rss_mb()
        cond["load1_after"] = os.getloadavg()[0]
        passes = [
            {"pass": ps.pass_id, "wall_s": ps.duration, **pass_layers(traced, ps, wl)}
            for ps in (traced.spans if traced else []) if ps.parent is None
        ]
    finally:
        stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)

    wall_s = statistics.median(walls["untraced"])
    if traced:
        metrics = {k: statistics.median(p["metrics"].get(k, 0) for p in passes[1:])
                   for k in wanted if k != "session.get_spark_s"}
        metrics["session.get_spark_s"] = get_spark_s
        overhead = statistics.median(walls["traced"]) - wall_s
        self_s = {k: statistics.median(p["self_s"].get(k, 0.0) for p in passes[1:])
                  for k in passes[0]["self_s"]}
    else:
        metrics = dict(zip(END_TO_END, (setup_s, wall_s)))
        overhead = self_s = None
    correct = ops.checked > 0 and ops.mismatched == 0 and ops.failed == 0
    detail_path = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(detail_path, "w") as f:
        json.dump({
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "conditions": cond, "gen_s": gen_s,
            "setup_s": setup_s, "session_s": session_s, "get_spark_s": get_spark_s,
            "first_pass_s": first_s, "warmup_walls_s": warmup, "warm_walls_s": walls,
            "peak_rss_mb": rss,
            "tracing_overhead_s": overhead, "self_s": self_s, "passes": passes,
            "spans": [vars(s) for s in traced.spans] if traced else [],
            "attempted": ops.attempted, "failed": ops.failed, "errors": ops.errors,
            "checked": ops.checked, "mismatched": ops.mismatched, "problems": ops.problems,
            "metrics": metrics,
        }, f, indent=1)

    for p in ops.problems:
        print(f"MISMATCH {p}")
    for e in ops.errors:
        print(f"ERROR {e}")
    print(f"conditions: {json.dumps(cond)}")
    print(f"session_s: {session_s} s; first_pass_s: {first_s} s; "
          f"warm passes: {len(walls['untraced'])} untraced, {len(walls['traced'])} traced")
    print(f"error_rate: {ops.failed / max(1, ops.attempted)} ratio; "
          f"mismatch_rate: {ops.mismatched / max(1, ops.checked)} ratio; "
          f"peak_rss_mb: {rss} MB; detail: {detail_path}")
    if traced:
        print(f"self_s: {json.dumps(self_s)}")
        print(f"tracing_overhead_s: {overhead:.4f}; phase_coverage: "
              f"{[round(p['phase_coverage'], 3) for p in passes]}")
    print(json.dumps({
        "correct": correct,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
