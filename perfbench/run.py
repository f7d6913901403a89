#!/usr/bin/env python3
"""Benchmark command: one workload, one seed, one process.

    python3 perfbench/run.py --workload llm-stream --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its input tables (cached
under ``.bench_build/perfbench``) and permutes their rows with ``--seed``,
starts ``local[nproc]`` Spark and sets the workload up (``setup_s`` runs
from process start to here, less the input tables), runs an untimed
warm-up pass, then times passes over the workload's fixed operation set
until their summed wall time reaches ``--seconds`` (at least the
workload's ``min_passes``).
Every operation's output is checked outside its timed window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs a traced
and then an untraced pass after the warm-up pass (their ratio is the
tracing overhead), writes the spans to a JSON trace file and prints the
per-layer metrics.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SCALES = {"default": 0.1, "tiny": 0.002}
WORKLOADS = ("mr-jobs", "llm-stream")
DRIVER_MEM = "3g"  # the engine defaults to 8g; sf0.1 runs peak near 2 GB resident
RUN_DEADLINE_S = 150.0

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_geomean_s": "s",
    "small_job_p50_s": "s", "large_job_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "session.peak_rss_mb": "MB",
    "gateway.launch_s": "s", "gateway.poll_s": "s", "gateway.polls_per_job": "count",
    "mapreduce.job_s": "s", "mapreduce.large_job_s": "s",
    "mapreduce.spark_jobs_per_job": "count", "mapreduce.stages_per_job": "count",
    "mapreduce.shuffle_records_per_job": "count", "mapreduce.apply_df_s": "s",
    "registry.map_s": "s", "registry.reduce_s": "s",
    "catalog.build_s": "s", "catalog.build_jobs": "count", "catalog.build_job_s": "s",
    "catalog.analysis_s": "s", "catalog.optimization_s": "s", "catalog.planning_s": "s",
    "catalog.exec_s": "s", "catalog.exec_jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.task_failures": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.python_wait_s": "s",
    "spark.gc_s": "s", "spark.busy_frac": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
    "streaming.build_s": "s", "streaming.startup_s": "s", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s", "streaming.commit_s": "s",
    "streaming.input_rows": "count", "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "session.self_s": "s", "gateway.self_s": "s", "mapreduce.self_s": "s",
    "registry.self_s": "s", "catalog.self_s": "s", "streaming.self_s": "s",
    "trace.overhead_frac": "ratio",
}


def make_workload(name: str, tiny: bool):
    import workloads as w

    if name == "mr-jobs":
        return w.MrJobsWorkload({"small": 20, "large": 200 if tiny else 20_000})
    return w.LlmStreamWorkload()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="default",
                    help="input size: default (sf0.1) or tiny (for the benchmark's own tests)")
    ap.add_argument("--digests", default=os.path.join(HERE, "digests.json"),
                    help="stored reference digests")
    return ap.parse_args(argv)


def _set_environment(run_dir: str, cores: int) -> None:
    """Keep every file Spark and Python write inside the run directory."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # The heap starts at its limit: G1 otherwise grows it at a different
    # pace in each run, and the timed passes pay a run-dependent share of
    # young collections.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}" pyspark-shell'
    )
    sys.path.insert(0, ROOT)


def _setup(tracer, wl, ctx, cores: int):
    from tmapreduce_spark.session import get_spark

    with tracer.span("session", "start"):
        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("session", "warmup"):
        spark.range(10_000).selectExpr("sum(id)").collect()
        spark.sparkContext.parallelize(range(cores * 4), cores).map(lambda x: x + 1).count()
    ctx.spark = spark
    wl.prepare(ctx)
    return spark


def _peak_rss_mb() -> tuple[float, float]:
    """VmHWM (MB) of this process and of every java process it started."""
    def hwm(pid) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name = stat[stat.index("(") + 1:stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(d))
            comm[int(d)] = name
    jvm, stack = 0, [os.getpid()]
    while stack:
        for c in children.get(stack.pop(), ()):
            if comm.get(c) == "java":
                jvm += hwm(c)
            stack.append(c)
    return hwm(os.getpid()) / 1024.0, jvm / 1024.0


def _source_id() -> str:
    """Git commit when run from a clone, else a hash of the package sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return "git:" + out.stdout.strip()
    except OSError:  # no git on this host
        pass
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, "tmapreduce_spark"))):
        dirnames.sort()
        for fn in sorted(f for f in files if f.endswith((".py", ".json"))):
            with open(os.path.join(dirpath, fn), "rb") as f:
                h.update(fn.encode() + f.read())
    return "src:" + h.hexdigest()[:12]


def _percentile_report(name: str, values: list[float]) -> str:
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 20:
        return f"report {name}: n={n}, no percentile above p50 has 10 samples beyond it"
    q = math.floor(100 * (1 - 10 / n))
    v = sorted(values)[min(n - 1, math.ceil(q / 100 * n) - 1)]
    return f"report {name}: p{q}={v:.4f} s (n={n})"


def end_to_end(setup, passes, walls) -> dict[str, float]:
    ops = [op for p in passes for op in p]
    per_op: dict[str, list[float]] = {}
    for op in ops:
        per_op.setdefault(op.name, []).append(op.latency_s)
    med = {n: statistics.median(v) for n, v in per_op.items()}
    by_cls = {c: [op.latency_s for op in ops if op.cls == c] for c in ("small", "large")}
    return {
        "setup_s": setup,
        "pass_s": statistics.median(walls),
        "query_geomean_s": math.exp(statistics.fmean(math.log(max(v, 1e-9)) for v in med.values())),
        "small_job_p50_s": statistics.median(by_cls["small"]),
        "large_job_p50_s": statistics.median(by_cls["large"]),
    }


def per_layer(ctx, tracer, traced_wall, untraced_wall, rss) -> dict[str, float]:
    L = ctx.layer
    m = dict.fromkeys(PER_LAYER, 0.0)

    def spans(layer, name, **attrs):
        return [s["end"] - s["start"] for s in tracer.spans
                if s["layer"] == layer and s["name"] == name
                and all(s["attrs"].get(k) == v for k, v in attrs.items())]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    m["session.start_s"] = med(spans("session", "start"))
    m["session.warmup_s"] = med(spans("session", "warmup"))
    m["session.peak_rss_mb"] = rss
    m["gateway.launch_s"] = med(spans("gateway", "launch"))
    m["gateway.poll_s"] = med(spans("gateway", "poll"))
    gw_jobs = len(spans("gateway", "job"))
    if gw_jobs:
        m["gateway.polls_per_job"] = L.get("gateway.polls", 0.0) / gw_jobs
    direct = ctx.direct
    if direct:
        m["mapreduce.job_s"] = med([dt for c, dt, _ in direct if c == "small"])
        m["mapreduce.large_job_s"] = med([dt for c, dt, _ in direct if c == "large"])
        m["mapreduce.spark_jobs_per_job"] = statistics.fmean(t["jobs"] for _, _, t in direct)
        m["mapreduce.stages_per_job"] = statistics.fmean(t["stages"] for _, _, t in direct)
        m["mapreduce.shuffle_records_per_job"] = statistics.fmean(
            t["shuffle_records"] for _, _, t in direct)
    m["registry.map_s"] = med(spans("registry", "map", cls="large"))
    m["registry.reduce_s"] = med(spans("registry", "reduce", cls="large"))
    m.update((k, v) for k, v in L.items() if k in m)
    m["spark.python_wait_s"] = max(m["spark.executor_run_s"] - m["spark.executor_cpu_s"], 0.0)
    m["spark.busy_frac"] = m["spark.executor_run_s"] / (traced_wall * ctx.cores)
    for layer, v in tracer.self_times().items():
        if f"{layer}.self_s" in m:
            m[f"{layer}.self_s"] = v
    m["trace.overhead_frac"] = traced_wall / untraced_wall - 1.0
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tmapreduce_spark", "__init__.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import datagen
    from spans import Tracer
    from workloads import Ctx

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{os.getpid()}-{args.workload}-{args.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _set_environment(run_dir, cores)
    sf = SCALES[args.scale]
    with open(args.digests) as f:
        digests = json.load(f).get(f"sf{sf:g}", {})
    load_start = os.getloadavg()
    wl = make_workload(args.workload, args.scale == "tiny")
    t_data = time.perf_counter()
    data_dir = None
    if wl.uses_tables:
        data_dir = datagen.permuted_copy(
            datagen.ensure_base(os.path.join(BUILD, "data"), sf), os.path.join(run_dir, "data"), args.seed
        )
    t_data = time.perf_counter() - t_data

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(None, data_dir, run_dir, tracer, digests, args.seed, cores)
    spark = None
    try:
        spark = _setup(tracer, wl, ctx, cores)
        # set-up: from process start until the first operation could begin,
        # less the time spent writing the run's input tables
        setup = time.perf_counter() - T_PROCESS - t_data
        tracer.enabled = False
        t = time.perf_counter()
        warm_ops = wl.warm_up(ctx)
        warm_up = time.perf_counter() - t

        passes, walls = [], []
        if args.trace:
            tracer.enabled = True
            ops, traced_wall = wl.run_pass(ctx, traced=True)
            passes.append(ops)
            tracer.enabled = False
        while True:
            ops, wall = wl.run_pass(ctx, traced=False)
            passes.append(ops)
            walls.append(wall)
            enough = sum(walls) >= args.seconds and len(walls) >= wl.min_passes
            if args.trace or enough or time.perf_counter() - T_PROCESS + wall > RUN_DEADLINE_S:
                break
        rss_driver, rss_jvm = _peak_rss_mb()
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        import pyspark

        if args.trace:
            metrics = per_layer(ctx, tracer, traced_wall, walls[0], rss_driver + rss_jvm)
            units = PER_LAYER
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            trace_path = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
        else:
            metrics = end_to_end(setup, passes, walls)
            units = END_TO_END
        wl.close()
    finally:
        t = time.perf_counter()
        if spark is not None:
            _shutdown(spark)
        teardown = time.perf_counter() - t
        shutil.rmtree(run_dir, ignore_errors=True)
    all_ops = [op for p in passes for op in p]
    failed = [op for op in warm_ops + all_ops if not op.ok]
    attempted = len(warm_ops) + len(all_ops)
    env = {
        "workload": args.workload, "seed": args.seed, "scale": f"sf{sf:g}", "cores": cores,
        "passes": len(passes), "pass_walls": [round(w, 3) for w in walls],
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()], "source": _source_id(),
        "pyspark": pyspark.__version__, "java": java,
        "inputs_s": round(t_data, 2), "warm_up_s": round(warm_up, 2),
        "teardown_s": round(teardown, 2), "run_s": round(time.perf_counter() - T_PROCESS, 2),
    }
    print("env " + json.dumps(env))
    if args.trace:
        tracer.write(trace_path, env)
        print(f"trace written to {os.path.relpath(trace_path, ROOT)} ({len(tracer.spans)} spans)")
        print(f"{'per-layer metric':36s} {'value':>16s}  unit")
    for name, value in metrics.items():
        print(f"metric {name:36s} {value:16.6g}  {units[name]}")
    if not args.trace:
        for op in all_ops:
            print(f"op {op.name:36s} {op.cls:5s} {op.latency_s:10.4f} s")
        for cls in ("small", "large"):
            print(_percentile_report(f"{cls} latency", [op.latency_s for op in all_ops if op.cls == cls]))
        print(_percentile_report("operation latency", [op.latency_s for op in all_ops]))
        print(f"report jobs_per_s: {len(all_ops) / sum(walls):.4f} 1/s")
    print(f"report peak_rss_mb: {rss_driver + rss_jvm:.1f} MB "
          f"(driver {rss_driver:.1f}, JVM {rss_jvm:.1f})")
    print(f"report failed_op_frac: {len(failed) / attempted:.4f} ({len(failed)}/{attempted})")
    for op in failed:
        print(f"failed-op {op.name}: {op.error}")
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _shutdown(spark) -> None:
    """Stop Spark, then its JVM, and wait for the JVM to exit."""
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
        except Exception:  # subprocess.TimeoutExpired: force it down
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
