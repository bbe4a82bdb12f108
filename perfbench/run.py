"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. It generates the
workload's inputs from ``--seed`` (cached per seed and size under
``.perfbench_cache/``), runs the workload against the program's public
entry points for ``--seconds`` of measured passes, checks every output,
and prints one JSON object as the last line of standard output. With
``--trace 1`` it also writes the spans and Spark counters of the run to
``.perfbench_traces/`` and reports per-layer metrics instead of the
end-to-end ones. Every file it writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def prepare_env(root: str) -> str:
    """Point every temporary file (Python's, the JVMs', Spark's) into a
    per-process directory under the checkout, before anything starts."""
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["JAVA_TOOL_OPTIONS"] = jvm_opts
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    sys.path.insert(0, root)
    return work


# Sizes of the generated inputs, fixed per workload so every seed does
# the same amount of work. The EV table is the only input whose size
# scales; the star's size is set by the suburb count.
ETL_SIZE = {"n_ev": 1_000_000, "n_suburbs": 2000, "n_stations": 50}
END_TO_END = {"setup_s": "s", "pass_s": "s"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def inputs(root: str, seed: int) -> tuple[str, dict]:
    """Generated raw CSVs and truth for ``seed``, built once per seed."""
    import gen_etl

    tag = "etl-{}-{n_ev}-{n_suburbs}-{n_stations}".format(seed, **ETL_SIZE)
    path = os.path.join(root, ".perfbench_cache", tag)
    truth_path = os.path.join(path, "truth.json")
    if not os.path.exists(truth_path):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_etl.generate(tmp, seed, workers=nproc(), **ETL_SIZE)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(truth_path) as fh:
        return path, json.load(fh)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        return next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")) / 1024.0


# Per-function spans reported by name: wall time and the listed counters
# of the first call. Both workloads' traced runs call every one of them.
# The first load is the cold one: etl_load's pass_s, and part of
# dashboard_serve's setup_s.
FUNCTION_METRICS = {
    "sources.read_ev_population": ("wall_s",),
    "sources.read_electricity": ("wall_s",),
    "sources.read_pollution": ("wall_s", "exec_run_s", "exec_cpu_s"),
    "plans.transform_ev": ("wall_s",),
    "plans.transform_electricity": ("wall_s",),
    "plans.transform_pollution": ("wall_s",),
    "plans.merge_datasets": ("wall_s",),
    "plans.build_dimensions": ("wall_s", "slot_busy_frac"),
    "plans.build_facts": ("wall_s", "slot_busy_frac"),
    "plans.guard.assert_scalable": ("wall_s",),
    "plans.run_pipeline": ("wall_s", "jobs"),
    "plans.write_star_schema": ("wall_s", "exec_run_s", "jobs", "slot_busy_frac"),
    "plans.register_star_views": ("wall_s",),
    "operators.keys.add_surrogate_key": ("wall_s", "slot_busy_frac"),
    "session.get_spark": ("wall_s",),
}
LAYER_COUNTERS = ("calls", "wall_s", "exec_run_s", "exec_cpu_s", "input_mb",
                  "shuffle_write_mb", "tasks", "jobs", "slot_busy_frac")


def per_layer(ctx, res: dict) -> dict[str, float]:
    """The traced run's metrics: layer totals, the load's functions one
    by one, the SQL request path, engine-wide counters and the tracing
    overhead."""
    from statistics import median

    from spans import LAYERS
    from workloads import repeat_frac

    tracer = ctx.tracer
    tracer.collect_counters()
    layers = tracer.layer_metrics(ctx.nproc)
    m = {f"{layer}.{c}": layers[f"{layer}.{c}"]
         for layer in LAYERS if layer != "session" for c in LAYER_COUNTERS}
    first: dict = {}
    for s in tracer.spans:
        first.setdefault(s.name, s)
    for name, counters in FUNCTION_METRICS.items():
        s = first[name]
        for c in counters:
            if c == "wall_s":
                m[f"{name}.{c}"] = s.duration
            elif c == "slot_busy_frac":
                m[f"{name}.{c}"] = s.counters["exec_run_s"] / (s.duration * ctx.nproc)
            else:
                m[f"{name}.{c}"] = s.counters[c]
    write = first["plans.write_star_schema"]
    m["plans.write_star_schema.output_mb"] = write.attrs["output_mb"]
    m["plans.write_star_schema.files"] = float(write.attrs["files"])
    reqs = [s for s in tracer.spans if s.name == "queries.sql"]
    m["queries.sql.request_ms_p50"] = 1e3 * median(s.duration for s in reqs)
    m["queries.sql.analyze_ms_p50"] = median(s.attrs["analyze_ms"] for s in reqs)
    m["queries.sql.exec_ms_p50"] = median(s.attrs["exec_ms"] for s in reqs)
    m["queries.sql.driver_ms_p50"] = 1e3 * median(
        max(0.0, s.duration - s.counters["exec_run_s"]) for s in reqs)
    m["queries.sql.repeat_frac"] = repeat_frac([s.attrs["sql"] for s in reqs])
    m["queries.sql.jobs_per_request"] = sum(s.counters["jobs"] for s in reqs) / len(reqs)
    m["queries.sql.exec_run_ms_per_request"] = (
        1e3 * sum(s.counters["exec_run_s"] for s in reqs) / len(reqs))
    for c in ("gc_s", "spill_mb", "failed_tasks"):
        m[f"engine.{c}"] = sum(s.counters[c] for s in tracer.spans)
    m["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(ctx.spark)
    m["trace.untraced_pass_s"] = res["untraced_pass_s"]
    m["trace.traced_pass_s"] = res["traced_pass_s"]
    m["trace.overhead_s"] = res["traced_pass_s"] - res["untraced_pass_s"]
    return m


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if "_ms" in last:
        return "ms"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_frac"):
        return "frac"
    return "count"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def report_line(name: str, res: dict, attempted: int, failed: int) -> str:
    parts = [f"workload={name}", f"setup_s={res['setup_s']:.4f} s",
             f"pass_s={res['pass_s']:.4f} s (n={len(res['passes'])}: "
             + ",".join(f"{p:.2f}" for p in res["passes"]) + ")"]
    if "requests" in res:
        tail = res["request_ms_p95"]
        parts += [f"request_ms_p50={res['request_ms_p50']:.2f} ms",
                  (f"request_ms_p{tail['pct']}={tail['ms']:.2f} ms" if tail
                   else "request_ms_p95=n/a ms"),
                  f"requests_per_s={res['requests_per_s']:.2f} 1/s",
                  f"repeat_frac={res['repeat_frac']:.3f}",
                  f"requests={res['requests']}", f"clients={res['clients']}"]
    parts.append(f"failed_frac={failed / attempted:.4f} ({failed}/{attempted})")
    return "report: " + "  ".join(parts)


def stop_engine(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    work = prepare_env(root)
    from spans import Tracer
    from workloads import WORKLOADS, Context

    inputs_dir, truth = inputs(root, args.seed)
    ctx = Context(args, Tracer(bool(args.trace)), work, inputs_dir, truth, nproc())
    try:
        res = WORKLOADS[args.workload](ctx)
        metrics_raw = per_layer(ctx, res) if args.trace else None
        if args.trace:
            traces = os.path.join(root, ".perfbench_traces")
            os.makedirs(traces, exist_ok=True)
            path = os.path.join(traces, f"{args.workload}-{args.seed}-{ctx.tracer.run_id}.json")
            ctx.tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                                   "result": res, "metrics": metrics_raw,
                                   "decomposition": ctx.decomposition})
            print(f"trace: {path}")
    finally:
        if ctx.spark is not None:
            stop_engine(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    failed = len(ctx.failures)
    for f in ctx.failures:
        print(f"FAILED {f}")
    print(report_line(args.workload, res, ctx.attempted, failed))
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics_raw.items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": ctx.attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
