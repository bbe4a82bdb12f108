"""The benchmark's workloads: ``etl_load`` and ``dashboard_serve``.

Each workload function takes the run context and returns its result
dict (timings, attempted/failed operations, failures by name). Spans
wrap every call into a program layer; with tracing off they are bare
timers.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import threading
import time

import checks
from dashboard import RequestMix, duckdb_views


class Context:
    def __init__(self, args, tracer, work_dir: str, inputs_dir: str, truth: dict, nproc: int):
        self.args, self.tracer, self.work_dir = args, tracer, work_dir
        self.inputs_dir, self.truth, self.nproc = inputs_dir, truth, nproc
        self.spark = None
        self.failures: list[str] = []
        self.attempted = 0
        self.decomposition: dict | None = None  # filled by decompose_load
        self._out_n = 0

    def fresh_dir(self) -> str:
        """A new output directory for one load."""
        self._out_n += 1
        path = os.path.join(self.work_dir, f"star{self._out_n}")
        shutil.rmtree(path, ignore_errors=True)
        return path


def start_session(ctx: Context) -> None:
    from ecowatt_etl_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(ctx.work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(ctx.work_dir, "warehouse")}
    if ctx.tracer.enabled:  # keep every job and stage for the end-of-run counter read
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000"})
    with ctx.tracer.span("session.get_spark"):
        ctx.spark = get_spark(app_name="perfbench", extra_conf=conf)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer.attach(ctx.spark)


def load_pass(ctx: Context, out_dir: str):
    """One ETL load through the program's public entry points."""
    from ecowatt_etl_spark.plans.ecowatt_pipeline import run_pipeline, write_star_schema

    t = ctx.tracer
    with t.span("plans.run_pipeline"):
        star = run_pipeline(ctx.spark, ctx.inputs_dir)
    with t.span("plans.write_star_schema") as s:
        write_star_schema(star, out_dir)
    s.attrs.update(_dir_stats(out_dir))


def _dir_stats(path: str) -> dict:
    n, size = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return {"files": n, "output_mb": size / 1048576.0}


def check_load(ctx: Context, out_dir: str, name: str) -> None:
    ctx.attempted += 1
    try:
        errs = checks.check_star(checks.read_star(out_dir), ctx.truth)
    except Exception as e:  # unreadable output counts as a failed load
        errs = [f"{type(e).__name__}: {e}"]
    if errs:
        ctx.failures.append(f"{name}: {errs[0]}")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def decompose_load(ctx: Context) -> None:
    """Call each sources/plans/operators function of the load alone and
    force its result with a ``noop`` sink. The spans are cumulative (a
    transform's includes its scan), so the trace file reports each step's
    increment over its inputs."""
    from ecowatt_etl_spark.operators.keys import add_surrogate_key
    from ecowatt_etl_spark.plans import ecowatt_pipeline as P
    from ecowatt_etl_spark.plans.guard import assert_scalable
    from ecowatt_etl_spark.sources import csv_sources as S

    t, spark, d = ctx.tracer, ctx.spark, ctx.inputs_dir
    paths = {"ev": f"{d}/Ev_Population.csv", "el": f"{d}/Electricity_Consumption.csv",
             "po": f"{d}/Pollution_Index.csv"}

    def forced(name, build):
        with t.span(name) as s:
            df = build()
            _noop(df)
        return s.duration

    read = {
        "ev": lambda: S.read_ev_population(spark, paths["ev"]),
        "el": lambda: S.read_electricity(spark, paths["el"]),
        "po": lambda: S.read_pollution(spark, paths["po"]),
    }
    scan_s = {
        "ev": forced("sources.read_ev_population", read["ev"]),
        "el": forced("sources.read_electricity", read["el"]),
        "po": forced("sources.read_pollution", read["po"]),
    }
    inc = {}
    for key, fn in (("ev", P.transform_ev), ("el", P.transform_electricity),
                    ("po", P.transform_pollution)):
        name = f"plans.{fn.__name__}"
        inc[name] = forced(name, lambda: fn(read[key]())) - scan_s[key]

    def merged():
        return P.merge_datasets(P.transform_ev(read["ev"]()),
                                P.transform_electricity(read["el"]()),
                                P.transform_pollution(read["po"]()))

    merge_s = forced("plans.merge_datasets", merged)
    inc["plans.merge_datasets"] = merge_s - sum(scan_s.values()) - sum(inc.values())
    with t.span("plans.build_dimensions") as s:
        dims = P.build_dimensions(spark, merged(), read["ev"]())
        for df in dims:
            _noop(df)
    inc["plans.build_dimensions"] = s.duration - merge_s - scan_s["ev"]
    with t.span("plans.build_facts") as s:
        facts = P.build_facts(merged(), dims[1])
        for df in facts:
            _noop(df)
    keyed = forced("operators.keys.add_surrogate_key",
                   lambda: add_surrogate_key(merged().select("SUBURB"), "id", ["SUBURB"]))
    inc["operators.keys.add_surrogate_key"] = keyed - merge_s
    with t.span("plans.guard.assert_scalable"):
        for df in (*dims, *facts):
            assert_scalable(df)
    ctx.decomposition = {"scan_s": {f"sources.read_{k}": v for k, v in
                                    zip(("ev_population", "electricity", "pollution"),
                                        scan_s.values())},
                         "increment_s": inc}


def serve_setup(ctx: Context, out_dir: str):
    """Read the loaded star back and register it for SQL serving."""
    from ecowatt_etl_spark.plans.ecowatt_pipeline import StarSchema, register_star_views

    spark, t = ctx.spark, ctx.tracer
    with t.span("bench.read_star"):
        tables = {n: spark.read.parquet(os.path.join(out_dir, n)) for n in checks.STAR_TABLES}
    with t.span("plans.register_star_views"):
        register_star_views(StarSchema(**tables))


def request(ctx: Context, name: str, sql: str, parent=None, record=None) -> None:
    t, spark = ctx.tracer, ctx.spark
    with t.span("queries.sql", parent=parent, template=name, sql=sql) as s:
        a = time.perf_counter()
        df = spark.sql(sql)
        b = time.perf_counter()
        rows = df.collect()
        c = time.perf_counter()
    s.attrs.update(analyze_ms=(b - a) * 1e3, exec_ms=(c - b) * 1e3)
    if record is not None:
        record.append((name, sql, s.duration, rows, df.columns))


def run_burst(ctx: Context, burst: list[tuple[str, str]], clients: int, results: list,
              errors: list) -> float:
    """Closed loop: ``clients`` threads each take the next request when
    the previous one returns. Returns the burst's wall time."""
    t = ctx.tracer
    lock = threading.Lock()
    queue = list(reversed(burst))

    def client(parent):
        while True:
            with lock:
                if not queue:
                    return
                name, sql = queue.pop()
            try:
                request(ctx, name, sql, parent=parent, record=results)
            except Exception as e:  # a failing request stays in the run, by name
                with lock:
                    errors.append((name, sql, f"{type(e).__name__}: {str(e)[:200]}"))

    with t.span("bench.burst", size=len(burst)) as s:
        threads = [threading.Thread(target=client, args=(t.current(),)) for _ in range(clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    return s.duration


def check_requests(ctx: Context, records: list, errors: list, star_dir: str) -> None:
    """Each distinct request's rows against DuckDB over the same Parquet star."""
    import duckdb

    con = duckdb.connect()
    duckdb_views(con, star_dir)
    seen: dict[str, bool] = {}
    for name, sql, _, rows, cols in records:
        ctx.attempted += 1
        if sql not in seen:
            want = con.execute(sql)
            dcols = [d[0] for d in want.description]
            seen[sql] = checks.rows_equal(checks.norm([tuple(r) for r in rows], cols),
                                          checks.norm(want.fetchall(), dcols))
        if not seen[sql]:
            ctx.failures.append(f"{name}: rows differ from DuckDB for {sql}")
    for name, sql, err in errors:
        ctx.attempted += 1
        ctx.failures.append(f"{name}: {err}")
    con.close()


def _loop(seconds: float, one_pass) -> list[float]:
    """Call ``one_pass`` until ``seconds`` have elapsed, at least once."""
    times: list[float] = []
    start = time.perf_counter()
    while not times or time.perf_counter() - start < seconds:
        times.append(one_pass())
    return times


def _alternate(ctx: Context, seconds: float, one_pass) -> tuple[list[float], list[float]]:
    """Tracing overhead: untraced (A) and traced (B) passes in ABBA blocks
    (BAAB for odd seeds) until ``seconds`` have elapsed, in whole pairs.
    Over a block, warm-up drift falls on both kinds alike; a run with
    room for one pair only gets the order from its seed, so the order's
    bias evens out over seeds. Returns (untraced, traced) pass times."""
    block = (False, True, True, False) if ctx.args.seed % 2 == 0 else (True, False, False, True)
    times: dict[bool, list[float]] = {False: [], True: []}
    start, k = time.perf_counter(), 0
    while k < 2 or k % 2 or time.perf_counter() - start < seconds:
        traced = block[k % 4]
        with contextlib.nullcontext() if traced else ctx.tracer.paused():
            times[traced].append(one_pass())
        k += 1
    return times[False], times[True]


# ---------------------------------------------------------------------------
def etl_load(ctx: Context) -> dict:
    """A scheduled batch load, which pays for a fresh engine every time it
    runs: ``pass_s`` is the first load after ``get_spark``."""
    t = ctx.tracer
    outputs: list[str] = []

    def one_pass() -> float:
        out = ctx.fresh_dir()
        with t.span("bench.pass") as s:
            load_pass(ctx, out)
        outputs.append(out)
        return s.duration

    setup_start = time.perf_counter()
    start_session(ctx)
    setup_s = time.perf_counter() - setup_start
    cold = one_pass()
    res = {"setup_s": setup_s, "pass_s": cold, "passes": [cold]}
    if t.enabled:
        with t.span("bench.decompose"):
            decompose_load(ctx)
        untraced, traced = _alternate(ctx, ctx.args.seconds, one_pass)  # warm loads
        res.update(traced_pass_s=statistics.median(traced),
                   untraced_pass_s=statistics.median(untraced))
        with t.span("bench.handoff"):  # what the first dashboard answers cost after a load
            serve_setup(ctx, outputs[-1])
            mix = RequestMix(ctx.args.seed, ctx.truth, per_template=1)
            records: list = []
            for name, sql in mix.burst():
                request(ctx, name, sql, record=records)
        res["handoff_request_ms"] = [r[2] * 1e3 for r in records]
    for i, out in enumerate(outputs):
        check_load(ctx, out, f"load_{i + 1}")
    return res


WARM_BURSTS = 2


def dashboard_serve(ctx: Context) -> dict:
    """Serving from the star the program loads during set-up: one client
    thread per core sends bursts of requests in a closed loop."""
    t = ctx.tracer
    clients = ctx.nproc
    setup_start = time.perf_counter()
    start_session(ctx)
    star_dir = ctx.fresh_dir()
    with t.span("bench.setup_load"):
        load_pass(ctx, star_dir)
        serve_setup(ctx, star_dir)
    mix = RequestMix(ctx.args.seed, ctx.truth)
    records: list = []
    errors: list = []

    def burst() -> float:
        return run_burst(ctx, mix.burst(), clients, records, errors)

    with t.span("bench.warm_requests"):  # the first bursts still run warm-up code
        for _ in range(WARM_BURSTS):
            burst()
    setup_s = time.perf_counter() - setup_start
    if t.enabled:
        with t.span("bench.decompose"):
            decompose_load(ctx)
    # In a traced run half the bursts are untraced, and the request
    # figures cover both kinds; its per-layer metrics come from spans.
    first, start = len(records), time.perf_counter()
    if t.enabled:
        untraced, bursts = _alternate(ctx, ctx.args.seconds, burst)
    else:
        bursts = _loop(ctx.args.seconds, burst)
    rate = (len(records) - first) / (time.perf_counter() - start)
    lat = sorted(r[2] * 1e3 for r in records[first:])
    res = {
        "setup_s": setup_s,
        "pass_s": statistics.median(bursts),
        "passes": bursts,
        "requests": len(lat),
        "request_ms_p50": statistics.median(lat),
        "request_ms_p95": tail_percentile(lat),
        "requests_per_s": rate,
        "repeat_frac": repeat_frac([r[1] for r in records]),
        "clients": clients,
    }
    if t.enabled:
        res.update(traced_pass_s=res["pass_s"], untraced_pass_s=statistics.median(untraced))
    check_load(ctx, star_dir, "setup_load")
    check_requests(ctx, records, errors, star_dir)
    return res


def repeat_frac(sqls: list[str]) -> float:
    """Share of requests whose exact SQL an earlier request already sent."""
    return 1.0 - len(set(sqls)) / len(sqls) if sqls else 0.0


def tail_percentile(sorted_vals: list[float]) -> dict | None:
    """The highest percentile up to p95 that leaves at least ten samples
    beyond it, as {"pct": p, "ms": value}; None below 11 samples."""
    n = len(sorted_vals)
    for p in range(95, 49, -1):
        idx = int(p / 100 * n)
        if n - idx - 1 >= 10:
            return {"pct": p, "ms": sorted_vals[idx]}
    return None


WORKLOADS = {"etl_load": etl_load, "dashboard_serve": dashboard_serve}
