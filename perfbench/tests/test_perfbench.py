"""Tests of the benchmark's own code: generators, truth, spans, counters.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import os
import time

import pandas as pd
import pytest

import checks
import gen_etl
from dashboard import RequestMix, suburb_popularity
from spans import Span, Tracer, covered, self_times
from workloads import _alternate, repeat_frac, tail_percentile

TINY = {"n_ev": 3000, "n_suburbs": 60, "n_stations": 12}
FILES = ("Ev_Population.csv", "Electricity_Consumption.csv", "Pollution_Index.csv",
         "truth.json")


def _digest(d: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in FILES}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen_etl.generate(a, 7, **TINY)
    gen_etl.generate(b, 7, workers=3, **TINY)  # the bytes do not depend on workers
    gen_etl.generate(c, 8, **TINY)
    assert _digest(a) == _digest(b)
    da, dc = _digest(a), _digest(c)
    assert all(da[f] != dc[f] for f in FILES)


def _truth(evs: list[int]) -> dict:
    return {"dim_suburb": [[i, f"S{i}"] for i in range(1, len(evs) + 1)],
            "fact_ev_impact": [[i, i, 2023, float(n)] for i, n in enumerate(evs, start=1)]}


def test_request_stream_is_seeded():
    truth = _truth([i % 7 for i in range(50)])
    one = [RequestMix(3, truth).burst() for _ in range(1)]
    assert one == [RequestMix(3, truth).burst()]
    assert one != [RequestMix(4, truth).burst()]
    burst = one[0]
    names = [n for n, _ in burst]
    assert all(names.count(n) == 4 for n in set(names))  # fixed composition


def test_suburb_lookups_follow_ev_counts():
    subs, p = suburb_popularity(_truth([0, 1, 3]))
    assert subs == ["S2", "S3"]  # a suburb without EVs is never looked up
    assert p.tolist() == pytest.approx([0.25, 0.75])


def test_repeat_frac():
    assert repeat_frac(["a", "b", "a", "a"]) == pytest.approx(0.5)
    assert repeat_frac([]) == 0.0


def test_overhead_passes_alternate_in_abba_blocks():
    class Ctx:
        tracer = Tracer(True)

    for seed, order in ((2, [False, True]), (3, [True, False])):
        Ctx.args = type("Args", (), {"seed": seed})
        seen = []
        untraced, traced = _alternate(Ctx, 0.0, lambda: seen.append(Ctx.tracer.enabled) or 1.0)
        assert seen == order and len(untraced) == len(traced) == 1
    seen = []
    deadline = time.perf_counter() + 0.05
    _alternate(Ctx, 0.05, lambda: seen.append(Ctx.tracer.enabled) or time.sleep(0.02)
               or 1.0)
    assert seen[:4] == [True, False, False, True] and len(seen) % 2 == 0
    assert time.perf_counter() >= deadline


def _pandas_truth(d: str) -> dict:
    """Recompute the pipeline's per-suburb aggregates from the CSV text."""
    ev = pd.read_csv(f"{d}/Ev_Population.csv", sep=";", dtype=str, keep_default_na=False)
    ev = ev[ev["FUEL_TYPE"].isin(["BEV", "PHEV"])].copy()
    ev["SUBURB"] = ev["SUBURB"].str.strip()
    ev["PRICE"] = pd.to_numeric(ev["LISTED PRICE ($AUD)"].str.replace("*", "", regex=False)
                                .str.strip(), errors="coerce")
    ev["RANGE_KM"] = pd.to_numeric(ev["RANGE (km)"], errors="coerce")
    g = ev.groupby("SUBURB")
    ev_sum = pd.DataFrame({
        "BEV": g["FUEL_TYPE"].apply(lambda s: int((s == "BEV").sum())),
        "PHEV": g["FUEL_TYPE"].apply(lambda s: int((s == "PHEV").sum())),
        "TOTAL": g.size(),
        "AVG_RANGE_KM": g["RANGE_KM"].mean().fillna(0.0),
        "AVG_PRICE": g["PRICE"].mean().fillna(0.0),
    })
    raw_types = pd.read_csv(f"{d}/Ev_Population.csv", sep=";", dtype=str,
                            keep_default_na=False)["VEHICLE_TYPE"].str.strip()

    el = pd.read_csv(f"{d}/Electricity_Consumption.csv", sep=";", dtype=str,
                     encoding="utf-8")
    el.columns = [c.lstrip("﻿") for c in el.columns]
    el["SUBURB"] = el["Name"].str.split("+", regex=False).str[0].str.strip()
    el = el.set_index("SUBURB")[["F2021_22", "F2022_23"]].astype(float)

    po = pd.read_csv(f"{d}/Pollution_Index.csv", skiprows=2, dtype=str)
    no2 = [c for c in po.columns if "NO2 annual average" in c]
    long = po.melt(id_vars=["Date"], value_vars=no2, var_name="LOC", value_name="V")
    long["STATION"] = long["LOC"].str.replace(" NO2 annual average [pphm]", "",
                                              regex=False).str.title()
    mapping = {v.title(): s for v, s in gen_etl.MAPPED_STATIONS.items()}
    long = long[long["STATION"].isin(mapping)].copy()
    long["SUBURB"] = long["STATION"].map(mapping)
    long["YEAR"] = pd.to_datetime(long["Date"], format="%d/%m/%Y").dt.year
    long["V"] = pd.to_numeric(long["V"], errors="coerce")
    no2_mean = long.groupby(["SUBURB", "YEAR"])["V"].mean()
    return {"ev": ev_sum, "vehicle_types": sorted(set(raw_types)), "el": el,
            "no2": no2_mean}


def test_truth_matches_pandas_recompute(tmp_path):
    d = str(tmp_path / "etl")
    truth = gen_etl.generate(d, 5, **TINY)
    pt = _pandas_truth(d)
    subs = sorted(set(pt["ev"].index) | set(pt["el"].index)
                  | set(pt["no2"].index.get_level_values(0)))
    assert [s for _, s in truth["dim_suburb"]] == subs
    assert [v for _, v in truth["dim_vehicle_type"]] == pt["vehicle_types"]
    assert truth["ev_counts"] == {s: [int(r.BEV), int(r.PHEV), int(r.TOTAL)]
                                  for s, r in pt["ev"].iterrows()}
    ev_fact = {row[1]: row for row in truth["fact_ev_impact"]}
    energy = {(row[1], row[2]): row for row in truth["fact_energy_pollution"]}
    for i, s in enumerate(subs, start=1):
        if s in pt["ev"].index:
            r = pt["ev"].loc[s]
            assert checks.close(ev_fact[i][6], round(r.AVG_RANGE_KM, 6))
            assert checks.close(ev_fact[i][7], round(r.AVG_PRICE, 6))
        if s in pt["el"].index:
            assert checks.close(energy[(i, 2023)][3], pt["el"].loc[s, "F2022_23"])
            assert checks.close(energy[(i, 2022)][3], pt["el"].loc[s, "F2021_22"])
        for year in (2022, 2023):
            want = pt["no2"].get((s, year), 0.0)
            assert checks.close(energy[(i, year)][5], round(float(want), 6))
    # the edge cases the pipeline must handle are present
    text = open(f"{d}/Ev_Population.csv").read()
    assert "HFCEV" in text and "*;" in text and ";N/A;" in text and ";;" in text
    assert open(f"{d}/Electricity_Consumption.csv", "rb").read(3) == b"\xef\xbb\xbf"
    assert " + " in open(f"{d}/Electricity_Consumption.csv").read()
    assert ",-0.1," in open(f"{d}/Pollution_Index.csv").read()


def _span(sid, parent, start, end):
    s = Span(sid, f"s{sid}", parent, None)
    s.start, s.end = start, end
    return s


def test_self_time_subtracts_the_union_of_children():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 4.0), _span(2, 0, 3.0, 5.0),  # overlap: 1..5 covered
             _span(3, 0, 8.0, 12.0),                         # clipped to the parent: 8..10
             _span(4, 1, 2.0, 3.0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(2.0) and st[4] == pytest.approx(1.0)
    assert covered([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3.0)


def test_tail_percentile_keeps_ten_samples_beyond():
    vals = list(range(200))
    assert tail_percentile(vals) == {"pct": 94, "ms": 188}
    assert tail_percentile(list(range(1000))) == {"pct": 95, "ms": 950}
    assert tail_percentile(list(range(10))) is None


def test_layer_metrics_do_not_double_count_nested_spans():
    t = Tracer(True)
    t.spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 0.0, 3.0)]
    t.spans[0].name, t.spans[1].name = "plans.outer", "plans.inner"
    for s in t.spans:
        s.counters = {"exec_run_s": 1.0}
    m = t.layer_metrics(nproc=2)
    assert m["plans.wall_s"] == pytest.approx(4.0)
    assert m["plans.exec_run_s"] == pytest.approx(2.0)
    assert m["plans.slot_busy_frac"] == pytest.approx(2.0 / (4.0 * 2))


def test_counter_capture_reports_executor_time(tmp_path):
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", str(tmp_path))
             .getOrCreate())
    try:
        t = Tracer(True)
        t.attach(spark)
        with t.span("queries.trivial"):
            spark.range(0, 2_000_000, numPartitions=2).selectExpr("sum(id * id)").collect()
        with t.span("bench.idle"):
            pass
        t.collect_counters()
        busy, idle = t.spans
        assert busy.counters["jobs"] >= 1 and busy.counters["tasks"] >= 2
        assert busy.counters["exec_run_s"] > 0 and busy.counters["exec_cpu_s"] > 0
        assert idle.counters["jobs"] == 0 and idle.counters["exec_run_s"] == 0
    finally:
        spark.stop()


def test_star_check_flags_a_wrong_value():
    truth = {"dim_suburb": [[1, "A"]], "dim_vehicle_type": [[1, "Van"]],
             "fact_ev_impact": [[1, 1, 2023, 2.0, 1.0, 1.0, 10.0, 5.0, 2.0]],
             "fact_energy_pollution": [[1, 1, 2023] + [1.0] * 7, [2, 1, 2022] + [1.0] * 7]}
    star = {
        "dim_time": [{"id_time": 2022, "YEAR": 2022, "IS_CURRENT_YEAR": False},
                     {"id_time": 2023, "YEAR": 2023, "IS_CURRENT_YEAR": True}],
        "dim_fuel_type": [{"FUEL_TYPE": "BEV"}, {"FUEL_TYPE": "PHEV"}],
        "dim_suburb": [{"id_suburb": 1, "SUBURB_NAME": "A"}],
        "dim_vehicle_type": [{"id_vehicle_type": 1, "VEHICLE_TYPE": "Van"}],
        "fact_ev_impact": [dict(zip(checks.EV_FACT_COLS, truth["fact_ev_impact"][0]))],
        "fact_energy_pollution": [dict(zip(checks.ENERGY_FACT_COLS, r))
                                  for r in truth["fact_energy_pollution"]],
    }
    assert checks.check_star(star, truth) == []
    star["fact_ev_impact"][0]["AVG_PRICE"] = 5.00001
    assert checks.check_star(star, truth) != []
