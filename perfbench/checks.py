"""Output checks. They run outside the timed region and feed ``failed``."""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

STAR_TABLES = ("dim_time", "dim_suburb", "dim_vehicle_type", "dim_fuel_type",
               "fact_ev_impact", "fact_energy_pollution")
EV_FACT_COLS = ("fact_ev_impact_id", "id_suburb", "YEAR", "TOTAL_EVS", "BEV_COUNT",
                "PHEV_COUNT", "AVG_RANGE_KM", "AVG_PRICE", "EV_ADOPTION_SCORE")
ENERGY_FACT_COLS = ("fact_energy_pollution_id", "id_suburb", "YEAR", "ENERGY_CONSUMPTION",
                    "ENERGY_CHANGE_PCT", "NO2_LEVEL", "NO2_CHANGE", "NO2_CHANGE_PCT",
                    "EV_PER_ENERGY_UNIT", "NO2_PER_EV")


def close(a, b, tol: float = 1e-6) -> bool:
    """Equal within ``tol``, relative to the magnitude when it exceeds 1."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= tol * max(1.0, abs(a), abs(b))
    return a == b


def read_star(out_dir: str) -> dict[str, list[dict]]:
    """Read a written star back with pyarrow (hive partition columns
    included), independent of the engine under test."""
    out = {}
    for t in STAR_TABLES:
        path = os.path.join(out_dir, t)
        out[t] = pq.ParquetDataset(path).read().to_pylist()
    return out


def check_star(star: dict[str, list[dict]], truth: dict) -> list[str]:
    """Compare a read-back star with the generator's truth: ids and
    counts exact, floats to 1e-6. Returns the mismatches (empty: pass)."""
    errs: list[str] = []
    dims = {
        "dim_suburb": ("id_suburb", "SUBURB_NAME"),
        "dim_vehicle_type": ("id_vehicle_type", "VEHICLE_TYPE"),
    }
    for t, (k, v) in dims.items():
        got = sorted([int(r[k]), r[v]] for r in star[t])
        if got != truth[t]:
            errs.append(f"{t}: {len(got)} rows differ from the {len(truth[t])} expected")
    got_time = sorted((int(r["id_time"]), int(r["YEAR"]), r["IS_CURRENT_YEAR"])
                      for r in star["dim_time"])
    if got_time != [(2022, 2022, False), (2023, 2023, True)]:
        errs.append(f"dim_time: {got_time}")
    if sorted(r["FUEL_TYPE"] for r in star["dim_fuel_type"]) != ["BEV", "PHEV"]:
        errs.append("dim_fuel_type: wrong fuel types")
    for t, cols in (("fact_ev_impact", EV_FACT_COLS),
                    ("fact_energy_pollution", ENERGY_FACT_COLS)):
        want = {row[0]: row for row in truth[t]}
        got = {int(r[cols[0]]): r for r in star[t]}
        if set(got) != set(want):
            errs.append(f"{t}: ids differ ({len(got)} rows, {len(want)} expected)")
            continue
        for key, exp in want.items():
            row = got[key]
            for c, e in zip(cols, exp):
                g = row[c]
                ok = int(g) == e if c in cols[:3] else close(float(g), float(e))
                if not ok:
                    errs.append(f"{t}[{key}].{c}: got {g}, expected {e}")
                    break
            if len(errs) > 20:
                return errs
    return errs


def norm(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Rows with columns in name order, sorted by value (None last)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted([tuple(r[i] for i in order) for r in rows],
                  key=lambda t: tuple((v is None, str(v)) for v in t))


def rows_equal(a: list[tuple], b: list[tuple], tol: float = 1e-9) -> bool:
    if len(a) != len(b):
        return False
    return all(len(x) == len(y) and all(close(_py(u), _py(v), tol) for u, v in zip(x, y))
               for x, y in zip(a, b))


def _py(v):
    """Normalise engine scalars: ints stay ints, decimals become floats."""
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    try:
        return float(v)
    except (TypeError, ValueError):
        return str(v)
