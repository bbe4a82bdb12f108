"""Seeded generator of reference-shaped raw ETL inputs plus their truth.

Writes the three raw CSVs ``plans.ecowatt_pipeline.run_pipeline`` reads
(``Ev_Population.csv``, ``Electricity_Consumption.csv``,
``Pollution_Index.csv``) with the edge cases the pipeline's cleaning
handles (FIXTURES.md §1):

* EV: ``;``-delimited, unit-suffixed headers and an anonymous empty
  column, padded vehicle-type and suburb names, HFCEV rows that must be
  filtered out, ``*``-suffixed and empty prices, model strings with and
  without a year, non-numeric and empty ranges.
* Electricity: BOM on the first header cell, ``+``-joined names (only
  the first part counts), dotted pseudo-numbers in unused fiscal years,
  a few zero 2021/22 readings (guarded percentage change).
* Pollution: three header lines, day-first dates, empty and negative
  cells, NO2 columns for mapped and unmapped stations plus other
  pollutants that the name projection must drop.

While generating it accumulates the expected star schema (``truth``):
dimension sets with their ids and every fact column, computed with the
pipeline's documented semantics from the generated values, never by
reading the files back.
"""

from __future__ import annotations

import datetime as dt
import json
import multiprocessing
import os

import numpy as np

# Station (upper case, as in the raw header) -> suburb; the pipeline's
# SUBURB_MAPPING keyed by the title-cased station name.
MAPPED_STATIONS = {
    "ALEXANDRIA": "Alexandria",
    "ROZELLE": "Rozelle",
    "EARLWOOD": "Earlwood",
    "COOK AND PHILLIP": "Sydney",
    "RANDWICK": "Randwick",
    "MACQUARIE PARK": "Macquarie Park",
    "PARRAMATTA NORTH": "Parramatta",
}

VEHICLE_TYPES = [
    "Large SUV", "Medium SUV", "Small SUV", "Ute (2WD)", "Ute (4WD)",
    "Large Car", "Medium Car", "Small Car", "People Mover", "Van",
]
MAKES = ["Tesla Model 3", "BYD Atto 3", "Kia EV6", "Hyundai Ioniq 5", "MG ZS EV",
         "Polestar 2", "Volvo XC40", "Mitsubishi Outlander", "BMW iX3", "Nissan Leaf"]
_PREFIX = ["North", "South", "East", "West", "Upper", "Lower", "Old", "New", "Port",
           "Mount", "Glen", "Lake", "Bay", "Green", "Red", "Silver", "Stone", "Oak",
           "Pine", "Cedar", "River", "Bridge", "Forest", "Hill", "Rock", "Sand", "Sun",
           "Wind", "Fair", "Spring", "Mill", "Ash", "Elm", "Rose", "Bell", "King",
           "Queen", "Brook", "Kings", "Marsh"]
_SUFFIX = ["field", "wood", "vale", "dale", "ton", "ville", "bury", "ford", "haven",
           "stead", "view", "side", "bank", "gate", "crest", "ridge", "point", "park",
           "grove", "heights", "lea", "mere", "burn", "combe", "hurst", "ley", "wick",
           "worth", "by", "thorpe", "stow", "holm", "more", "water", "well", "brook",
           "ham", "minster", "port", "shaw", "cliff", "moor", "end", "cross", "hall",
           "lands", "marsh", "meadow", "church", "court"]
_UNMAPPED_STATIONS = [f"{p} {s}".upper() for p in ("Liverpool", "Bargo", "Camden",
                      "Oakdale", "Prospect", "Richmond", "Wollongong", "Kembla",
                      "Albion", "Newcastle", "Wallsend", "Beresfield", "Muswellbrook",
                      "Singleton", "Rouse") for s in ("Central", "West", "East")][:43]
EV_HEADER = ("VEHICLE_TYPE;FUEL_TYPE;MODEL;VARIANT_DETAILS;LISTED PRICE ($AUD);"
             "FAST_CHARGE_TIME;ANCAP_RATING;RANGE (km);ENERGY_CONSUMPTION (kWh/100km);;SUBURB")
FISCAL_YEARS = [f"F{y}_{(y + 1) % 100:02d}" for y in range(2010, 2023)]


def suburb_names(n: int) -> list[str]:
    """The seven mapped suburbs plus generated ASCII names, ``n`` in all."""
    base = sorted(set(MAPPED_STATIONS.values()))
    extra = [f"{p}{s}" for s in _SUFFIX for p in _PREFIX]
    extra = [x for x in extra if x not in base]
    if n - len(base) > len(extra):
        extra += [f"{x} {k}" for k in range(2, 99) for x in extra]
    return base + extra[: n - len(base)]


_EV_ROWS: tuple = ()  # (columns, suburb names) for the formatting workers


def _ev_lines(bounds: tuple[int, int]) -> str:
    """CSV text of EV rows ``lo:hi``, each line ending in a newline."""
    cols, names = _EV_ROWS
    lo, hi = bounds
    fuel_names = ("BEV", "PHEV", "HFCEV")
    types = [f"  {t} " for t in VEHICLE_TYPES], VEHICLE_TYPES
    subs = [f" {n} " for n in names], names
    lines = []
    rows = zip(*(a[lo:hi].tolist() for a in cols))
    for f, pk, rk, pr, mk, vt, yr, has_yr, pt, ps, cm, full, km, en, si in rows:
        p = f"{pr:.2f}"
        m = MAKES[mk]
        lines.append(";".join((
            types[0 if pt else 1][vt], fuel_names[f],
            f"{m} {yr}" if has_yr else m,
            f"Variant {mk}-{vt}",
            p + "*" if pk < 0.1 else "" if pk < 0.13 else f" {p} " if pk < 0.18 else p,
            f"{cm} mins (5%-80% charge, 50kW charger)" if full else f"{cm} mins",
            "5 star, 2019" if f else "Unrated",
            "N/A" if rk < 0.04 else "" if rk < 0.06 else str(km),
            f"{en:.1f}", "",
            subs[0 if ps else 1][si],
        )))
    lines.append("")
    return "\n".join(lines)


def _format_ev(cols: tuple, names: list[str], n_ev: int, workers: int) -> list[str]:
    """The EV rows as text, in row order, split over ``workers`` forked
    processes that read the drawn columns from this module."""
    global _EV_ROWS
    _EV_ROWS = (cols, names)
    try:
        bounds = [(n_ev * k // workers, n_ev * (k + 1) // workers) for k in range(workers)]
        if workers == 1:
            return [_ev_lines(bounds[0])]
        with multiprocessing.get_context("fork").Pool(workers) as pool:
            parts = pool.map(_ev_lines, bounds)
            pool.close()
            pool.join()
        return parts
    finally:
        _EV_ROWS = ()


def generate(out_dir: str, seed: int, n_ev: int = 100_000, n_suburbs: int = 2000,
             n_stations: int = 50, workers: int = 1) -> dict:
    """Write the three CSVs into ``out_dir`` and return the truth dict
    (also written as ``truth.json``). ``workers`` processes format the
    EV rows; the bytes do not depend on it."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    names = suburb_names(n_suburbs)

    # ---- EV population ------------------------------------------------
    weights = 1.0 / np.arange(1, n_suburbs + 1) ** 0.8
    weights = weights[rng.permutation(n_suburbs)]
    sub_idx = rng.choice(n_suburbs, size=n_ev, p=weights / weights.sum())
    fuel_draw = rng.random(n_ev)
    fuel = np.where(fuel_draw < 0.6, 0, np.where(fuel_draw < 0.97, 1, 2))  # BEV/PHEV/HFCEV
    vtype = rng.integers(0, len(VEHICLE_TYPES), n_ev)
    make = rng.integers(0, len(MAKES), n_ev)
    year = rng.integers(2015, 2025, n_ev)
    has_year = rng.random(n_ev) < 0.9
    price = np.round(rng.uniform(25_000, 150_000, n_ev), 2)
    price_kind = rng.random(n_ev)  # <.1 starred, <.13 empty, <.18 padded
    rng_km = rng.integers(50, 700, n_ev)
    range_kind = rng.random(n_ev)  # <.04 junk, <.06 empty
    pad_type = rng.random(n_ev) < 0.1
    pad_sub = rng.random(n_ev) < 0.1
    energy = np.round(rng.uniform(12, 25, n_ev), 1)

    charge_min = rng.integers(20, 120, n_ev)
    full_charge = rng.random(n_ev) < 0.2  # the rest give the minutes alone

    cols = (fuel, price_kind, range_kind, price, make, vtype, year, has_year, pad_type,
            pad_sub, charge_min, full_charge, rng_km, energy, sub_idx)
    parts = _format_ev(cols, names, n_ev, workers)
    with open(os.path.join(out_dir, "Ev_Population.csv"), "w") as fh:
        fh.write(EV_HEADER + "\n")
        for part in parts:
            fh.write(part)

    # Per-suburb aggregates over the kept (BEV/PHEV) rows. Starred and
    # padded prices parse, empty ones do not; junk and empty ranges do not.
    kept = fuel < 2
    has_price = kept & ~((price_kind >= 0.1) & (price_kind < 0.13))
    has_range = kept & (range_kind >= 0.06)
    bev = np.bincount(sub_idx[kept & (fuel == 0)], minlength=n_suburbs)
    total = np.bincount(sub_idx[kept], minlength=n_suburbs)
    price_sum = _sum_by(sub_idx[has_price], price[has_price], n_suburbs)
    price_n = np.bincount(sub_idx[has_price], minlength=n_suburbs)
    range_sum = _sum_by(sub_idx[has_range], rng_km[has_range].astype(float), n_suburbs)
    range_n = np.bincount(sub_idx[has_range], minlength=n_suburbs)

    # ---- electricity ----------------------------------------------------
    # 90% of suburbs report consumption, plus 5% electricity-only names.
    n_elec_only = n_suburbs // 20
    elec_names = suburb_names(n_suburbs + n_elec_only)[n_suburbs:]
    elec_sub = [names[i] for i in sorted(rng.choice(n_suburbs, int(n_suburbs * 0.9),
                                                    replace=False))] + elec_names
    rng.shuffle(elec_sub)
    consumption = {}
    header = ["\ufeffFID", "Name", *FISCAL_YEARS, "Shape__Area", "Shape__Length"]
    lines = [";".join(header)]
    for fid, name in enumerate(elec_sub, start=1):
        c22 = 0.0 if rng.random() < 0.02 else round(float(rng.uniform(1e6, 9e7)), 1)
        c23 = round(float(rng.uniform(1e6, 9e7)), 1)
        consumption[name] = (c22, c23)
        shown = f"{name} + {rng.choice(_SUFFIX).title()} Park" if rng.random() < 0.1 else name
        dotted = [".".join(f"{int(v):03d}" for v in rng.integers(0, 999, 4)).lstrip("0") or "0"
                  for _ in FISCAL_YEARS[:-2]]
        lines.append(";".join([str(fid), shown, *dotted, repr(c22), repr(c23),
                               "8.379.343.471", "12.345.678"]))
    with open(os.path.join(out_dir, "Electricity_Consumption.csv"), "w",
              encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")

    # ---- pollution ------------------------------------------------------
    stations = list(MAPPED_STATIONS) + _UNMAPPED_STATIONS[: n_stations - len(MAPPED_STATIONS)]
    order = rng.permutation(len(stations))
    stations = [stations[i] for i in order]
    days = [dt.date(2022, 1, 1) + dt.timedelta(d) for d in range(730)]
    no2 = np.round(rng.uniform(0.2, 2.5, (len(days), len(stations))), 1)
    cell = rng.random((len(days), len(stations)))  # <.05 empty, <.06 negative
    other = stations[:10]
    cols = ["Date"] + [f"{s} NO2 annual average [pphm]" for s in stations] + [
        f"{s} CO 8-hour rolling average [ppm]" for s in other]
    lines = ["Sydney air quality data export,,,",
             "Stations:," + ",".join(s.title() for s in stations),
             ",".join(cols)]
    sums: dict[tuple[str, int], list[float]] = {}
    for di, day in enumerate(days):
        row = [f"{day.day}/{day.month}/{day.year}" if di % 2 else day.strftime("%d/%m/%Y")]
        for si, st in enumerate(stations):
            c = cell[di, si]
            v = None if c < 0.05 else -0.1 if c < 0.06 else float(no2[di, si])
            row.append("" if v is None else f"{v:.1f}")
            if v is not None and st in MAPPED_STATIONS:
                acc = sums.setdefault((MAPPED_STATIONS[st], day.year), [0.0, 0])
                acc[0] += v
                acc[1] += 1
        row += [f"{x:.2f}" for x in rng.uniform(0, 1, len(other))]
        lines.append(",".join(row))
    with open(os.path.join(out_dir, "Pollution_Index.csv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    ev = {names[s]: (int(bev[s]), int(total[s] - bev[s]), int(total[s]),
                     range_sum[s] / range_n[s] if range_n[s] else 0.0,
                     price_sum[s] / price_n[s] if price_n[s] else 0.0)
          for s in range(n_suburbs) if total[s]}
    no2_mean = {k: v[0] / v[1] for k, v in sums.items()}
    truth = star_truth(ev, consumption, no2_mean, {VEHICLE_TYPES[i] for i in np.unique(vtype)})
    truth["seed"] = seed
    truth["sizes"] = {"ev_rows": n_ev, "suburbs": n_suburbs, "stations": len(stations),
                      "pollution_days": len(days), "electricity_rows": len(elec_sub)}
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return truth


def _sum_by(idx: np.ndarray, vals: np.ndarray, n: int) -> np.ndarray:
    """Per-index sums, added in row order as the pipeline's sums are."""
    out = np.zeros(n)
    np.add.at(out, idx, vals)
    return out


def _pct(prev: float | None, curr: float | None) -> float:
    """pct_change then the merge's fill: NULL (missing side, zero base) -> 0."""
    if prev is None or curr is None or prev == 0:
        return 0.0
    return (curr - prev) / prev * 100.0


def _guarded(num: float, den: float) -> float:
    """``functions.cleaning.guarded_div``: no positive base or a ratio
    above 1e15 gives 0."""
    return 0.0 if den <= 0 or abs(num / den) > 1e15 else num / den


def star_truth(ev: dict, consumption: dict, no2: dict, vehicle_types: set) -> dict:
    """Expected star schema from per-suburb aggregates.

    ``ev``: suburb -> (bev, phev, total, avg_range, avg_price) over the
    kept (BEV/PHEV) rows; ``consumption``: suburb -> (2022, 2023);
    ``no2``: (suburb, year) -> mean NO2. Follows the pipeline's merge
    semantics: full outer union of suburbs, missing values filled with
    0, ratios guarded as documented in ``plans.ecowatt_pipeline``."""
    subs = sorted(set(ev) | set(consumption) | {s for s, _ in no2})
    n = len(subs)
    ev_fact, energy = [], []
    for i, s in enumerate(subs, start=1):
        bev, phev, total, avg_range, avg_price = ev.get(s, (0, 0, 0, 0.0, 0.0))
        c22, c23 = consumption.get(s, (0.0, 0.0))
        n22, n23 = no2.get((s, 2022)), no2.get((s, 2023))
        no2_change = n23 - n22 if n22 is not None and n23 is not None else 0.0
        no2_pct = _pct(n22, n23)
        ev_per_energy = total / (c23 / 1e6) if c23 else 0.0
        no2_per_ev = (n23 or 0.0) / (total if total else 1.0)
        ev_fact.append([i, i, 2023] + [round(x, 6) for x in (
            total, bev, phev, avg_range, avg_price, total * (1 - no2_pct / 100))])
        energy.append([i, i, 2023] + [round(x, 6) for x in (
            c23, _pct(c22, c23), n23 or 0.0, no2_change, no2_pct, ev_per_energy, no2_per_ev)])
        energy.append([n + i, i, 2022] + [round(x, 6) for x in (
            c22, 0.0, n22 or 0.0, 0.0, 0.0, _guarded(total, c22 / 1e6),
            _guarded(n22 or 0.0, total))])
    return {
        "dim_suburb": [[i, s] for i, s in enumerate(subs, start=1)],
        "dim_vehicle_type": [[i, v] for i, v in enumerate(sorted(vehicle_types), start=1)],
        "fact_ev_impact": ev_fact,
        "fact_energy_pollution": sorted(energy),
        "ev_counts": {s: list(v[:3]) for s, v in sorted(ev.items())},
    }
