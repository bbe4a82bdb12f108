"""Dashboard request mix over the loaded star schema.

Templates are modelled on the serving surface of the reference
dashboard and the ``qe01``–``qe08`` queries: KPI row, top-N suburbs,
per-year slice, per-year totals, per-suburb lookup, combined EV/energy
analysis, min–max scores and an ad-hoc ``LIMIT n`` query. Every
ORDER BY ends in a unique key, so a ``LIMIT`` selects the same rows in
any engine.

The mix is fixed: every burst holds each template ``per_template``
times, in a seeded order, so bursts differ in parameters and order but
not in composition. Suburb lookups are drawn in proportion to each
suburb's EV count in the generated data; the run reports the share of
requests that repeat an earlier one.
"""

from __future__ import annotations

import numpy as np

from checks import STAR_TABLES

_EV_JOIN = "fact_ev_impact e JOIN dim_suburb s ON e.id_suburb = s.id_suburb"
_ENERGY_2023 = "(SELECT * FROM fact_energy_pollution WHERE YEAR = 2023)"


def _minmax(col: str) -> str:
    """Min–max scale to [0, 100]; a degenerate range scores 50, as
    ``functions.cleaning.minmax_normalize`` does."""
    lo, hi = f"MIN({col}) OVER ()", f"MAX({col}) OVER ()"
    return f"CASE WHEN {hi} = {lo} THEN 50.0 ELSE ({col} - {lo}) / ({hi} - {lo}) * 100.0 END"


TEMPLATES: dict[str, str] = {
    "kpi_row": (
        "SELECT SUM(TOTAL_EVS) AS total_evs, SUM(BEV_COUNT) AS bev_count, "
        "SUM(PHEV_COUNT) AS phev_count, SUM(BEV_COUNT) / SUM(TOTAL_EVS) * 100 AS bev_pct "
        "FROM fact_ev_impact WHERE TOTAL_EVS >= {min_evs}"),
    "top_suburbs": (
        "SELECT s.SUBURB_NAME, e.TOTAL_EVS, e.BEV_COUNT, e.PHEV_COUNT FROM " + _EV_JOIN +
        " ORDER BY e.TOTAL_EVS DESC, s.SUBURB_NAME LIMIT {n}"),
    "year_slice": (
        "SELECT id_suburb, ENERGY_CONSUMPTION, NO2_LEVEL, EV_PER_ENERGY_UNIT "
        "FROM fact_energy_pollution WHERE YEAR = {year} "
        "AND id_suburb BETWEEN {lo} AND {lo} + 99"),
    "year_totals": (
        "SELECT YEAR, COUNT(*) AS n, SUM(ENERGY_CONSUMPTION) AS energy, "
        "MAX(NO2_LEVEL) AS max_no2 FROM fact_energy_pollution "
        "WHERE ENERGY_CONSUMPTION >= {min_energy} GROUP BY YEAR"),
    "suburb_lookup": (
        "SELECT s.SUBURB_NAME, e.TOTAL_EVS, e.AVG_PRICE, e.AVG_RANGE_KM, "
        "n.YEAR, n.ENERGY_CONSUMPTION, n.NO2_LEVEL FROM " + _EV_JOIN +
        " JOIN fact_energy_pollution n ON n.id_suburb = e.id_suburb "
        "WHERE s.SUBURB_NAME = '{suburb}'"),
    "combined_analysis": (
        "SELECT e.id_suburb, e.TOTAL_EVS, e.EV_ADOPTION_SCORE, n.ENERGY_CONSUMPTION, "
        "n.NO2_LEVEL, n.EV_PER_ENERGY_UNIT FROM fact_ev_impact e LEFT JOIN " + _ENERGY_2023 +
        " n ON e.id_suburb = n.id_suburb WHERE e.TOTAL_EVS >= {min_evs} "
        "ORDER BY e.EV_ADOPTION_SCORE DESC, e.id_suburb LIMIT 20"),
    "minmax_scores": (
        "SELECT SUBURB_NAME, " + _minmax("TOTAL_EVS") + " AS ev_score, "
        "100.0 - " + _minmax("NO2_LEVEL") + " AS no2_score "
        "FROM (SELECT s.SUBURB_NAME, e.TOTAL_EVS, n.NO2_LEVEL FROM " + _EV_JOIN +
        " JOIN " + _ENERGY_2023 + " n ON n.id_suburb = e.id_suburb "
        "WHERE e.TOTAL_EVS >= {min_evs}) t ORDER BY ev_score DESC, SUBURB_NAME LIMIT {n}"),
    "adhoc_limit": (
        "SELECT s.SUBURB_NAME, e.TOTAL_EVS, e.AVG_PRICE FROM " + _EV_JOIN +
        " WHERE e.AVG_PRICE > {price} ORDER BY e.AVG_PRICE DESC, s.SUBURB_NAME LIMIT {n}"),
}


def suburb_popularity(truth: dict) -> tuple[list[str], np.ndarray]:
    """Suburbs with EVs and lookup probabilities proportional to their
    ``TOTAL_EVS``: the generated fleet's own skew, so a dashboard user
    looks a suburb up as often as its vehicles appear."""
    names = dict(map(tuple, truth["dim_suburb"]))
    evs = [(names[row[1]], row[3]) for row in truth["fact_ev_impact"] if row[3] > 0]
    w = np.array([n for _, n in evs], dtype=float)
    return [s for s, _ in evs], w / w.sum()


class RequestMix:
    """Seeded request stream over the star described by ``truth``.

    Assumed, not measured: every template is equally common
    (``per_template`` of each per burst) and the parameter menus below
    are fixed; only the suburb draw follows the data."""

    def __init__(self, seed: int, truth: dict, per_template: int = 4):
        self.rng = np.random.default_rng(seed)
        self.suburbs, self.p = suburb_popularity(truth)
        self.per_template = per_template
        self.n_ids = len(truth["dim_suburb"])

    def _params(self, name: str) -> dict:
        r = self.rng
        return {
            "kpi_row": lambda: {"min_evs": int(r.choice([0, 10, 25, 50]))},
            "top_suburbs": lambda: {"n": int(r.choice([5, 10, 20, 50]))},
            "year_slice": lambda: {"year": int(r.choice([2022, 2023])),
                                   "lo": 1 + 100 * int(r.integers(0, max(1, self.n_ids // 100)))},
            "year_totals": lambda: {"min_energy": int(r.choice([0, 1_000_000, 30_000_000]))},
            "suburb_lookup": lambda: {
                "suburb": self.suburbs[int(r.choice(len(self.suburbs), p=self.p))]},
            "combined_analysis": lambda: {"min_evs": int(r.choice([0, 20, 40, 80]))},
            "minmax_scores": lambda: {"min_evs": int(r.choice([0, 20, 40])),
                                      "n": int(r.choice([10, 25]))},
            "adhoc_limit": lambda: {"price": int(r.choice([60_000, 80_000, 100_000])),
                                    "n": int(r.choice([10, 20]))},
        }[name]()

    def burst(self) -> list[tuple[str, str]]:
        """One burst: (template, sql) pairs, each template ``per_template`` times."""
        names = [n for n in TEMPLATES for _ in range(self.per_template)]
        order = self.rng.permutation(len(names))
        out = []
        for i in order:
            name = names[i]
            out.append((name, TEMPLATES[name].format(**self._params(name))))
        return out


def duckdb_views(con, star_dir: str) -> None:
    """Register the written star in DuckDB as the oracle's catalog."""
    for t in STAR_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{star_dir}/{t}/**/*.parquet', hive_partitioning = true)")
