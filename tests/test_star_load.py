"""End-to-end EcoWatt load on generated inputs.

``perfbench/gen_etl.py`` writes small reference-shaped raw CSVs together
with the star schema they must load into; the load here is the
program's own (``run_pipeline`` + ``write_star_schema``) and the
comparison is the benchmark's (``perfbench/checks.py``), so the test and
the benchmark agree on what a correct load is.

Run from the repository root (``python -m pytest tests/test_star_load.py``):
``perfbench`` is imported from there.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest

from perfbench.checks import check_star, read_star
from perfbench.gen_etl import generate

SIZE = {"n_ev": 3000, "n_suburbs": 40, "n_stations": 12}


def _load(spark, inputs: str, out: str) -> dict:
    from ecowatt_etl_spark.plans.ecowatt_pipeline import run_pipeline, write_star_schema

    return write_star_schema(run_pipeline(spark, inputs), out)


@pytest.fixture(scope="module")
def clean(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("clean")
    truth = generate(str(root / "in"), seed=7, **SIZE)
    metrics = _load(spark, str(root / "in"), str(root / "star"))
    return truth, metrics, str(root / "star")


@pytest.fixture(scope="module")
def edge(spark, tmp_path_factory):
    """The clean input plus two rows the generator never writes: an
    electricity name whose first part repeats an existing suburb
    (``X + Extra Park`` beside ``X``), and an EV row with an empty
    SUBURB."""
    root = tmp_path_factory.mktemp("edge")
    inputs = root / "in"
    truth = generate(str(inputs), seed=7, **SIZE)
    elec = inputs / "Electricity_Consumption.csv"
    first = elec.read_text().splitlines()[1].split(";")
    dup = first[1].split(" + ")[0]
    with elec.open("a") as fh:
        fh.write(";".join(["9999", f"{dup} + Extra Park", *first[2:]]) + "\n")
    with (inputs / "Ev_Population.csv").open("a") as fh:
        fh.write("Small SUV;BEV;Tesla Model 3 2022;Standard;50000;30 min;5;400;15.0;;\n")
    _load(spark, str(inputs), str(root / "star"))
    return truth, dup, read_star(str(root / "star"))


def test_load_matches_generated_truth(clean):
    truth, metrics, out = clean
    assert check_star(read_star(out), truth) == []
    n = len(truth["dim_suburb"])
    assert metrics["fact_ev_impact"]["n_rows"] == n
    assert metrics["fact_energy_pollution"]["n_rows"] == 2 * n


def test_year_filter_prunes_fact_partitions(clean, spark):
    truth, _, out = clean
    facts = spark.read.parquet(f"{out}/fact_energy_pollution")
    year_2023 = facts.filter("YEAR = 2023")
    plan = year_2023._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*\(YEAR#\d+ = 2023\)", plan), plan
    assert year_2023.count() == len(truth["dim_suburb"])


def test_duplicate_suburb_gets_one_fact_row_per_merged_row(edge):
    truth, dup, star = edge
    names = Counter(r["SUBURB_NAME"] for r in star["dim_suburb"])
    assert names[dup] == 2 and names[None] == 1
    n = len(truth["dim_suburb"]) + 2  # the duplicate and the null suburb
    assert len(star["dim_suburb"]) == n
    assert sorted(r["fact_ev_impact_id"] for r in star["fact_ev_impact"]) == list(
        range(1, n + 1)
    )
    energy_ids = sorted(r["fact_energy_pollution_id"] for r in star["fact_energy_pollution"])
    assert energy_ids == list(range(1, 2 * n + 1))


def test_fact_suburb_keys_resolve_to_one_dim_row(edge):
    _, _, star = edge
    dim_ids = Counter(r["id_suburb"] for r in star["dim_suburb"])
    for fact in ("fact_ev_impact", "fact_energy_pollution"):
        for r in star[fact]:
            assert dim_ids[r["id_suburb"]] == 1, (fact, r)
    null_ids = [r["id_suburb"] for r in star["dim_suburb"] if r["SUBURB_NAME"] is None]
    assert null_ids == [1]  # a null SUBURB sorts first
