"""Named-query registry.

Every operator the engine claims (SURVEY §2 inventory + the
beyond-reference pipeline operators) registers here as a callable
``(spark, sf_dir) -> DataFrame`` plus, when the semantics are
ANSI-SQL-expressible, a DuckDB oracle string over the same parquet
tables. ``__spark_entry__.py`` is a thin view over this registry.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None → rows-only check
    doc: str


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query (and optional DuckDB oracle)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def _load_all() -> None:
    """Import every query module so registrations run."""
    import ecowatt_etl_spark.queries.analytics_queries  # noqa: F401
    import ecowatt_etl_spark.queries.curation_queries  # noqa: F401
    import ecowatt_etl_spark.queries.dedup_queries  # noqa: F401
    import ecowatt_etl_spark.queries.ecowatt_queries  # noqa: F401
    import ecowatt_etl_spark.queries.event_queries  # noqa: F401
    import ecowatt_etl_spark.queries.layout_queries  # noqa: F401
    import ecowatt_etl_spark.queries.multimodal_queries  # noqa: F401
    import ecowatt_etl_spark.queries.relational  # noqa: F401
    import ecowatt_etl_spark.queries.similarity_queries  # noqa: F401
    import ecowatt_etl_spark.queries.text_queries  # noqa: F401
    import ecowatt_etl_spark.queries.timeseries_queries  # noqa: F401
    import ecowatt_etl_spark.queries.tpch_queries  # noqa: F401


# The driver's correctness gate value-checks only the FIRST ~50 entries
# of ``queries()`` in iteration order.  Since round 8 this window is
# COMPUTED, not curated: ``python tools/evidence_ledger.py --window``
# derives it from behavior fingerprints (transitive source closure +
# oracle string) at each round's evidence commit vs HEAD, joined with
# the CORRECTNESS_r*.json rows — never-driver-rowed entries first,
# then queries rewritten this round (same-round certification), then
# older drift stalest-evidence-first.  tests/test_r8_invariants.py is
# red if a rewrite ships without its window slot, or if a slot is
# spent on a current-evidence query while stale ones wait.
#
# r8 ledger summary (tools/evidence_ledger.py, fingerprint v3):
# 0 never-rowed, 97 stale of 289 — the automated closure walk found
# ~80 queries whose shared helpers (scan layer, streaming teardown,
# signature operators) drifted after their last driver row without the
# hand ledger ever noticing; 50 re-certify this round, the remainder
# spill to r9 exactly like the r3–r6 rotation era.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # ---- window regenerated by evidence_ledger --window after the
    # EcoWatt star was keyed once (qe01-qe08 and q18 through
    # operators/keys.py) and the oracles that reuse the q53 pairs CTE
    # began materializing it (q57/q59/q135/q282/q283/q284 via _Q57_CTE,
    # q89, q120, q121, q212): those rewrites lead, then the r12
    # rotation continues longest-unrowed-first.
    "qe05_year_filter",
    "qe06_combined_analysis",
    "qe07_normalized_scores",
    "qe01_ev_dashboard_base",
    "qe02_energy_dashboard_base",
    "qe08_adhoc_sql",
    "q120_pagerank_neardup",
    "q121_contrastive_triplets",
    "q135_dedup_impact",
    "q212_bfs_hops",
    "q282_leakage_safe_split",
    "q283_shortcut_clusters",
    "q284_incremental_clusters",
    "q57_dedup_clusters",
    "q59_dedup_keep_list",
    "q89_neardup_triangles",
    "q18_surrogate_keys",
    "qe03_kpi_row",
    "qe04_top_suburbs",
    "q104_sole_fault_supplier",
    "q133_stream_ewma",
    "q144_boilerplate_strip",
    "q155_semantic_neardup",
    "q171_tfidf_shingle_pairs",
    "q192_ngram_overlap_report",
    "q207_basket_rules",
    "q214_memorization_spans",
    "q215_bootstrap_ci",
    "q223_column_stats",
    "q246_record_linkage",
    "q252_stream_clamped_balance",
    "q262_sequence_packing",
    "q265_incremental_packing",
    "q267_source_packing",
    "q270_training_manifest",
    "q272_truncation_loss",
    "q274_packed_shards",
    "q275_length_batching",
    "q276_mixture_sampler",
    "q285_semantic_recall_audit",
    "q286_semantic_keep_list",
    "q49_stream_stateful_totals",
    "q78_bigram_novelty",
    "q86_term_cooccurrence",
    "q109_top_supplier",
    "q110_supplier_relation",
    "q111_large_orders",
    "q112_disjunctive_pred",
    "q113_dormant_customers",
    "q114_min_cost_supplier",
    # ---- window cutoff (50) — slots below only order the tail
    "q124_forecast_revenue",
    "q125_returned_customers",
    "q126_dominant_suppliers",
    "q140_priority_late_count",
    "q141_shipclass_priority",
    "q143_schema_evolution",
    "q145_xml_roundtrip",
    "q146_partitioned_write_prune",
)


def all_queries() -> dict[str, QuerySpec]:
    _load_all()
    prio = [n for n in _DRIVER_PRIORITY if n in _REGISTRY]
    rest = [n for n in _REGISTRY if n not in _DRIVER_PRIORITY]
    oracle_backed = [n for n in rest if _REGISTRY[n].oracle is not None]
    rows_only = [n for n in rest if _REGISTRY[n].oracle is None]
    return {n: _REGISTRY[n] for n in prio + oracle_backed + rows_only}


def oracle_map() -> dict[str, str]:
    return {n: s.oracle for n, s in all_queries().items() if s.oracle is not None}
