"""Query registry — the engine's query surface.

Each query registers a Spark callable ``(spark, sf_dir) -> DataFrame`` plus
(when SQL-expressible) a DuckDB-ANSI oracle string over the same parquet
tables. The driver's correctness gate compares the two (row-count + schema +
order-insensitive value hash), so EVERY computed column is aliased to the
same name on both sides, monetary aggregates are summed as DECIMAL(18,2)
(exact, order-insensitive — immune to partitioning), and double-valued
derivations round identically.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: add a query to the engine surface."""

    def wrap(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


# Round-17 rotation (optimization round 2/2; driver records the FIRST
# 50 entries; the r13 rule: any query whose operator code changes goes
# back into the window so its driver row re-stamps on current code).
# Self-counting arithmetic: 24 code-changed re-stamps + 26 roll-debt
# = 50. Priority order:
# (1) 24 re-stamps — every query whose operator code the r17
#     OPTIMIZATION round touched (OPTIMIZATION_r17.md has the per-query
#     log; results verified identical by strict_compare at sf0.01 after
#     each change):
#     - bloom decontamination one-pass restructure: q192, q200;
#     - exact_jaccard_join barrier fusion: q102, q203;
#     - ANN/IVF corpus-scan spreads (cosine_topk_bruteforce,
#       int8_topk_recall, cosine_topk_lsh, cosine_topk_ivf,
#       assign_clusters, portable_cell_assignment): q27, q28, q34,
#       q89, q112, q113, q121, q122, q188, q190;
#     - perturbed_text SQL-string conversion (all 9 edit-noise
#       audits): q186, q187, q189, q193, q194, q195, q197, q198, q199;
#     - q156 day-frame spread before the pair explosion.
# (2) 26 roll-debt rows, oldest driver stamp first: the r11-era
#     q95-q97 the r16 window deferred, then the r12-era tail in
#     (stamp, name) order. The remaining r12-era rows roll to the next
#     window.
# Every name here is also swept by tests/test_queries.py +
# tests/strict_gate.py against the same oracles, so reordering changes
# what the driver RECORDS, never what is verified.
_CHECK_FIRST = [
    # --- (1) 24 code-changed re-stamps (r17 optimization round) ---
    "q192_bloom_decontamination_audit",
    "q200_bloom_sized_audit",
    "q102_exact_jaccard_join",
    "q203_winnow_recall_audit",
    "q27_ann_cosine_topk",
    "q28_ann_cosine_lsh",
    "q34_ann_cosine_ivf",
    "q89_embedding_cluster_stats",
    "q112_ivf_replay",
    "q113_cell_stats_replay",
    "q121_ann_recall_audit",
    "q122_ivf_recall_audit",
    "q188_int8_quantization_audit",
    "q190_int8_topk_recall",
    "q186_editnoise_lsh_recall",
    "q187_editnoise_simhash",
    "q189_editnoise_winnow_fidelity",
    "q193_editnoise_mixed_lsh",
    "q194_editnoise_mixed_simhash",
    "q195_editnoise_mixed_winnow",
    "q197_editnoise_reorder_lsh",
    "q198_editnoise_reorder_simhash",
    "q199_editnoise_reorder_winnow",
    "q156_theil_sen_trend",
    # --- (2) 26 roll-debt rows, oldest driver stamp first ---
    "q95_sentence_split_udtf",  # r11
    "q96_event_transition_matrix",  # r11
    "q97_daily_sales_anomalies",  # r11
    "q05_top_products",  # r12
    "q06_top_customers",  # r12
    "q07_status_histogram",  # r12
    "q08_avg_order_value",  # r12
    "q09_parts_no_sales",  # r12
    "q106_token_budget_mixture",  # r12
    "q10_customers_no_orders",  # r12
    "q118_fuzzy_decontamination",  # r12
    "q11_last_order_details",  # r12
    "q126_sales_gap_fill",  # r12
    "q127_peak_window_traffic",  # r12
    "q128_distributed_percentiles",  # r12
    "q12_order_totals",  # r12
    "q130_robust_order_outliers",  # r12
    "q132_nation_revenue_interpolated",  # r12
    "q133_fk_integrity_sweep",  # r12
    "q13_order_reconciliation",  # r12
    "q14_sales_daterange",  # r12
    "q173_dup_cluster_source_span",  # r12
    "q174_source_length_psi",  # r12
    "q175_event_cooccurrence_lift",  # r12
    "q179_lang_source_mutual_info",  # r12
    "q17_view_sales_by_day_sql",  # r12
]


def _ordered() -> dict[str, QuerySpec]:
    first = [n for n in _CHECK_FIRST if n in _REGISTRY]
    first_set = set(first)
    rest = [n for n in _REGISTRY if n not in first_set]
    return {n: _REGISTRY[n] for n in [*first, *rest]}


def all_queries() -> dict[str, SparkQuery]:
    _load_all()
    return {name: spec.fn for name, spec in _ordered().items()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {
        name: spec.oracle
        for name, spec in _ordered().items()
        if spec.oracle is not None
    }


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    import salesanalytics_etl_spark.plans.queries  # noqa: F401
    import salesanalytics_etl_spark.plans.extensions  # noqa: F401
    import salesanalytics_etl_spark.plans.analytics  # noqa: F401
