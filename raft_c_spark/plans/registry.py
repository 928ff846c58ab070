"""Central registry of driver-facing queries and their DuckDB oracles.

``__spark_entry__.queries()`` / ``oracle_sql()`` read from here; each
plans module contributes its QUERIES/ORACLES dicts. A query without an
oracle entry is checked rows-only by the driver (reserved for
genuinely non-SQL-expressible ops). As of round 4 every registered
query has a hash oracle: engine-specific results get one of two
treatments — a pure-python replay of the deterministic pipeline
persisted as a ground-truth parquet the oracle reads (IVF top-k,
media feature norms), or a contract rewrite where the query returns
exact values plus in-error-band booleans the oracle expects true
(HLL/quantile sketches).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _modules():
    """Plan modules in registry order: reference parity first, then
    the LLM-pipeline operator families, then the tpch suite. Queries
    outside ``WINDOW_QUERIES`` follow the window in this order."""
    from raft_c_spark.plans import parity

    return [parity] + [
        __import__(f"raft_c_spark.plans.{name}", fromlist=[name])
        for name in (
            "language",
            "dedup",
            "text",
            "similarity",
            "streaming",
            "multimodal",
            "semistructured",
            "sampling",
            "events_analytics",
            "extras",
            "text_bpe",
            "tpch",
            "tpch2",
            "tpch3",
            "tpch4",
        )
    ]


def _with_cache_hygiene(fn: Callable) -> Callable:
    """Several operators cache intermediate frames (shingles,
    signatures) that stay referenced by the returned plan; clearing
    the cache *before* each query stops those from accumulating across
    a long session (the driver runs all ~50 queries in one session —
    unbounded storage-memory growth degrades later queries)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


#: The driver's verification window: ``all_queries()`` returns these
#: names first, in this order, and the correctness driver hash-checks
#: the first ``verification.WINDOW`` of them. Rotate a query in or out
#: by editing this tuple; ``tests/test_window_policy.py`` checks that
#: it holds 50 unique registered names with at least one per family,
#: and that no never-green or stale query sits outside it.
WINDOW_QUERIES: tuple[str, ...] = (
    "ts_min",
    "ts_max",
    "ts_sample_1h",
    "ts_delta_rate",
    "ts_lttb",
    "lang_retention",
    "lang_sample_multi",
    "dedup_segments",
    "dedup_semantic",
    "dedup_cut_spans",
    "text_lm_score",
    "text_gopher_rules",
    "text_novelty",
    "text_compression",
    "text_bpe_tokens",
    "sim_cluster_assign",
    "sim_knn_recall",
    "sim_knn_recall_tuned",
    "stream_sliding_rate",
    "stream_session_window",
    "mm_features",
    "mm_frame_index",
    "ds_contamination_overlap",
    "ds_lang_kl",
    "ds_ccnet_buckets",
    "ds_ccnet_buckets_approx",
    "ds_dataset_card",
    "ds_epoch_upsample",
    "ds_importance_dsir",
    "ds_dsir_resample",
    "ds_training_order",
    "ev_topk_per_user",
    "ev_running_value",
    "ev_type_pivot",
    "ev_distinct_users",
    "ev_session_attribution",
    "ev_attribution_models",
    "tpch_forecast_revenue",
    "tpch_local_supplier_volume",
    "tpch_priority_late_orders",
    "tpch_returned_item_customers",
    "tpch_promo_revenue_share",
    "tpch_nation_volume_shipping",
    "tpch_national_market_share",
    "tpch_top_supplier",
    "tpch_small_quantity_revenue",
    "tpch_priority_linestatus",
    "tpch_disjunctive_revenue",
    "tpch_inactive_high_balance",
    "tpch_bucketed_order_revenue",
)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable] = {}
    for mod in _modules():
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        out.update({k: _with_cache_hygiene(v) for k, v in mod.QUERIES.items()})
    rest = [n for n in out if n not in WINDOW_QUERIES]
    return {n: out[n] for n in (*WINDOW_QUERIES, *rest)}


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(getattr(mod, "ORACLES", {}))
    return out
