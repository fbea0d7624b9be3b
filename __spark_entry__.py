"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``udacity_dend_capstone_immigration_spark.workload`` — one registered query per
operator family from SURVEY.md §2 plus the training-data-pipeline tier.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from udacity_dend_capstone_immigration_spark.workload import ORACLES, QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "top_nations_by_orders"

#: The driver's CORRECTNESS record keeps only the first 50 entries of
#: ``queries()``. Round-18 window, built by the ROLLING rotation rule
#: (tests/test_registry.py): (a) every PLAN_CHANGED query — driver-side
#: rows now reach Spark as Arrow local relations (`sources.readers.
#: local_frame`) instead of pickled Python RDDs, so every plan with such
#: a leaf changed, and the exact LocalRelation statistics turn several
#: probe/query-side shuffles into broadcasts; (b) the 8 rows whose
#: newest official row is r11 (deferred from r17); (c) as many of the
#: r12 rows as fit, in registry order.
#: ROTATION NOTE for r19: the 15 r12 rows left out here come first
#: after r19's own plan-changed set, then the r13 rows.
SHOWCASE = [
    # (a) r18 plan-changed (see PLAN_CHANGED below)
    "knn_ivf",
    "ann_ivf_recall",
    "knn_ivfpq",
    "ann_ivfpq_recall",
    "knn_ivfpq_served",
    "knn_ivf_served",
    "knn_sq8_served",
    "ann_sq8_recall",
    "knn_ivfpq_residual",
    "knn_ivfpq_residual_served",
    "ann_ivfpq_residual_recall",
    "knn_ivf_maintenance_served",
    "knn_ivf_filtered_served",
    "ann_sq8_mrr",
    "ann_centroid_drift_report",
    "embeddings_stream_index_append",
    "events_dpp_partitioned_join",
    "immigration_etl_fact",
    "immigration_etl_city_demographics",
    "corpus_epoch_shuffle",
    "quality_perceptron_train",
    "bpe_train_merges",
    "bpe_encode_corpus",
    "corpus_examples_packed",
    "dedup_index_revive_roundtrip",
    # (b) the r11 rows deferred from r17
    "distinct_counts_per_segment",
    "dedup_exact_rows",
    "table_row_counts",
    "sql_revenue_by_priority",
    "approx_distinct_summary",
    "regional_supplier_revenue",
    "orders_column_profile",
    "tpch_q6_forecast_revenue",
    # (c) r12 rows, registry order
    "bucketed_join_roundtrip",
    "atomic_publish_roundtrip",
    "publish_time_travel",
    "lineitem_bloom_pruned_join",
    "dq_constraint_report",
    "dedup_simhash_recall",
    "source_dup_rate_report",
    "events_dynamic_gap_sessions",
    "events_wow_growth",
    "knn_lsh_bucketed",
    "label_centroids",
    "knn_matryoshka16",
    "ann_matryoshka_recall",
    "events_user_linear_trend",
    "events_time_weighted_avg",
    "events_ohlc_bars",
    "events_heavy_hitters_cms",
]

#: Queries whose plan, oracle, or constructed result changed in r18
#: (beyond brand-new ones, which tests/test_registry.py derives as
#: "registered but no official row yet"). The rolling rotation test
#: asserts these sit inside the window so changed behavior always gets
#: an official row the round it ships. Update per round.
#: r18: formatted-plan diff (tools/capture_plans.py, sf0.01) of the
#: parent against the `local_frame` change, expression ids, RDD ids and
#: temp paths normalized. Every entry lost a ``Scan ExistingRDD`` leaf
#: to a ``LocalTableScan``. On top of that: the persisted-serve family
#: now broadcasts its bounded probe list and streams the routed store
#: scan, where the probe list's unknown size made it broadcast the store
#: scan; ``corpus_examples_packed``'s estimate-gated running sum sees
#: the trained vocab's exact size and takes the plain-window shape
#: instead of the range shape an unknown size forced; and
#: ``events_dpp_partitioned_join`` reads its dim as a parquet table (a
#: local relation's filter folds away, and DPP would not fire).
#: Then the store-commit change (same diff, parent against it): the
#: revival in ``dedup_index_revive_roundtrip`` now commits as a fold,
#: so its served read has no tombstone anti-joins left.
PLAN_CHANGED: list[str] = [
    "knn_ivf",
    "ann_ivf_recall",
    "knn_ivfpq",
    "ann_ivfpq_recall",
    "knn_ivfpq_served",
    "knn_ivf_served",
    "knn_sq8_served",
    "ann_sq8_recall",
    "knn_ivfpq_residual",
    "knn_ivfpq_residual_served",
    "ann_ivfpq_residual_recall",
    "knn_ivf_maintenance_served",
    "knn_ivf_filtered_served",
    "ann_sq8_mrr",
    "ann_centroid_drift_report",
    "embeddings_stream_index_append",
    "events_dpp_partitioned_join",
    "immigration_etl_fact",
    "immigration_etl_city_demographics",
    "corpus_epoch_shuffle",
    "quality_perceptron_train",
    "bpe_train_merges",
    "bpe_encode_corpus",
    "corpus_examples_packed",
    "dedup_index_revive_roundtrip",
]


def _ordered(mapping: dict) -> dict:
    head = {n: mapping[n] for n in SHOWCASE if n in mapping}
    tail = {n: v for n, v in mapping.items() if n not in head}
    return {**head, **tail}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES[FLAGSHIP](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2,
    showcase-tier first (see SHOWCASE)."""
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return _ordered(ORACLES)
