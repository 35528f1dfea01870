"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship hourly transfer-volume-shaped query
(SURVEY.md §2 A2/Q5) over sf0.001. ``queries()`` / ``oracle_sql()`` expose
the SURVEY §2 operator inventory + scale extensions, each phrased over the
driver's tables with a DuckDB oracle twin (see
``defi_etl_platform_sqlglot_implementation__spark/registry.py`` for the
float-parity policy). Every ``registry_*`` module of the package is
discovered and imported here; importing one fills the registry dicts.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import defi_etl_platform_sqlglot_implementation__spark as _pkg
from defi_etl_platform_sqlglot_implementation__spark import registry

# sorted, so the registration order (the tail of queries()) is fixed
for _name in sorted(m.name for m in pkgutil.iter_modules(_pkg.__path__)
                    if m.name.startswith("registry_")):
    importlib.import_module(f"{_pkg.__name__}.{_name}")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return registry.QUERIES["transfer_volume_hourly"](spark, "/root/testdata/sf0.001")


# The correctness window is the first 50 entries; pinning them keeps it
# fixed whatever order the registry modules register in.
_PRIORITY = [
    "fuzzy_customer_pairs", "knn_label_accuracy_capped_eval",
    "retrieval_mrr_capped_eval", "knn_label_accuracy", "similarity_ann_pq",
    "pq_rerank_recall_curve", "graph_ann_beam_search",
    "graph_ann_recall_curve", "bpe_vocab", "bpe_encode_segments",
    "bpe_vocab_pruning_curve", "bpe_fertility_by_lang", "dedup_minhash_lsh",
    "dedup_minhash_normalized", "dedup_minhash_incremental",
    "dedup_rate_by_batch", "quality_dup_quartiles",
    "quality_score_calibration", "source_overlap_matrix",
    "ccnet_bucket_dup_matrix", "dedup_keep_best_quality",
    "ivf_codebook_size_curve", "dedup_clusters", "dup_cluster_size_histogram",
    "dedup_keep_canonical", "dedup_keep_newest", "dedup_sample_order_effect",
    "ingest_transitivity_gap", "curation_pipeline_v3", "curation_pipeline_v2",
    "keep_policy_matrix", "dedup_token_savings", "cross_modal_dedup",
    "rolling_p90", "rolling_p90_partitioned", "salted_group_sum",
    "similarity_lsh_pairs", "similarity_topk", "stress_test_table",
    "asof_price_join", "bernoulli_hash_sample", "big_quantity_orders",
    "cohort_retention", "contamination_overlap", "curation_funnel",
    "event_type_pivot", "hourly_daily_rollup", "lone_late_suppliers",
    "multimodal_decode_real", "order_price_quartiles",
]


def _ordered(d: dict) -> dict:
    head = {k: d[k] for k in _PRIORITY if k in d}
    return {**head, **{k: v for k, v in d.items() if k not in head}}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(dict(registry.QUERIES))


def oracle_sql() -> dict[str, str]:
    return _ordered(dict(registry.ORACLES))
