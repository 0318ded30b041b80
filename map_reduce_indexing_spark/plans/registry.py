"""Query registry: the bridge between operator modules and the driver.

Every operator from SURVEY.md §2 registers a named query callable
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) the
equivalent DuckDB oracle SQL. ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over this registry.

Oracle-SQL discipline (so the driver's order-insensitive value hash
matches):
- alias every computed column identically on both sides;
- cast DuckDB aggregates explicitly (COUNT -> BIGINT, SUM(decimal) ->
  DOUBLE after rounding) so dtypes line up with Spark;
- make double-typed aggregates deterministic by summing exact decimals
  and rounding once at the end (see operators/relational.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> driver does rows-only check
    tier: str  # 'ref' | 'implied' | 'relational' | 'streaming' | 'llm'
    doc: str = ""
    export: bool = True  # False: pytest-verified variant, not in queries()


_REGISTRY: dict[str, RegisteredQuery] = {}


def register(
    name: str,
    *,
    oracle: str | None = None,
    tier: str,
    doc: str = "",
    export: bool = True,
):
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = RegisteredQuery(name, fn, oracle, tier, doc, export)
        return fn

    return deco


# The external verifier checks the FIRST 50 entries of queries() in order,
# so this window covers every operator tier — indexing, search,
# relational, as-of, dedup, ANN, text analysis, multimodal, lakehouse
# and streaming. Rotation rule: a query leaves the window after several
# stable rounds only when another window query (or a stricter consumer
# of the same machinery) keeps its semantics externally checked, and its
# slot goes to a query that was never external before. Everything after
# slot 50 is still oracle-checked locally (pytest and
# tools/check_contract.py); the rotation history is in git and the
# VERDICT files.
PRIORITY_WINDOW = [
    "index_postings",
    "index_corpus_stats",
    "index_letter_histogram",
    "search_term_lookup",
    "search_topk_per_term",
    "rel_partition_evolution",
    "rel_q1_pricing_summary",
    "rel_delete_dv",
    "rel_join_asof",
    "rel_snapshot_pruned_scan",
    "rel_expectations_readmit",
    "rel_profile_drift",
    "rel_matview_refresh",
    "rel_matview_rollup_route",
    "rel_generation_changes",
    "rel_generation_diff_scan",
    "rel_metadata_count",
    "rel_matview_join_refresh",
    "rel_delete_rows",
    "rel_upsert_rows",
    "rel_expectations_quarantine",
    "rel_matview_hist_quantile",
    "rel_drop_columns",
    "rel_bloom_point_lookup",
    "rel_schema_evolution",
    "rel_pagerank_trade",
    "rel_store_sql_travel",
    "rel_bucketed_join_agg",
    "rel_triangles_trade",
    "rel_concurrent_append",
    "dedup_jaccard_prefix_pairs",
    "dedup_lsh_recall_eval",
    "dedup_cluster_keep_best",
    "ann_filtered_topk",
    "dedup_incremental_lsh_pairs",
    "stream_gated_ingest",
    "ann_ivf_pq_topk",
    "ann_kmeans_train_k64",
    "rel_store_maintenance",
    "stream_continuous_agg",
    "stream_funnel",
    "text_decontaminate",
    "text_incremental_pipeline",
    "text_classifier_train",
    "text_bpe_merges",
    "rel_schema_rename",
    "multimodal_audio_meta",
    "stream_autocompact_ingest",
    "stream_store_cdf",
    "stream_heavy_hitters",
]


def _ensure_loaded() -> None:
    # Import operator modules for their registration side effects.
    from .. import operators  # noqa: F401
    from .. import streaming  # noqa: F401


def get(name: str) -> RegisteredQuery:
    _ensure_loaded()
    return _REGISTRY[name]


def _exported_ordered() -> dict[str, RegisteredQuery]:
    """Exported queries, priority window first, then registration order."""
    _ensure_loaded()
    exported = {n: q for n, q in _REGISTRY.items() if q.export}
    missing = [n for n in PRIORITY_WINDOW if n not in exported]
    if missing:
        raise RuntimeError(f"PRIORITY_WINDOW names not registered/exported: {missing}")
    tail = [n for n in exported if n not in set(PRIORITY_WINDOW)]
    return {n: exported[n] for n in [*PRIORITY_WINDOW, *tail]}


def all_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in _exported_ordered().items()}


def all_oracles() -> dict[str, str]:
    return {
        name: q.oracle
        for name, q in _exported_ordered().items()
        if q.oracle is not None
    }
