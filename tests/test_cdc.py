"""CDC / warehouse-maintenance operators (operators/cdc.py).

Oracle parity plus the semantic invariants a MERGE/SCD2 implementation
owes: delete rows vanish, inserts carry NULL dimension attributes,
SCD2 intervals tile time with exactly one current version per key, and
the latest-state plan is an aggregation, not a window sort.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_indexing_spark.operators.cdc import MERGE_KEY_STRIDE
from map_reduce_indexing_spark.plans import registry
from tests.conftest import SF_DIR, assert_df_matches_oracle

CDC_QUERIES = [
    "rel_cdc_latest_state",
    "rel_cdc_merge_upsert",
    "rel_cdc_scd2",
    "rel_cdc_asof_snapshot",
    "rel_cdc_incremental_agg",
]


@pytest.mark.parametrize("name", CDC_QUERIES)
def test_cdc_query_matches_oracle(spark, duck, name):
    q = registry.get(name)
    assert_df_matches_oracle(q.fn(spark, SF_DIR), duck, q.oracle)


def test_latest_state_plan_is_aggregation_not_window(spark):
    """The scale contract: compaction is max_by (map-side combinable
    hash agg), never a row_number window (full per-partition sort)."""
    df = registry.get("rel_cdc_latest_state").fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "Aggregate" in plan, plan


def test_merge_upsert_semantics(spark):
    from map_reduce_indexing_spark.sources.tables import load_table

    merged = registry.get("rel_cdc_merge_upsert").fn(spark, SF_DIR)
    latest = registry.get("rel_cdc_latest_state").fn(spark, SF_DIR)
    cust_keys = {
        r["c_custkey"]
        for r in load_table(spark, SF_DIR, "customer").select("c_custkey").collect()
    }
    feed = {
        r["user_id"] * MERGE_KEY_STRIDE: r["last_event_type"]
        for r in latest.collect()
    }
    rows = {r["c_custkey"]: r for r in merged.collect()}

    deleted = {k for k, op in feed.items() if op == "error"}
    inserted = {k for k, op in feed.items() if op != "error" and k not in cust_keys}
    updated = {k for k, op in feed.items() if op != "error" and k in cust_keys}
    assert deleted and inserted and updated  # all branches, at any SF

    # matched deletes vanish; unmatched deletes are no-ops (also absent)
    assert not (deleted & rows.keys())
    for k in inserted:
        assert rows[k]["merge_action"] == "inserted"
        assert rows[k]["c_name"] is None  # MERGE leaves unset columns NULL
    for k in updated:
        assert rows[k]["merge_action"] == "updated"
        # MERGE UPDATE leaves unlisted columns intact — the name survives.
        assert rows[k]["c_name"] is not None
    # pass-through rows: every customer key not touched by the feed
    untouched = rows.keys() - feed.keys()
    assert untouched and all(
        rows[k]["merge_action"] == "unchanged" for k in untouched
    )


def test_scd2_intervals_tile_time(spark):
    scd2 = registry.get("rel_cdc_scd2").fn(spark, SF_DIR).collect()
    by_user: dict[int, list] = {}
    for r in scd2:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for user, rows in by_user.items():
        rows.sort(key=lambda r: r["version"])
        # versions are 1..n dense; exactly one open (current) interval
        assert [r["version"] for r in rows] == list(range(1, len(rows) + 1))
        assert sum(r["is_current"] for r in rows) == 1
        assert rows[-1]["is_current"] and rows[-1]["valid_to"] is None
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"]  # contiguous, no gaps
            assert a["event_type"] != b["event_type"]  # only real changes


def test_scd2_current_agrees_with_latest_state(spark):
    """The open SCD2 interval must carry the same attribute value as the
    compacted latest-state snapshot — two routes to 'state now'."""
    scd2 = registry.get("rel_cdc_scd2").fn(spark, SF_DIR)
    current = {
        r["user_id"]: r["event_type"]
        for r in scd2.filter(F.col("is_current")).collect()
    }
    latest = registry.get("rel_cdc_latest_state").fn(spark, SF_DIR)
    for r in latest.collect():
        assert current[r["user_id"]] == r["last_event_type"]


def test_incremental_agg_scans_delta_not_history(spark):
    """The merge path's non-artifact scan must carry the delta-side
    pushed filter (ts >= cutoff) — i.e. the base history is served by
    the persisted artifact, not rescanned."""
    from map_reduce_indexing_spark.operators.cdc import q_cdc_incremental_agg

    df = q_cdc_incremental_agg(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Exactly one scan of events.parquet (the delta), filtered on ts.
    # NULL-ts rows are routed into the BASE build (cdc.py) so the split
    # partitions the table without widening this pushdown.
    assert plan.count("events.parquet") == 1, plan
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts" in plan, plan
    # And the persisted base artifact is the other scan.
    assert "user_stats_base" in plan, plan


def test_incremental_agg_base_artifact_is_reused(spark):
    from map_reduce_indexing_spark import state
    from map_reduce_indexing_spark.operators.cdc import q_cdc_incremental_agg

    def base_entries():
        return {
            (k, version, path)
            for k, (version, path) in state.entries(
                spark.sparkContext, "artifact"
            ).items()
            if k[0] == "user_stats_base"
        }

    q_cdc_incremental_agg(spark, SF_DIR).count()
    keys_before = base_entries()
    q_cdc_incremental_agg(spark, SF_DIR).count()
    keys_after = base_entries()
    assert keys_before == keys_after and len(keys_after) == 1
