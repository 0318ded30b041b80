"""Change-data-capture / warehouse-maintenance operators over the
``events`` change log (SURVEY.md §2 EXT tier).

The reference engine rebuilds its index from scratch on every run
(client.c:39 — the whole lifecycle is build-then-query); it has no
notion of applying a change feed to existing state. A production
analytics engine needs exactly that: compact a change log to
latest-state, MERGE a batch of changes into a dimension (upsert +
delete), and build SCD2 validity intervals for as-of-time queries.
These are the batch complements of the streaming operators in
streaming/events.py (stream_stateful_user_stats is the continuous
form of cdc_latest_state).

Framing: ``events`` is a CDC feed keyed by ``user_id``; ``ts`` is the
change time, ``event_id`` the unique tie-break, ``event_type`` the
operation hint ('error' == tombstone/delete in the merge query), and
``value`` the payload.

Scale notes (100 TB posture):
  * latest-state uses MAX_BY over a (ts, event_id) struct — a hash
    aggregation with map-side partial combine, NOT a row_number()
    window. A window needs a full sort of every partition's history;
    max_by shuffles one candidate row per (key, map task). At 100 TB
    of history per day this is the difference between a sort-heavy
    stage and a near-flat combine.
  * merge is one shuffle of the (small) compacted feed against the
    dimension; Catalyst broadcasts whichever side is under the
    threshold. Feeds are compacted BEFORE the join so the join key is
    unique on the source side (the MERGE precondition).
  * SCD2 genuinely needs per-key ordering, so it uses window lag/lead
    — but only after a filter to change rows, and the sort key is
    (ts, event_id) within user_id: Spark sorts each key group inside
    a shuffle partition, never globally.

FP determinism: balance arithmetic goes through DECIMAL(18,2) exactly
like relational.py — double + double is engine-order-dependent only
under aggregation, but the decimal discipline keeps every oracle
hash-stable regardless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..plans.registry import register
from ..sources.artifacts import session_artifact_df
from ..sources.tables import load_table

# Merge key = user_id * 13: the fixtures keep |users| = |customers|/10
# at every SF, so a stride-13 spread lands some feed keys inside the
# customer key range (update/delete branch) and some beyond it (insert
# branch) at sf0.001, sf0.01, and sf0.1 alike.
MERGE_KEY_STRIDE = 13


def _latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact the change log to one latest row per user_id.

    max_by over a (ts, event_id) struct: structs compare
    lexicographically, (ts, event_id) is unique, so the result is
    deterministic and the aggregation is map-side combinable.
    """
    ev = load_table(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by(F.col("ts"), ordk).alias("last_ts"),
        F.max_by(F.col("event_type"), ordk).alias("last_event_type"),
        F.max_by(F.col("value"), ordk).alias("last_value"),
        F.count(F.lit(1)).cast("long").alias("n_changes"),
    )


# DuckDB mirror: a row_number window with the same (ts, event_id)
# ordering — equivalent because the tie-break key is unique. The oracle
# is a correctness check, not a scale model, so the window form is fine
# there; the engine side deliberately avoids it (see module docstring).
_LATEST_SQL = """
    SELECT user_id, ts AS last_ts, event_type AS last_event_type,
           value AS last_value, n_changes
    FROM (
        SELECT user_id, ts, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes
        FROM events
    )
    WHERE rn = 1
"""


@register(
    "rel_cdc_latest_state",
    oracle=_LATEST_SQL,
    tier="relational",
    doc="CDC log compaction: latest row per key via map-side-combinable "
    "MAX_BY over a (ts, event_id) struct — no window sort. The batch "
    "form of what Delta/Hudi call snapshot compaction.",
)
def q_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _latest_events(spark, sf_dir)


@register(
    "rel_cdc_merge_upsert",
    oracle=f"""
        WITH latest AS ({_LATEST_SQL}),
        feed AS (
            SELECT user_id * {MERGE_KEY_STRIDE} AS key,
                   last_event_type, last_value
            FROM latest
        )
        SELECT COALESCE(c.c_custkey, f.key) AS c_custkey,
               c.c_name AS c_name,
               CAST(CAST(COALESCE(c.c_acctbal, 0) AS DECIMAL(18,2))
                    + CASE WHEN f.key IS NULL THEN CAST(0 AS DECIMAL(18,2))
                           ELSE CAST(f.last_value AS DECIMAL(18,2)) END
                    AS DOUBLE) AS c_acctbal,
               CASE WHEN f.key IS NULL THEN 'unchanged'
                    WHEN c.c_custkey IS NULL THEN 'inserted'
                    ELSE 'updated' END AS merge_action
        FROM customer c
        FULL OUTER JOIN feed f ON c.c_custkey = f.key
        -- matched + 'error' -> DELETE; unmatched 'error' -> no-op insert
        -- suppressed; IS NULL keeps pass-through customer rows (NULL-safe).
        WHERE f.last_event_type IS NULL OR f.last_event_type <> 'error'
    """,
    tier="relational",
    doc="MERGE INTO semantics via one full-outer join of the compacted "
    "feed against the dimension: matched+feed='error' -> DELETE, "
    "matched -> UPDATE (balance += value), unmatched feed row (unless "
    "a delete-of-absent no-op) -> INSERT, untouched rows pass through. "
    "Feed is compacted first so the merge key is unique on the source "
    "side (the MERGE precondition). One shuffle; Catalyst broadcasts "
    "the smaller side.",
)
def q_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    feed = _latest_events(spark, sf_dir).select(
        (F.col("user_id") * F.lit(MERGE_KEY_STRIDE)).alias("key"),
        "last_event_type",
        "last_value",
    )
    j = cust.join(feed, cust["c_custkey"] == feed["key"], "full_outer")
    dec0 = F.lit(0).cast("decimal(18,2)")
    merged = j.select(
        F.coalesce(F.col("c_custkey"), F.col("key")).alias("c_custkey"),
        # MERGE's UPDATE leaves unlisted columns intact, so updated rows
        # KEEP their name; inserted rows have none (the customer side of
        # the full-outer join is already NULL there).
        F.col("c_name"),
        (
            F.coalesce(F.col("c_acctbal"), F.lit(0)).cast("decimal(18,2)")
            + F.when(F.col("key").isNull(), dec0).otherwise(
                F.col("last_value").cast("decimal(18,2)")
            )
        )
        .cast("double")
        .alias("c_acctbal"),
        F.when(F.col("key").isNull(), F.lit("unchanged"))
        .when(F.col("c_custkey").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("merge_action"),
        F.col("last_event_type").alias("_op"),
    )
    # matched + 'error' -> DELETE; unmatched 'error' -> no-op insert
    # suppressed; NULL _op keeps pass-through customer rows.
    return merged.filter(
        F.col("_op").isNull() | (F.col("_op") != "error")
    ).drop("_op")


@register(
    "rel_cdc_scd2",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, event_id, event_type,
                   lag(event_type) OVER w AS prev_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        changes AS (
            SELECT user_id, ts AS valid_from, event_id, event_type
            FROM ordered
            WHERE prev_type IS NULL OR event_type <> prev_type
        )
        SELECT user_id, event_type, valid_from,
               lead(valid_from) OVER v AS valid_to,
               CAST(row_number() OVER v AS BIGINT) AS version,
               lead(valid_from) OVER v IS NULL AS is_current
        FROM changes
        WINDOW v AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
    tier="relational",
    doc="SCD type-2 build: collapse the change log to rows where the "
    "tracked attribute (event_type) actually changed, then stitch "
    "[valid_from, valid_to) validity intervals with lead(). Two "
    "narrow windows over the same (user_id, time) partitioning — one "
    "shuffle, reused across both window stages.",
)
def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", F.col("ts").alias("valid_from"), "event_id", "event_type")
    )
    # event_id tie-break: two same-microsecond change rows must get a
    # deterministic version order in both engines.
    v = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(v).alias("valid_to"),
        F.row_number().over(v).cast("long").alias("version"),
        F.lead("valid_from").over(v).isNull().alias("is_current"),
    )


@register(
    "rel_cdc_asof_snapshot",
    export=False,  # pytest-verified companion: proves the SCD2 table answers
    # point-in-time lookups consistently with a direct log replay.
    oracle="""
        SELECT user_id, event_type
        FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
            WHERE ts <= TIMESTAMP '2024-01-15'
        )
        WHERE rn = 1
    """,
    tier="relational",
    doc="Point-in-time dimension snapshot FROM the SCD2 intervals "
    "(valid_from <= t < valid_to) — must equal a direct replay of the "
    "log truncated at t. Interval scan beats log replay at scale: it "
    "reads |versions| rows, not |events|.",
)
def q_cdc_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = F.lit("2024-01-15").cast("timestamp")
    scd2 = q_cdc_scd2(spark, sf_dir)
    return scd2.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("user_id", "event_type")


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (materialized view + delta merge)
# ---------------------------------------------------------------------------

# Base/delta split point: everything before the cutoff is the
# "materialized" history, everything at/after is the incoming delta.
INCR_CUTOFF = "2024-01-21 00:00:00"


def _user_stats_agg(ev: DataFrame) -> DataFrame:
    """The mergeable per-user partial: COUNT, exact-decimal SUM, MAX.

    All three are commutative monoids, which is the whole trick —
    merge(agg(base), agg(delta)) == agg(base UNION delta) holds
    per-key with no rescan of base.
    """
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_dec"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "rel_cdc_incremental_agg",
    oracle="""
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               MAX(ts) AS last_ts
        FROM events GROUP BY user_id
    """,
    tier="relational",
    doc="Incremental aggregate maintenance — the materialized-view "
    "pattern: per-user lifetime stats kept as a persisted base "
    "artifact (events before 2024-01-21, built once per session via "
    "session_artifact_df, sources/artifacts.py), then MERGED with the "
    "delta's partial aggregate by key. Count/decimal-sum/max are "
    "mergeable monoids, so the merge provably equals the full "
    "recompute the oracle runs — while scanning only |delta| + "
    "|users| rows instead of |history|. At 100 TB this is the "
    "difference between a daily full-table pass and a delta-sized "
    "one; the same algebra is what stream_stateful_user_stats "
    "applies continuously.",
)
def q_cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit(INCR_CUTOFF).cast("timestamp")

    def build(path: str) -> None:
        # NULL-ts rows fail BOTH `< cutoff` and `>= cutoff`; route them
        # into the BASE so the base/delta split stays a partition of the
        # table (the oracle's plain GROUP BY counts them). They belong
        # here, not in the delta: the base build is the one-time full-
        # history pass (an OR-with-NULL predicate costs nothing on a
        # scan that reads everything anyway), while the delta's
        # `ts >= cutoff` stays a clean parquet pushdown.
        base_ev = load_table(spark, sf_dir, "events").filter(
            (F.col("ts") < cutoff) | F.col("ts").isNull()
        )
        # Plain partitioned write: the frame is GROUP-cardinality-sized
        # (one row per user), which at 100 TB is hundreds of millions
        # of rows — a coalesce(1) here would funnel them through one
        # write task. AQE coalesces genuinely-small outputs on its own.
        _user_stats_agg(base_ev).write.mode("overwrite").parquet(path)

    base = session_artifact_df(
        spark, sf_dir, "user_stats_base", "events.parquet", build
    )
    delta = _user_stats_agg(
        load_table(spark, sf_dir, "events").filter(F.col("ts") >= cutoff)
    )
    merged = (
        base.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_dec").alias("sum_value_dec"),
            F.max("last_ts").alias("last_ts"),
        )
    )
    return merged.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value_dec").cast("double").alias("sum_value"),
        "last_ts",
    )
