"""Streaming CDC apply into the store tier (round 10).

streaming/events.py:run_cdc_apply — per-microbatch MERGE with
last-writer-wins under order columns, robust to out-of-order delivery
within AND across batches. Pinned: convergence to the global
newest-version-per-key regardless of batch order, stale-update drops
against the store, NULL order values ranking smallest (matching the
oracle's NULLS LAST), per-batch generation publishing, and downstream
matview retraction across the apply spans.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from map_reduce_indexing_spark.sources.generations import (
    generation_head,
    read_generation,
)
from map_reduce_indexing_spark.streaming.events import run_cdc_apply

SCHEMA = "k long, ver long, payload string"


def _apply(spark, tmp_path, batches):
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}.tmpdir")
        )
        # one file per batch, named in order so availableNow picks
        # them up deterministically one per trigger
        d = os.path.join(src, f"b{i}.tmpdir")
        part = next(
            f for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        os.rename(os.path.join(d, part), os.path.join(src, f"{i:03d}.parquet"))
    reports = run_cdc_apply(
        spark,
        src,
        store,
        key_cols=["k"],
        order_cols=["ver"],
        checkpoint=str(tmp_path / "ckpt"),
        schema=spark.createDataFrame([], SCHEMA).schema,
    )
    return store, reports


def _state(spark, store):
    return sorted(
        tuple(r) for r in read_generation(spark, store).collect()
    )


def test_out_of_order_batches_converge(spark, tmp_path):
    """Batch 2 carries OLDER versions than batch 1 for the same keys:
    the stale rows must be dropped against the store, and the final
    state is the global max version per key."""
    store, reports = _apply(
        spark,
        tmp_path,
        [
            [(1, 5, "v5"), (2, 3, "v3")],
            [(1, 9, "v9"), (3, 1, "v1")],   # k=1 advances
            [(1, 7, "stale"), (2, 2, "stale"), (4, 4, "v4")],  # stale k1,k2
        ],
    )
    assert _state(spark, store) == [
        (1, 9, "v9"), (2, 3, "v3"), (3, 1, "v1"), (4, 4, "v4")
    ]
    # one generation per batch (1 initial + 2 merges)
    assert generation_head(store) >= 3
    # the stale-only keys produced no updates in batch 3
    last = reports[-1]
    assert last["inserted_rows"] == 1 and last["updated_rows"] == 0


def test_within_batch_duplicates_keep_newest(spark, tmp_path):
    store, _ = _apply(
        spark,
        tmp_path,
        [[(1, 1, "a"), (1, 3, "c"), (1, 2, "b")]],
    )
    assert _state(spark, store) == [(1, 3, "c")]


def test_null_order_values_rank_smallest(spark, tmp_path):
    """A NULL order value is the OLDEST version (the oracle's NULLS
    LAST): a null-ver row must lose to any real version arriving later
    — and a null-ver candidate must never replace a real one."""
    store, _ = _apply(
        spark,
        tmp_path,
        [
            [(1, None, "null-first"), (2, 5, "real")],
            [(1, 4, "real-beats-null"), (2, None, "null-loses")],
        ],
    )
    assert _state(spark, store) == [
        (1, 4, "real-beats-null"), (2, 5, "real")
    ]


def test_equal_versions_do_not_replace(spark, tmp_path):
    store, _ = _apply(
        spark,
        tmp_path,
        [[(1, 5, "first")], [(1, 5, "same-version")]],
    )
    assert _state(spark, store) == [(1, 5, "first")]


def test_matview_retracts_across_apply_spans(spark, tmp_path):
    from map_reduce_indexing_spark.operators.matview import (
        create_matview,
        read_matview,
        refresh_matview,
    )

    store, _ = _apply(
        spark,
        tmp_path,
        [[(1, 1, "a"), (2, 1, "a"), (3, 1, "b")]],
    )
    view = str(tmp_path / "view")
    create_matview(
        spark, store, view, ["payload"],
        {"n": ("count", "*"), "top_ver": ("sum", "ver")},
        row_keys=["k"],
    )
    # another apply span: k=1 moves a->b (update), k=4 inserts
    src2 = str(tmp_path / "src2")
    os.makedirs(src2)
    spark.createDataFrame(
        [(1, 2, "b"), (4, 1, "a")], SCHEMA
    ).coalesce(1).write.parquet(os.path.join(src2, "d"))
    part = next(
        f for f in os.listdir(os.path.join(src2, "d"))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    os.rename(
        os.path.join(src2, "d", part), os.path.join(src2, "000.parquet")
    )
    run_cdc_apply(
        spark, src2, store, key_cols=["k"], order_cols=["ver"],
        checkpoint=str(tmp_path / "ckpt2"),
        schema=spark.createDataFrame([], SCHEMA).schema,
    )
    report = refresh_matview(spark, view)
    assert report["mode"] == "retract", report
    got = sorted(
        (r.payload, r.n, r.top_ver)
        for r in read_matview(spark, view).collect()
    )
    want = sorted(
        tuple(r)
        for r in read_generation(spark, store)
        .groupBy("payload")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("ver").alias("s"))
        .collect()
    )
    assert got == want


def test_batch_after_stranded_swap_keeps_prior_rows(spark, tmp_path):
    """A swap stranded between its two renames leaves the store at
    `<store>.old` and no live path. The next microbatch must heal it
    before deciding it is the first batch: every prior row survives,
    instead of a fresh store holding only the new batch beside an
    orphaned `.old`."""
    store, _ = _apply(
        spark, tmp_path, [[(1, 1, "a"), (2, 1, "b")], [(3, 1, "c")]]
    )
    os.replace(store, store + ".old")  # the stranded swap
    src = str(tmp_path / "src")
    d = str(tmp_path / "b2.tmpdir")
    spark.createDataFrame([(4, 1, "d"), (1, 2, "a2")], SCHEMA).coalesce(
        1
    ).write.parquet(d)
    part = next(
        f for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    os.rename(os.path.join(d, part), os.path.join(src, "002.parquet"))
    run_cdc_apply(
        spark,
        src,
        store,
        key_cols=["k"],
        order_cols=["ver"],
        checkpoint=str(tmp_path / "ckpt"),
        schema=spark.createDataFrame([], SCHEMA).schema,
    )
    assert not os.path.exists(store + ".old")
    assert _state(spark, store) == [
        (1, 2, "a2"), (2, 1, "b"), (3, 1, "c"), (4, 1, "d")
    ]
