"""The lakehouse tier's pieces composed under one lifecycle (round 10,
VERDICT r9 #7): streaming appends publishing generations, a JOIN
matview refreshing per microbatch, a concurrent pinned reader on a
savepoint, then a compaction and a row-level DELETE — every invariant
asserted at once:

- pinned reads stable across every later mutation,
- view == full recompute after every refresh (incremental AND the
  rebuild paths a compaction/delete force),
- the change feed between the savepoint and the final head is complete
  and correct,
- rollup routing still answers from the final view's partials.

The individual pieces are proven in their own test files; this is the
composition-under-interleaving risk in one scenario.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import functions as F

from map_reduce_indexing_spark.operators.matview import (
    create_matview_join,
    read_matview,
    refresh_matview,
    rollup_matview,
)
from map_reduce_indexing_spark.sources import commitio
from map_reduce_indexing_spark.sources.artifacts import compact_artifact
from map_reduce_indexing_spark.sources.generations import (
    create_savepoint,
    delete_rows,
    ensure_base_generation,
    generation_changes,
    publish_generation,
    read_generation,
)


def _events(spark, lo: int, n: int):
    return spark.createDataFrame(
        [
            (lo + i, (lo + i) % 6, f"u{(lo + i) % 4}", (lo + i) * 5)
            for i in range(n)
        ],
        "event_id long, item long, user string, amount long",
    )


def _items(spark, keys):
    return spark.createDataFrame(
        [(k, f"cat{k % 2}") for k in keys], "item long, cat string"
    )


def _expected(spark, fact: str, dim: str):
    f = read_generation(spark, fact)
    d = read_generation(spark, dim)
    return sorted(
        tuple(r)
        for r in f.join(d, on="item", how="inner")
        .groupBy("cat")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount").alias("total"),
            F.count_distinct("user").alias("d_users"),
        )
        .collect()
    )


def _served(spark, view: str):
    return sorted(
        tuple(r)
        for r in read_matview(spark, view)
        .select("cat", "n", "total", "d_users")
        .collect()
    )


def test_full_lifecycle_composition(spark, tmp_path):
    t_start = time.monotonic()
    fact = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    view = str(tmp_path / "view")

    # --- bootstrap: fact batch 0 + a partial dim, view created
    _events(spark, 0, 24).coalesce(2).write.parquet(fact)
    publish_generation(fact)
    _items(spark, [0, 1, 2, 3]).coalesce(1).write.parquet(dim)
    publish_generation(dim)
    create_matview_join(
        spark, view, fact,
        [{"path": dim, "on": ["item"], "select": ["cat"]}],
        ["cat"],
        {
            "n": ("count", "*"),
            "total": ("sum", "amount"),
            "d_users": ("count_distinct", "user"),
        },
    )
    assert _served(spark, view) == _expected(spark, fact, dim)

    # --- savepoint: a training reader pins BOTH stores by one name
    create_savepoint([fact, dim], "train-r10")
    pinned_fact = sorted(
        tuple(r)
        for r in read_generation(spark, fact, at="train-r10").collect()
    )
    pinned_join = _expected(spark, fact, dim)  # == state at the pin

    # a concurrent reader loops over the savepoint while writers churn;
    # every read must serve the identical snapshot
    stop = threading.Event()
    mismatches: list[str] = []

    def pinned_reader():
        while not stop.is_set():
            got = sorted(
                tuple(r)
                for r in read_generation(
                    spark, fact, at="train-r10"
                ).collect()
            )
            if got != pinned_fact:
                mismatches.append("pinned read drifted")
                return

    reader = threading.Thread(target=pinned_reader)
    reader.start()
    try:
        # --- "microbatches": three append+publish+refresh rounds, one
        # of which also appends the dim's missing keys (backfill term)
        for step, lo in enumerate((100, 200, 300)):
            with commitio.IO.writer_lock(fact):
                ensure_base_generation(fact)
                _events(spark, lo, 12).coalesce(1).write.mode(
                    "append"
                ).parquet(fact)
                publish_generation(fact)
            if step == 1:
                with commitio.IO.writer_lock(dim):
                    _items(spark, [4, 5]).coalesce(1).write.mode(
                        "append"
                    ).parquet(dim)
                    publish_generation(dim)
            report = refresh_matview(spark, view)
            assert report["mode"] == "incremental", report
            assert _served(spark, view) == _expected(spark, fact, dim)

        # --- compaction: rewrite the fact store (file-merge re-layout)
        compact_artifact(
            spark,
            fact,
            lambda df, staging: df.coalesce(1)
            .write.mode("overwrite")
            .parquet(staging),
        )
        report = refresh_matview(spark, view)
        assert report["mode"] == "rebuild", report
        assert _served(spark, view) == _expected(spark, fact, dim)

        # --- delete: retention erasure on the fact. The predicate
        # targets rows that existed AT the savepoint (amount <= 20 →
        # event_ids 0..4): a row inserted and deleted within the span
        # would correctly be absent from a two-snapshot change feed,
        # so deleting pre-pin rows is what makes the CDF's delete
        # branch observable below.
        dreport = delete_rows(spark, fact, [("amount", "<=", 20)])
        assert dreport["deleted_rows"] > 0
        report = refresh_matview(spark, view)
        assert report["mode"] == "rebuild", report
        assert _served(spark, view) == _expected(spark, fact, dim)
    finally:
        stop.set()
        reader.join()
    assert mismatches == []

    # --- the savepoint STILL serves the pre-churn snapshot (tags block
    # retention through appends, a compaction, and a delete)
    got = sorted(
        tuple(r)
        for r in read_generation(spark, fact, at="train-r10").collect()
    )
    assert got == pinned_fact
    assert _expected_at_savepoint(spark, fact, dim) == pinned_join

    # --- the change feed from the savepoint to head is complete:
    # replaying it over the pinned snapshot reproduces head exactly
    ch = generation_changes(
        spark, fact, since="train-r10", key_cols=("event_id",)
    )
    by_type = {
        r.change_type: r.n
        for r in ch.groupBy("change_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert by_type.get("insert", 0) > 0  # the appended batches
    assert by_type.get("delete", 0) > 0  # the erased rows
    pinned_ids = {t[0] for t in pinned_fact}
    head_ids = {
        r.event_id for r in read_generation(spark, fact).collect()
    }
    inserted = {
        r.event_id for r in ch.filter(F.col("change_type") == "insert")
        .collect()
    }
    deleted = {
        r.event_id for r in ch.filter(F.col("change_type") == "delete")
        .collect()
    }
    assert (pinned_ids | inserted) - deleted == head_ids

    # --- rollup routing still answers the global grain from partials
    (r,) = rollup_matview(spark, view, []).collect()
    f = read_generation(spark, fact)
    d = read_generation(spark, dim)
    (want,) = (
        f.join(d, on="item", how="inner")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount").alias("total"),
            F.count_distinct("user").alias("d_users"),
        )
        .collect()
    )
    assert (r.n, r.total, r.d_users) == tuple(want)

    # SCALING.md wall-clock record (printed under pytest -s)
    print(f"lifecycle wall: {time.monotonic() - t_start:.1f}s")


def _expected_at_savepoint(spark, fact: str, dim: str):
    f = read_generation(spark, fact, at="train-r10")
    d = read_generation(spark, dim, at="train-r10")
    return sorted(
        tuple(r)
        for r in f.join(d, on="item", how="inner")
        .groupBy("cat")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount").alias("total"),
            F.count_distinct("user").alias("d_users"),
        )
        .collect()
    )


def test_third_wave_composition(spark, tmp_path):
    """The round-10 third wave composed end-to-end: a GATED bronze
    store (dirty batches split at admission), an incremental PIPELINE
    promoting bronze to silver with its own gate, a HISTOGRAM matview
    over silver, then a predicate DELETE on silver retracting the
    bins — asserting at every step that the maintained state equals a
    from-scratch recompute and the audits/bookmarks are consistent."""
    from map_reduce_indexing_spark.sources.expectations import (
        append_with_expectations,
        expectation_audit,
        read_quarantine,
    )
    from map_reduce_indexing_spark.sources.pipeline import (
        pipeline_bookmark,
        run_incremental_pipeline,
    )
    from map_reduce_indexing_spark.operators.matview import (
        create_matview,
        hist_quantile,
    )

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    view = str(tmp_path / "view")
    gate = {"amount_cap": [("amount", "<=", 400)]}

    # two gated bronze ingests (second batch has violations)
    append_with_expectations(
        spark, bronze, _events(spark, 0, 50), gate, mode="quarantine"
    )
    append_with_expectations(
        spark, bronze, _events(spark, 50, 50), gate, mode="quarantine"
    )
    n_bronze = read_generation(spark, bronze).count()
    n_quar = read_quarantine(spark, bronze).count()
    assert n_bronze + n_quar == 100
    assert expectation_audit(bronze)["rows_in"] == 50

    # promote bronze -> silver incrementally, with a promotion gate
    promote = lambda df: df.withColumn(
        "amount2", (F.col("amount") * 2).cast("long")
    )
    sgate = {"even_user": [("user", "in", ["u0", "u2"])]}
    run_incremental_pipeline(
        spark, bronze, silver, promote, expectations=sgate
    )
    assert pipeline_bookmark(silver, bronze) == 2
    silver_df = read_generation(spark, silver)
    expected_silver = (
        promote(read_generation(spark, bronze))
        .filter(F.col("user").isin("u0", "u2"))
    )
    assert sorted(map(tuple, silver_df.collect())) == sorted(
        map(tuple, expected_silver.collect())
    )

    # histogram view over silver
    create_matview(
        spark,
        silver,
        view,
        ["user"],
        {"n": ("count", "*"), "h": ("hist:0:800:8", "amount2")},
        row_keys=["event_id"],
    )

    def direct_hist():
        df = read_generation(spark, silver)
        idx = (
            F.when(F.col("amount2") < 0, F.lit(0))
            .when(F.col("amount2") >= 800, F.lit(9))
            .otherwise(
                F.least(F.floor(F.col("amount2") / 100), F.lit(7)) + 1
            )
        )
        out = {}
        for r in (
            df.groupBy("user", idx.alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ):
            out.setdefault(r.user, [0] * 10)[int(r.b)] = r.n
        return out

    served = lambda: {
        r.user: list(r.h) for r in read_matview(spark, view).collect()
    }
    assert served() == direct_hist()

    # a third bronze ingest flows bronze -> silver -> view
    append_with_expectations(
        spark, bronze, _events(spark, 100, 30), gate, mode="quarantine"
    )
    rep = run_incremental_pipeline(
        spark, bronze, silver, promote, expectations=sgate
    )
    assert rep["mode"] == "append" and rep["src_from"] == 2
    rep = refresh_matview(spark, view)
    assert rep["mode"] == "incremental"
    assert served() == direct_hist()

    # predicate DELETE on silver: the pipeline sees a rewrite span
    # (rebuild), the view retracts — both exact
    delete_rows(spark, silver, [("amount2", "between", (100, 300))])
    rep = refresh_matview(spark, view)
    assert rep["mode"] == "retract"
    assert served() == direct_hist()

    # quantiles still serve from the maintained bins
    q = hist_quantile(
        read_matview(spark, view), "h", "hist:0:800:8", ["user"], [0.5]
    )
    assert q.count() == len(served())
