"""Continuous aggregates: a matview refreshed once per microbatch
(round 9). streaming/events.py:run_continuous_aggregate lands each
microbatch as a generation of a raw store and advances the view via
the delta-only refresh.

Pinned here: every post-create refresh consumes exactly one batch's
files and one generation step; after N batches the view — including
the distinct count, whose values repeat across batches — equals the
full batch aggregate; and the exported query hash-matches its
full-table oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_indexing_spark.operators.matview import read_matview
from map_reduce_indexing_spark.sources.generations import generation_head
from map_reduce_indexing_spark.streaming.events import (
    run_continuous_aggregate,
)


def test_per_batch_refresh_lands_on_full_answer(spark, tmp_path):
    src = str(tmp_path / "src")
    store, view = str(tmp_path / "store"), str(tmp_path / "view")
    df = spark.range(300).select(
        F.col("id").alias("rid"),
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") % 40).alias("u"),  # users repeat across batches
        F.col("id").alias("v"),
    )
    df.repartition(3, "rid").write.parquet(src)

    reports = run_continuous_aggregate(
        spark,
        src,
        store,
        view,
        ["k"],
        {
            "n": ("count", "*"),
            "s": ("sum", "v"),
            "du": ("count_distinct", "u"),
        },
        row_keys=["rid"],
        schema=df.schema,
        checkpoint=str(tmp_path / "ckpt"),
    )
    assert len(reports) == 3  # one per microbatch (maxFilesPerTrigger=1)
    assert all(r["refreshed"] for r in reports)
    # each post-create refresh: exactly one generation step, delta files only
    for r in reports[1:]:
        assert r["to"] == r["from"] + 1
        assert 1 <= r["delta_files"] <= 2
    assert generation_head(store) == 3

    got = sorted(
        (r.k, r.n, r.s, r.du) for r in read_matview(spark, view).collect()
    )
    want = sorted(
        (r.k, r.n, r.s, r.du)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.count_distinct("u").alias("du"),
        )
        .collect()
    )
    assert got == want


def test_exported_continuous_agg_matches_oracle(spark, duck):
    from map_reduce_indexing_spark.plans.registry import get
    from map_reduce_indexing_spark.streaming.events import (
        q_stream_continuous_agg,
    )

    from .conftest import SF_DIR, assert_df_matches_oracle

    assert_df_matches_oracle(
        q_stream_continuous_agg(spark, SF_DIR),
        duck,
        get("stream_continuous_agg").oracle,
    )


def test_continuous_join_aggregate_per_batch(spark, tmp_path):
    """The streaming half of the fact-join-dims dashboard (round 10):
    microbatches land as fact generations and a JOIN matview refreshes
    per batch via the telescoping delta — each post-create refresh is
    fact-delta-only while the dim holds still, a dim append between
    batches backfills, and the served view equals the full join
    recompute after every batch."""
    import os

    from pyspark.sql import functions as F

    from map_reduce_indexing_spark.operators.matview import read_matview
    from map_reduce_indexing_spark.sources.generations import (
        publish_generation,
        read_generation,
    )
    from map_reduce_indexing_spark.streaming.events import (
        run_continuous_aggregate,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    dim = str(tmp_path / "dim")
    view = str(tmp_path / "view")
    os.makedirs(src)
    schema = "rid long, k long, v long"

    def land(i, rows):
        d = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        part = next(
            f for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        os.rename(os.path.join(d, part), os.path.join(src, f"{i:03d}.parquet"))

    land(0, [(i, i % 3, i * 10) for i in range(12)])
    land(1, [(100 + i, i % 3, 7) for i in range(9)])
    spark.createDataFrame(
        [(0, "g0"), (1, "g1")], "k long, grp string"
    ).coalesce(1).write.parquet(dim)
    publish_generation(dim)

    reports = run_continuous_aggregate(
        spark,
        src,
        store,
        view,
        ["grp"],
        {"n": ("count", "*"), "total": ("sum", "v")},
        row_keys=["rid"],
        checkpoint=str(tmp_path / "ckpt"),
        schema=spark.createDataFrame([], schema).schema,
        dims=[{"path": dim, "on": ["k"], "select": ["grp"]}],
    )
    assert all(r["refreshed"] for r in reports)
    assert reports[1]["mode"] == "incremental"
    assert reports[1]["delta_files"] == 1  # fact-delta-only

    def full():
        f = read_generation(spark, store)
        d = read_generation(spark, dim)
        return sorted(
            tuple(r)
            for r in f.join(d, "k").groupBy("grp").agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
            ).collect()
        )

    def served():
        return sorted(
            tuple(r)
            for r in read_matview(spark, view)
            .select("grp", "n", "total").collect()
        )

    assert served() == full()
    # a dim append between streaming runs backfills k=2's fact rows
    spark.createDataFrame(
        [(2, "g2")], "k long, grp string"
    ).coalesce(1).write.mode("append").parquet(dim)
    publish_generation(dim)
    land(2, [(200 + i, i % 3, 1) for i in range(6)])
    reports2 = run_continuous_aggregate(
        spark,
        src,
        store,
        view,
        ["grp"],
        {"n": ("count", "*"), "total": ("sum", "v")},
        row_keys=["rid"],
        checkpoint=str(tmp_path / "ckpt"),
        schema=spark.createDataFrame([], schema).schema,
        dims=[{"path": dim, "on": ["k"], "select": ["grp"]}],
    )
    assert reports2 and reports2[-1]["mode"] == "incremental"
    assert served() == full()
    assert "g2" in {t[0] for t in served()}


def test_microbatch_after_stranded_swap_keeps_prior_rows(spark, tmp_path):
    """A swap stranded between its two renames (the store sits at
    `<store>.old`) is healed by the next microbatch's sink before it
    appends: the store keeps every prior row instead of restarting
    with only the new batch, and the view lands on the full answer."""
    import os

    from map_reduce_indexing_spark.sources.generations import read_generation

    src = str(tmp_path / "src")
    store, view = str(tmp_path / "store"), str(tmp_path / "view")
    os.makedirs(src)
    schema = "rid long, k long, v long"

    def land(i, rows):
        d = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        part = next(
            f for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        os.rename(os.path.join(d, part), os.path.join(src, f"{i:03d}.parquet"))

    def run():
        return run_continuous_aggregate(
            spark,
            src,
            store,
            view,
            ["k"],
            {"n": ("count", "*"), "s": ("sum", "v")},
            row_keys=["rid"],
            schema=spark.createDataFrame([], schema).schema,
            checkpoint=str(tmp_path / "ckpt"),
        )

    land(0, [(i, i % 2, i) for i in range(10)])
    land(1, [(10 + i, i % 2, i) for i in range(6)])
    run()
    os.replace(store, store + ".old")  # the stranded swap
    land(2, [(20 + i, i % 2, 100) for i in range(4)])
    run()

    assert not os.path.exists(store + ".old")
    assert sorted(r.rid for r in read_generation(spark, store).collect()) == (
        list(range(16)) + list(range(20, 24))
    )
    got = sorted((r.k, r.n, r.s) for r in read_matview(spark, view).collect())
    assert got == [(0, 10, 226), (1, 10, 234)]
