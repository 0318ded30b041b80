"""Change-feed subscription over stores (round 13): resume from a
manifest bookmark, one destination generation per consumed source
generation, exactly-once across crash/restart, delta-sized scans.
Runs under both IO backends."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from map_reduce_indexing_spark.sources.changefeed import (
    feed_bookmark,
    read_changes_stream,
    run_changes_feed,
)
from map_reduce_indexing_spark.sources.generations import (
    append_rows,
    delete_rows_dv,
    generation_head,
    load_manifest,
    read_generation,
    rename_columns,
    upsert_rows,
)


@pytest.fixture(autouse=True)
def _both_io_backends(io_backend):
    """Every test here runs under POSIX and object-store CAS."""


def _frame(spark, lo, n):
    return spark.createDataFrame(
        [(lo + i, (lo + i) * 10) for i in range(n)], "id long, v long"
    )


def _changelog(spark, dst):
    return sorted(
        (r.change_type, r.id, r.v, r._src_generation)
        for r in read_generation(spark, dst).collect()
    )


def _build_src(spark, tmp_path) -> str:
    src = str(tmp_path / "src")
    append_rows(spark, src, _frame(spark, 0, 6))            # gen 1
    delete_rows_dv(spark, src, [("id", "<", 2)])            # gen 2
    append_rows(spark, src, _frame(spark, 100, 3))          # gen 3
    upsert_rows(
        spark,
        src,
        spark.createDataFrame([(3, 999)], "id long, v long"),
        ["id"],
    )                                                       # gen 4
    return src


EXPECT = sorted(
    [("insert", i, i * 10, 1) for i in range(6)]
    + [("delete", 0, 0, 2), ("delete", 1, 10, 2)]
    + [("insert", 100 + i, (100 + i) * 10, 3) for i in range(3)]
    + [("update_preimage", 3, 30, 4), ("update_postimage", 3, 999, 4)]
)


def test_feed_drains_every_generation_exactly_once(spark, tmp_path):
    src = _build_src(spark, tmp_path)
    dst = str(tmp_path / "dst")
    rep = run_changes_feed(spark, src, dst, ["id"])
    assert rep["batches"] == 4 and rep["src_to"] == 4
    assert _changelog(spark, dst) == EXPECT
    assert feed_bookmark(dst, src) == 4
    # up to date: a re-run is a no-op (nothing duplicated)
    rep2 = run_changes_feed(spark, src, dst, ["id"])
    assert rep2["batches"] == 0
    assert _changelog(spark, dst) == EXPECT


def test_feed_resumes_mid_stream(spark, tmp_path):
    src = _build_src(spark, tmp_path)
    dst = str(tmp_path / "dst")
    rep = run_changes_feed(spark, src, dst, ["id"], max_batches=2)
    assert rep["batches"] == 2 and feed_bookmark(dst, src) == 2
    rep = run_changes_feed(spark, src, dst, ["id"])
    assert rep["batches"] == 2 and rep["src_to"] == 4
    assert _changelog(spark, dst) == EXPECT


def test_feed_crash_between_append_and_publish_is_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Crash window: batch appended, publish never ran. The redo's
    orphan sweep removes the unpublished files; the replay lands the
    batch exactly once."""
    # the feed publishes through generations.publish_append, which
    # resolves publish_generation in its own module
    import map_reduce_indexing_spark.sources.generations as G

    src = _build_src(spark, tmp_path)
    dst = str(tmp_path / "dst")
    run_changes_feed(spark, src, dst, ["id"], max_batches=1)

    calls = []
    real = G.publish_generation

    def crashing(path, **kw):
        if len(calls) == 0:
            calls.append(1)
            raise RuntimeError("simulated crash before publish")
        return real(path, **kw)

    monkeypatch.setattr(G, "publish_generation", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_changes_feed(spark, src, dst, ["id"])
    assert feed_bookmark(dst, src) == 1  # bookmark unadvanced
    monkeypatch.setattr(G, "publish_generation", real)
    rep = run_changes_feed(spark, src, dst, ["id"])
    assert rep["src_to"] == 4
    assert _changelog(spark, dst) == EXPECT  # no duplicates


def test_feed_advances_over_metadata_only_spans(spark, tmp_path):
    src = str(tmp_path / "src")
    append_rows(spark, src, _frame(spark, 0, 3))
    dst = str(tmp_path / "dst")
    run_changes_feed(spark, src, dst, ["id"])
    rename_columns(spark, src, {"v": "val"})  # metadata-only publish
    rep = run_changes_feed(spark, src, dst, ["id"])
    assert rep["batches"] == 1 and feed_bookmark(dst, src) == 2
    # the rename span contributed no rows, only the bookmark advance
    assert read_generation(spark, dst).count() == 3


def test_feed_pin_survives_retention_churn(spark, tmp_path, monkeypatch):
    """The default source pin (pin_source=True): a slow consumer's
    bookmark generation survives GEN_RETAIN=1 / zero-TTL churn because
    the feed's named tag blocks expiry — the resume is exact, never a
    resync."""
    from map_reduce_indexing_spark.sources import generations as G
    from map_reduce_indexing_spark.sources.changefeed import (
        drop_feed_pin,
        feed_pin_name,
    )
    from map_reduce_indexing_spark.sources.generations import list_tags

    monkeypatch.setattr(G, "GEN_RETAIN", 1)
    monkeypatch.setattr(G, "GEN_TTL_SECONDS", 0.0)
    src = str(tmp_path / "src")
    append_rows(spark, src, _frame(spark, 0, 3))
    dst = str(tmp_path / "dst")
    run_changes_feed(spark, src, dst, ["id"])
    assert list_tags(src)[feed_pin_name(dst)] == 1
    # heavy churn: without the pin, generation 1 would age out
    for lo in (10, 20, 30):
        append_rows(spark, src, _frame(spark, lo, 1))
    retained = sorted(int(k) for k in load_manifest(src)["gens"])
    assert 1 in retained  # the pin held it
    assert 2 not in retained  # the intermediates expired (RETAIN=1)
    rep = run_changes_feed(spark, src, dst, ["id"])
    # the resume is exact — ONE gap-spanning batch (1 -> head], since
    # the generations between the pinned bookmark and the head expired
    assert rep["batches"] == 1 and not rep["resynced"]
    assert read_generation(spark, dst).count() == 6
    got = {
        (r.change_type, r.id)
        for r in read_generation(spark, dst)
        .filter(F.col("_src_generation") == rep["src_to"])
        .collect()
    }
    assert got == {("insert", 10), ("insert", 20), ("insert", 30)}
    assert list_tags(src)[feed_pin_name(dst)] == 4  # pin moved forward
    # unsubscribing releases the generation back to retention
    drop_feed_pin(src, dst)
    assert feed_pin_name(dst) not in list_tags(src)


def test_feed_expired_bookmark_errors_then_resyncs(spark, tmp_path, monkeypatch):
    from map_reduce_indexing_spark.sources import generations as G

    monkeypatch.setattr(G, "GEN_RETAIN", 1)
    monkeypatch.setattr(G, "GEN_TTL_SECONDS", 0.0)
    src = str(tmp_path / "src")
    append_rows(spark, src, _frame(spark, 0, 3))
    dst = str(tmp_path / "dst")
    run_changes_feed(spark, src, dst, ["id"], pin_source=False)
    # churn the source past retention of the bookmark generation
    append_rows(spark, src, _frame(spark, 10, 1))
    append_rows(spark, src, _frame(spark, 20, 1))
    append_rows(spark, src, _frame(spark, 30, 1))
    retained = sorted(int(k) for k in load_manifest(src)["gens"])
    assert 1 not in retained
    with pytest.raises(ValueError, match="aged out"):
        run_changes_feed(spark, src, dst, ["id"], pin_source=False)
    rep = run_changes_feed(
        spark, src, dst, ["id"], on_expired="resync", pin_source=False
    )
    assert rep["resynced"] and rep["batches"] == 1
    # the resync batch is the full head as inserts, flagged in lineage
    m = load_manifest(dst)
    e = m["gens"][str(m["head"])]["changefeed"]
    assert e["resync"] is True
    head_ids = {r.id for r in read_generation(spark, src).collect()}
    resync_rows = read_generation(spark, dst).filter(
        F.col("_src_generation") == rep["src_to"]
    )
    assert {r.id for r in resync_rows.collect()} == head_ids


def test_read_changes_stream_peek_matches_feed(spark, tmp_path):
    src = _build_src(spark, tmp_path)
    df = read_changes_stream(spark, src, since=0, key_cols=("id",))
    got = sorted(
        (r.change_type, r.id, r.v, r._src_generation) for r in df.collect()
    )
    assert got == EXPECT
    # partial window + empty window
    part = read_changes_stream(spark, src, since=2, key_cols=("id",))
    assert sorted(
        (r.change_type, r.id) for r in part.collect()
    ) == sorted(
        [("insert", 100), ("insert", 101), ("insert", 102),
         ("update_preimage", 3), ("update_postimage", 3)]
    )
    head = generation_head(src)
    assert read_changes_stream(spark, src, since=head).count() == 0


def test_feed_transform_reshapes_batches(spark, tmp_path):
    src = _build_src(spark, tmp_path)
    dst = str(tmp_path / "dst")

    def only_deletes(df):
        return df.filter(F.col("change_type") == "delete").select(
            "id", "change_type", "_src_generation"
        )

    run_changes_feed(spark, src, dst, ["id"], transform=only_deletes)
    rows = read_generation(spark, dst).collect()
    assert sorted(r.id for r in rows) == [0, 1]
    assert feed_bookmark(dst, src) == 4


def test_feed_runs_lineage(spark, tmp_path):
    """feed_runs: consumption history from one manifest read — the
    pipeline_runs companion for subscriptions."""
    from map_reduce_indexing_spark.sources.changefeed import feed_runs

    src = _build_src(spark, tmp_path)
    dst = str(tmp_path / "dst")
    run_changes_feed(spark, src, dst, ["id"], max_batches=2)
    run_changes_feed(spark, src, dst, ["id"])
    rows = feed_runs(spark, dst).orderBy("generation").collect()
    assert [(r.since, r.until, r.resync) for r in rows] == [
        (0, 1, False),
        (1, 2, False),
        (2, 3, False),
        (3, 4, False),
    ]
    assert all(r.src == os.path.realpath(src) for r in rows)
