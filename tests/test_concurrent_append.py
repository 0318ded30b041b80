"""Optimistic concurrent appends (round 11, VERDICT task 3).

generations.append_rows under the CAS backend: two writers appending
to ONE store run lock-free through the conditional manifest put and
BOTH land — no files lost, no rows doubled, CDF complete. The
conflict matrix: append/append composes via CAS retry;
append/rewrite — the rewrite's exclusive lease drains shared append
leases and the CAS-validated swap refuses to erase an interleaved
publish; rewrite/rewrite serialize. Under the POSIX backend the verb
degrades to the classic locked append (same results, writers queue).
"""

from __future__ import annotations

import threading

import pytest

from map_reduce_indexing_spark.sources.commitio import (
    CASStoreIO,
    using_backend,
)
from map_reduce_indexing_spark.sources.generations import (
    append_rows,
    generation_changes,
    generation_head,
    load_manifest,
    optimize_store,
    publish_generation,
    read_generation,
)


def _frame(spark, lo, n, tag):
    return spark.createDataFrame(
        [(lo + i, tag, (lo + i) % 7) for i in range(n)],
        "id long, src string, k long",
    )


def _ids(spark, path, at=None):
    return sorted(
        r.id for r in read_generation(spark, path, at=at).select("id").collect()
    )


def test_concurrent_appends_both_land_lock_free(spark, tmp_path):
    with using_backend(CASStoreIO()):
        path = str(tmp_path / "store")
        results: dict[str, int] = {}
        barrier = threading.Barrier(2)
        errors: list[Exception] = []

        def writer(tag: str, lo: int):
            try:
                df = _frame(spark, lo, 40, tag)
                barrier.wait()
                results[tag] = append_rows(spark, path, df)
            except Exception as e:  # surfaced by the assert below
                errors.append(e)

        ta = threading.Thread(target=writer, args=("a", 0))
        tb = threading.Thread(target=writer, args=("b", 1000))
        ta.start(); tb.start(); ta.join(); tb.join()
        assert not errors, errors
        # both landed as distinct generations
        assert sorted(results.values()) != [results["a"], results["a"]]
        assert generation_head(path) == max(results.values())
        # every row exactly once
        assert _ids(spark, path) == sorted(
            list(range(40)) + list(range(1000, 1040))
        )
        # no files lost: the head listing covers both writers' files
        m = load_manifest(path)
        head_files = m["gens"][str(m["head"])]["files"]
        assert len(head_files) >= 2
        # CDF complete: first generation plus the inserts of the
        # first->head span cover all 80 rows exactly
        changes = generation_changes(
            spark,
            path,
            min(results.values()),
            max(results.values()),
            key_cols=["id"],
        )
        inserted = changes.filter("change_type = 'insert'")
        base = read_generation(spark, path, at=min(results.values()))
        assert base.count() + inserted.count() == 80
        assert changes.filter("change_type != 'insert'").count() == 0


def test_many_concurrent_appenders(spark, tmp_path):
    """Four appenders racing: all four generations land, the final
    store is the exact union."""
    with using_backend(CASStoreIO()):
        path = str(tmp_path / "store")
        barrier = threading.Barrier(4)
        errors: list[Exception] = []

        def writer(lo: int):
            try:
                df = _frame(spark, lo, 10, f"w{lo}")
                barrier.wait()
                append_rows(spark, path, df)
            except Exception as e:
                errors.append(e)

        threads = [
            threading.Thread(target=writer, args=(lo,))
            for lo in (0, 100, 200, 300)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert generation_head(path) == 4
        expect = sorted(
            i + lo for lo in (0, 100, 200, 300) for i in range(10)
        )
        assert _ids(spark, path) == expect


def test_append_during_rewrite_neither_loses(spark, tmp_path):
    """append/rewrite interleaving: the appender and a compacting
    rewriter race; the exclusive lease drains the shared lease (or the
    appender waits), and whichever order lands, the final head has the
    base rows (compacted) plus the appended batch — nothing erased by
    the swap."""
    with using_backend(CASStoreIO()):
        path = str(tmp_path / "store")
        _frame(spark, 0, 60, "base").repartition(6).write.parquet(path)
        publish_generation(path)
        barrier = threading.Barrier(2)
        errors: list[Exception] = []

        def appender():
            try:
                df = _frame(spark, 5000, 20, "late")
                barrier.wait()
                append_rows(spark, path, df)
            except Exception as e:
                errors.append(e)

        def rewriter():
            try:
                barrier.wait()
                optimize_store(spark, path, ["id"], n_files=2)
            except Exception as e:
                errors.append(e)

        ta = threading.Thread(target=appender)
        tb = threading.Thread(target=rewriter)
        ta.start(); tb.start(); ta.join(); tb.join()
        assert not errors, errors
        assert _ids(spark, path) == sorted(
            list(range(60)) + list(range(5000, 5020))
        )


def test_posix_backend_appends_still_serialize_correctly(spark, tmp_path):
    """The same verb under the POSIX backend: writers queue on the
    flock, results identical."""
    path = str(tmp_path / "store")
    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def writer(tag, lo):
        try:
            df = _frame(spark, lo, 15, tag)
            barrier.wait()
            append_rows(spark, path, df)
        except Exception as e:
            errors.append(e)

    ta = threading.Thread(target=writer, args=("a", 0))
    tb = threading.Thread(target=writer, args=("b", 500))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errors, errors
    assert generation_head(path) == 2
    assert _ids(spark, path) == sorted(list(range(15)) + list(range(500, 515)))


def test_crashed_placement_never_becomes_phantom_rows(spark, tmp_path):
    """A writer that crashed after PLACING files but before publishing
    must not leak those rows into anyone else's generation: listings
    are precise (head + the publisher's own files), so the residue is
    invisible to every read, the crashed writer's retry lands its
    batch exactly once, and vacuum_store reclaims the orphans."""
    import os
    import time

    from map_reduce_indexing_spark.sources.generations import vacuum_store

    with using_backend(CASStoreIO()):
        path = str(tmp_path / "store")
        append_rows(spark, path, _frame(spark, 0, 20, "base"))
        # simulate the crash residue: files placed, publish never ran
        residue_src = str(tmp_path / "residue")
        _frame(spark, 9000, 10, "crashed").coalesce(1).write.parquet(
            residue_src
        )
        placed = []
        for f in os.listdir(residue_src):
            if f.startswith(("_", ".")):
                continue
            dst = os.path.join(path, f"crashed-{f}")
            os.rename(os.path.join(residue_src, f), dst)
            placed.append(dst)

        # another writer publishes: its generation must NOT contain
        # the crashed writer's rows
        append_rows(spark, path, _frame(spark, 100, 5, "later"))
        assert _ids(spark, path) == sorted(
            list(range(20)) + list(range(100, 105))
        )

        # the crashed writer retries (fresh append_rows of its batch):
        # the rows land exactly once
        append_rows(spark, path, _frame(spark, 9000, 10, "crashed"))
        assert _ids(spark, path) == sorted(
            list(range(20)) + list(range(100, 105)) + list(range(9000, 9010))
        )

        # vacuum reclaims the orphan files (age the residue past grace)
        old = time.time() - 100
        for p in placed:
            os.utime(p, (old, old))
        rep = vacuum_store(path, grace_seconds=50)
        assert rep["data_files"] == len(placed)
        assert not any(os.path.exists(p) for p in placed)
        # nothing reachable was touched
        assert _ids(spark, path) == sorted(
            list(range(20)) + list(range(100, 105)) + list(range(9000, 9010))
        )


def test_vacuum_keeps_everything_reachable(spark, tmp_path):
    """vacuum with zero garbage removes nothing, pinned reads stay
    byte-stable, and fresh residue inside the grace window survives."""
    import os
    import time

    from map_reduce_indexing_spark.sources.generations import (
        tag_generation,
        vacuum_store,
    )

    path = str(tmp_path / "store")
    append_rows(spark, path, _frame(spark, 0, 30, "a"))
    tag_generation(path, "pin")
    append_rows(spark, path, _frame(spark, 100, 10, "b"))
    pinned = _ids(spark, path, at="pin")
    rep = vacuum_store(path, grace_seconds=0)
    assert rep == {
        "data_files": 0,
        "snapshot_dirs": 0,
        "bloom_sidecars": 0,
        "dv_sidecars": 0,
        "temp_files": 0,
    }
    # fresh residue inside the grace window is NOT reclaimed
    orphan = os.path.join(path, "fresh-orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"x")
    rep = vacuum_store(path, grace_seconds=3600)
    assert rep["data_files"] == 0 and os.path.exists(orphan)
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    rep = vacuum_store(path, grace_seconds=3600)
    assert rep["data_files"] == 1 and not os.path.exists(orphan)
    assert _ids(spark, path, at="pin") == pinned


def test_concurrent_gated_appends_compose(spark, tmp_path):
    """append_rows(expectations=...): the gate composes with the
    optimistic append — two GATED writers race lock-free, admitted
    rows land exactly once in the store, each batch's rejects land
    tagged in the quarantine sibling (itself appended optimistically),
    and each generation entry carries its own audit."""
    from map_reduce_indexing_spark.sources.expectations import (
        read_quarantine,
    )

    with using_backend(CASStoreIO()):
        path = str(tmp_path / "store")
        exp = {"k_cap": [("k", "<=", 3)]}  # k in 0..6 -> 4/7 pass
        barrier = threading.Barrier(2)
        errors: list[Exception] = []

        def writer(tag, lo):
            try:
                df = _frame(spark, lo, 35, tag)
                barrier.wait()
                append_rows(spark, path, df, expectations=exp)
            except Exception as e:
                errors.append(e)

        ta = threading.Thread(target=writer, args=("a", 0))
        tb = threading.Thread(target=writer, args=("b", 700))
        ta.start(); tb.start(); ta.join(); tb.join()
        assert not errors, errors

        def expect_ids(lo):
            return [lo + i for i in range(35) if (lo + i) % 7 <= 3]

        assert _ids(spark, path) == sorted(expect_ids(0) + expect_ids(700))
        q = read_quarantine(spark, path)
        q_ids = sorted(r.id for r in q.select("id").collect())
        assert q_ids == sorted(
            [i for i in range(35) if i % 7 > 3]
            + [700 + i for i in range(35) if (700 + i) % 7 > 3]
        )
        assert {r._violations for r in q.collect()} == {"k_cap"}
        # both generations carry their own audit
        m = load_manifest(path)
        audits = [
            g["expectations"]
            for g in m["gens"].values()
            if "expectations" in g
        ]
        assert len(audits) == 2
        assert all(a["rows_in"] == 35 for a in audits)
        assert sum(a["rows_quarantined"] for a in audits) == len(q_ids)


def test_gated_append_fail_mode_writes_nothing(spark, tmp_path):
    with using_backend(CASStoreIO()):
        import os

        from map_reduce_indexing_spark.sources.expectations import (
            ExpectationError,
        )

        path = str(tmp_path / "store")
        with pytest.raises(ExpectationError):
            append_rows(
                spark,
                path,
                _frame(spark, 0, 10, "x"),
                expectations={"k_cap": [("k", "<=", 3)]},
                expect_mode="fail",
            )
        assert load_manifest(path) is None
        assert not os.path.exists(path + ".quarantine")


@pytest.mark.parametrize("cas", [False, True])
def test_layout_guard_holds_under_append_race(spark, tmp_path, monkeypatch, cas):
    """r12 advice (low): the layout/schema guards validated a manifest
    read BEFORE exclusion — a concurrent append that landed a
    different partition layout in that window must make this append
    REFUSE under the lock / CAS retry, not publish the mixed-layout
    store the guard exists to prevent. The hook injects the
    conflicting writer exactly between this writer's pre-check and
    its publish."""
    import contextlib

    from map_reduce_indexing_spark.sources import commitio as C

    ctx = using_backend(CASStoreIO()) if cas else contextlib.nullcontext()
    with ctx:
        path = str(tmp_path / "store")
        flat = spark.createDataFrame([(1, "a")], "id long, k string")
        part = spark.createDataFrame([(2, "b")], "id long, k string")
        orig = C.chmod_staging
        fired = []

        def hook(staging):
            orig(staging)
            if not fired:
                fired.append(1)
                append_rows(spark, path, part, partition_by=["k"])

        monkeypatch.setattr(C, "chmod_staging", hook)
        with pytest.raises(ValueError, match="layout"):
            append_rows(spark, path, flat)
        # the store kept the winner's layout and exactly its rows
        assert _ids(spark, path) == [2]
        assert C.IO is C.IO  # silence linters; backend restored by ctx


@pytest.mark.parametrize("cas", [False, True])
def test_schema_guard_holds_under_append_race(spark, tmp_path, monkeypatch, cas):
    """Same window, schema half: a strict append racing a writer that
    evolved the schema must refuse against the FRESH declared schema,
    not the pre-staging one."""
    import contextlib

    from map_reduce_indexing_spark.sources import commitio as C
    from map_reduce_indexing_spark.sources.generations import (
        SchemaEvolutionError,
    )

    ctx = using_backend(CASStoreIO()) if cas else contextlib.nullcontext()
    with ctx:
        path = str(tmp_path / "store")
        append_rows(spark, path, spark.createDataFrame([(0,)], "id long"))
        same = spark.createDataFrame([(1,)], "id long")
        wide = spark.createDataFrame([(2, "x")], "id long, extra string")
        orig = C.chmod_staging
        fired = []

        def hook(staging):
            orig(staging)
            if not fired:
                fired.append(1)
                append_rows(spark, path, wide, schema_mode="evolve")

        monkeypatch.setattr(C, "chmod_staging", hook)
        # strict append raced an evolution: the fresh declared schema
        # has the extra column, so the strict batch now drifts
        with pytest.raises(SchemaEvolutionError):
            append_rows(spark, path, same)
        assert _ids(spark, path) == [0, 2]
