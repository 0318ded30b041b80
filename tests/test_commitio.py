"""The commit-protocol seam (round 10): sources/commitio.py.

The artifact tier's durability rests on five primitives behind
`commitio.IO` (writer_lock / publish_swap / recover / link_or_copy /
save_json_atomic). These tests pin the POSIX backend's contract —
the one any future object-store backend must also satisfy — with
fault injection at each crash point of the swap, plus the routing
fact that the artifact code paths actually go through the seam.
"""

from __future__ import annotations

import json
import os
import threading
import time

from map_reduce_indexing_spark.sources.commitio import IO, PosixStoreIO


def _mkstore(p, name, content):
    d = p / name
    d.mkdir()
    (d / "data.txt").write_text(content)
    return str(d)


def test_publish_swap_replaces_and_cleans(tmp_path):
    live = _mkstore(tmp_path, "live", "old")
    staging = _mkstore(tmp_path, "staging", "new")
    IO.publish_swap(live, staging)
    assert open(os.path.join(live, "data.txt")).read() == "new"
    assert not os.path.exists(staging)
    assert not os.path.exists(live + ".old")


def test_crash_inside_rename_gap_recovers(tmp_path):
    """Crash point: after the live dir was renamed aside, before
    staging moved in (the two-rename instant). recover() must restore
    the old copy; the staged copy is discarded by whoever retries."""
    live = _mkstore(tmp_path, "live", "old")
    os.replace(live, live + ".old")  # the simulated half-done swap
    assert not os.path.exists(live)
    IO.recover(live)
    assert open(os.path.join(live, "data.txt")).read() == "old"
    assert not os.path.exists(live + ".old")


def test_crash_before_old_cleanup_is_healed_by_next_swap(tmp_path):
    """Crash point: both renames done, `.old` not yet deleted. A
    reader sees the NEW copy (correct); recover() is a no-op (live
    exists); the next publish_swap clears the leftover."""
    live = _mkstore(tmp_path, "live", "new")
    _mkstore(tmp_path, "live.old", "old")
    IO.recover(live)
    assert open(os.path.join(live, "data.txt")).read() == "new"
    staging2 = _mkstore(tmp_path, "s2", "newer")
    IO.publish_swap(live, staging2)
    assert open(os.path.join(live, "data.txt")).read() == "newer"
    assert not os.path.exists(live + ".old")


def test_first_publish_has_no_live_dir(tmp_path):
    live = str(tmp_path / "live")
    staging = _mkstore(tmp_path, "staging", "v1")
    IO.publish_swap(live, staging)
    assert open(os.path.join(live, "data.txt")).read() == "v1"


def test_save_json_atomic_keeps_old_on_failure(tmp_path):
    target = str(tmp_path / "m.json")
    IO.save_json_atomic(target, {"v": 1})

    class Unserializable:
        pass

    try:
        IO.save_json_atomic(target, {"v": Unserializable()})
    except TypeError:
        pass
    assert json.load(open(target)) == {"v": 1}  # old content intact


def test_link_or_copy_falls_back_to_copy(tmp_path, monkeypatch):
    src = tmp_path / "a.bin"
    src.write_bytes(b"payload")
    dst = tmp_path / "b.bin"

    def no_link(*a, **k):
        raise OSError("EXDEV: cross-device")

    monkeypatch.setattr(os, "link", no_link)
    IO.link_or_copy(str(src), str(dst))
    assert dst.read_bytes() == b"payload"
    assert os.stat(dst).st_ino != os.stat(src).st_ino  # a real copy


def test_writer_lock_excludes_threads(tmp_path):
    path = str(tmp_path / "store")
    os.makedirs(path)
    order = []

    def hold():
        with IO.writer_lock(path):
            order.append("a-in")
            time.sleep(0.3)
            order.append("a-out")

    def contend():
        time.sleep(0.1)
        with IO.writer_lock(path):
            order.append("b-in")

    ta, tb = threading.Thread(target=hold), threading.Thread(target=contend)
    ta.start(); tb.start(); ta.join(); tb.join()
    assert order == ["a-in", "a-out", "b-in"]


def test_artifact_paths_route_through_the_seam(spark, tmp_path, monkeypatch):
    """Package writers look the backend up at call time — swap in a
    counting backend and watch a writer's lock and swap calls arrive
    (the seam is real, not parallel code)."""
    import map_reduce_indexing_spark.sources.commitio as C

    calls = []

    class Counting(PosixStoreIO):
        def writer_lock(self, path):
            calls.append(("lock", path))
            return super().writer_lock(path)

        def publish_swap(self, live, staging):
            calls.append(("swap", live))
            return super().publish_swap(live, staging)

        def save_json_atomic(self, path, obj):
            calls.append(("json", path))
            return super().save_json_atomic(path, obj)

    monkeypatch.setattr(C, "IO", Counting())
    from map_reduce_indexing_spark.sources.generations import drop_tag

    store = str(tmp_path / "s")
    os.makedirs(store)
    drop_tag(store, "t")  # a manifest writer: enters the writer lock
    assert ("lock", store) in calls

    # a trained vector-store build replaces its directory: the swap must
    # be the backend's (a hand-rolled rename pair writes no CAS journal)
    from map_reduce_indexing_spark.operators.similarity import (
        DIM,
        build_vector_store,
    )

    vectors = spark.createDataFrame(
        [(i, [float(i % 2)] * DIM) for i in range(8)],
        "vec_id long, v array<double>",
    )
    vstore = str(tmp_path / "vs")
    build_vector_store(
        spark, vectors, vstore, layout="ivf",
        centroids=[[0.0] * DIM, [1.0] * DIM],
    )
    assert ("swap", vstore) in calls


# ---------------------------------------------------------------------------
# CASStoreIO (round 11): the object-store-semantics backend — no
# hardlinks, no flock, no atomic directory rename. Same fault points,
# re-proved against the journaled-copy swap, the lease, and the
# conditional manifest put.
# ---------------------------------------------------------------------------

from map_reduce_indexing_spark.sources.commitio import (  # noqa: E402
    CASStoreIO,
    CommitConflict,
    using_backend,
)


def test_cas_publish_swap_replaces_and_cleans(tmp_path):
    io = CASStoreIO()
    live = _mkstore(tmp_path, "live", "old")
    staging = _mkstore(tmp_path, "staging", "new")
    io.publish_swap(live, staging)
    assert open(os.path.join(live, "data.txt")).read() == "new"
    assert not os.path.exists(staging)
    assert not os.path.exists(live + ".swapjournal")


def test_cas_crash_after_journal_before_copy_recovers_forward(tmp_path):
    """Crash point: intent journal written, live not yet replaced.
    recover() must ROLL FORWARD from the intact staging copy (the
    journal is the commit record — object-store swaps recover forward,
    unlike the POSIX two-rename which restores the old copy)."""
    io = CASStoreIO()
    live = _mkstore(tmp_path, "live", "old")
    staging = _mkstore(tmp_path, "staging", "new")
    with open(live + ".swapjournal", "w") as fh:
        json.dump({"staging": staging}, fh)
    io.recover(live)
    assert open(os.path.join(live, "data.txt")).read() == "new"
    assert not os.path.exists(staging)
    assert not os.path.exists(live + ".swapjournal")


def test_cas_crash_mid_copy_recovers_forward(tmp_path):
    """Crash point: live deleted, copy half-done (staging intact).
    The redo re-copies from staging wholesale."""
    io = CASStoreIO()
    live = _mkstore(tmp_path, "live", "partial")
    staging = _mkstore(tmp_path, "staging", "new")
    (tmp_path / "staging" / "extra.txt").write_text("more")
    with open(live + ".swapjournal", "w") as fh:
        json.dump({"staging": staging}, fh)
    os.remove(os.path.join(live, "data.txt"))  # the half-done state
    io.recover(live)
    assert open(os.path.join(live, "data.txt")).read() == "new"
    assert open(os.path.join(live, "extra.txt")).read() == "more"


def test_cas_crash_after_copy_before_journal_clear(tmp_path):
    """Crash point: copy complete, staging deleted, journal not yet
    cleared. recover() just clears the intent record (live is whole —
    staging is only ever deleted after the copy finished)."""
    io = CASStoreIO()
    live = _mkstore(tmp_path, "live", "new")
    gone = str(tmp_path / "staging_gone")
    with open(live + ".swapjournal", "w") as fh:
        json.dump({"staging": gone}, fh)
    io.recover(live)
    assert open(os.path.join(live, "data.txt")).read() == "new"
    assert not os.path.exists(live + ".swapjournal")


def test_cas_save_json_requires_matching_version(tmp_path):
    """The conditional put: a save whose token does not match the live
    file raises CommitConflict and leaves the live manifest untouched
    — the primitive optimistic concurrent appends retry on."""
    io = CASStoreIO()
    target = str(tmp_path / "m.json")
    m = {"head": 1}
    io.save_json_atomic(target, m)
    assert m["_cas"] == 1  # caller's dict got the bumped token

    stale = {"head": 2}  # built without loading: token 0, live is 1
    try:
        io.save_json_atomic(target, stale)
        raise AssertionError("expected CommitConflict")
    except CommitConflict:
        pass
    assert json.load(open(target))["head"] == 1

    m["head"] = 3  # load -> mutate -> save chains compose
    io.save_json_atomic(target, m)
    assert json.load(open(target))["head"] == 3
    assert json.load(open(target))["_cas"] == 2


def test_cas_create_is_put_if_absent_with_carried_token(tmp_path):
    """A staged manifest carries the live store's token but lands at a
    fresh path (carry_generations writes into staging): creation must
    accept any token and keep the version chain monotone."""
    io = CASStoreIO()
    target = str(tmp_path / "staged.json")
    io.save_json_atomic(target, {"head": 5, "_cas": 7})
    assert json.load(open(target))["_cas"] == 8


def test_cas_lease_excludes_threads(tmp_path):
    io = CASStoreIO()
    path = str(tmp_path / "store")
    os.makedirs(path)
    order = []

    def hold():
        with io.writer_lock(path):
            order.append("a-in")
            time.sleep(0.3)
            order.append("a-out")

    def contend():
        time.sleep(0.1)
        with io.writer_lock(path):
            order.append("b-in")

    ta, tb = threading.Thread(target=hold), threading.Thread(target=contend)
    ta.start(); tb.start(); ta.join(); tb.join()
    assert order == ["a-in", "a-out", "b-in"]


def test_cas_stale_lease_is_stolen(tmp_path):
    """A crashed holder's lease (older than lease_ttl) is taken over
    instead of deadlocking the store forever."""
    io = CASStoreIO()
    io.lease_ttl = 0.2
    path = str(tmp_path / "store")
    os.makedirs(path)
    lease = path + ".lease"
    with open(lease, "w") as fh:
        fh.write("{}")
    old = time.time() - 10
    os.utime(lease, (old, old))
    with io.writer_lock(path):
        pass  # acquired by takeover
    assert not os.path.exists(lease)


def test_cas_link_or_copy_never_shares_inodes(tmp_path):
    io = CASStoreIO()
    src = tmp_path / "a.bin"
    src.write_bytes(b"payload")
    dst = tmp_path / "b.bin"
    io.link_or_copy(str(src), str(dst))
    assert dst.read_bytes() == b"payload"
    assert os.stat(dst).st_ino != os.stat(src).st_ino


def test_using_backend_swaps_and_restores(tmp_path):
    import map_reduce_indexing_spark.sources.commitio as C

    prev = C.IO
    cas = CASStoreIO()
    with using_backend(cas):
        assert C.IO is cas
    assert C.IO is prev


def test_cas_conditional_put_across_processes(tmp_path):
    """Two PROCESSES hammer conditional puts on one manifest: every
    successful save is a load->increment->save round that survived the
    CAS, so the final counter equals the number of successes — lost
    updates are impossible by construction (the POSIX backend's
    last-write-wins would lose increments here)."""
    import subprocess
    import sys

    target = str(tmp_path / "m.json")
    io = CASStoreIO()
    io.save_json_atomic(target, {"n": 0})
    worker = r"""
import json, sys
sys.path.insert(0, "/root/repo")
from map_reduce_indexing_spark.sources.commitio import CASStoreIO, CommitConflict
io = CASStoreIO()
target = sys.argv[1]
done = 0
while done < 25:
    with open(target) as fh:
        m = json.load(fh)
    m["n"] += 1
    try:
        io.save_json_atomic(target, m)
        done += 1
    except CommitConflict:
        continue
print(done)
"""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, target],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=120) for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert json.load(open(target))["n"] == 50
    assert json.load(open(target))["_cas"] == 51  # one bump per success


def test_cas_lease_excludes_across_processes(tmp_path):
    """A lease held by ANOTHER interpreter blocks this process's
    writer_lock until released (put-if-absent is process-agnostic)."""
    import subprocess
    import sys

    path = str(tmp_path / "store")
    os.makedirs(path)
    holder = r"""
import sys, time
sys.path.insert(0, "/root/repo")
from map_reduce_indexing_spark.sources.commitio import CASStoreIO
io = CASStoreIO()
with io.writer_lock(sys.argv[1]):
    print("held", flush=True)
    time.sleep(1.0)
"""
    p = subprocess.Popen(
        [sys.executable, "-c", holder, path],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    assert p.stdout.readline().strip() == "held"
    io = CASStoreIO()
    t0 = time.monotonic()
    with io.writer_lock(path):
        waited = time.monotonic() - t0
    assert waited > 0.4  # blocked until the other process released
    p.communicate(timeout=30)
    assert p.returncode == 0


def test_failed_staged_rewrite_leaves_no_staging(spark, tmp_path, io_backend):
    """A staged rewrite that raises — in the caller's write step, or in
    the backend's swap before it owns the staging dir — removes its
    staging dir: no `mri_*` sibling is stranded beside the store, the
    store reads exactly as before, and the next compaction works."""
    import pytest

    from map_reduce_indexing_spark.sources import commitio as C
    from map_reduce_indexing_spark.sources.artifacts import compact_artifact
    from map_reduce_indexing_spark.sources.generations import (
        append_rows,
        generation_head,
        read_generation,
    )

    store = str(tmp_path / "store")
    append_rows(
        spark,
        store,
        spark.createDataFrame([(i, f"v{i}") for i in range(6)], "k long, v string"),
    )
    head = generation_head(store)
    listing = sorted(os.listdir(store))

    def keys():
        return sorted(r.k for r in read_generation(spark, store).collect())

    def rewrite(df, staging):
        df.write.mode("overwrite").parquet(staging)

    def failing_rewrite(df, staging):
        rewrite(df, staging)
        raise RuntimeError("rewrite failed")

    class RefusingSwap(type(C.IO)):
        def publish_swap(self, live, staging):
            raise C.CommitConflict("head moved")

    with pytest.raises(RuntimeError, match="rewrite failed"):
        compact_artifact(spark, store, failing_rewrite)
    with C.using_backend(RefusingSwap()):
        with pytest.raises(C.CommitConflict):
            compact_artifact(spark, store, rewrite)
    assert [e for e in os.listdir(tmp_path) if e.startswith("mri_")] == []
    assert sorted(os.listdir(store)) == listing
    assert generation_head(store) == head
    assert keys() == list(range(6))

    if isinstance(C.IO, C.PosixStoreIO):
        # the swap's second rename (staging -> live) fails after live
        # was renamed aside: live is moved back, staging removed
        real_replace = os.replace

        def failing_replace(src, dst):
            if os.path.basename(src).startswith("mri_") and dst == store:
                raise OSError("rename failed")
            real_replace(src, dst)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(os, "replace", failing_replace)
            with pytest.raises(OSError, match="rename failed"):
                compact_artifact(spark, store, rewrite)
        assert [
            e for e in os.listdir(tmp_path)
            if e.startswith("mri_") or e == "store.old"
        ] == []
        assert sorted(os.listdir(store)) == listing
        assert generation_head(store) == head
        assert keys() == list(range(6))

    compact_artifact(spark, store, rewrite)
    assert generation_head(store) == head + 1
    assert keys() == list(range(6))
    assert [e for e in os.listdir(tmp_path) if e.startswith("mri_")] == []


def test_staged_rewrite_heals_a_stranded_swap_first(spark, tmp_path):
    """POSIX crash point: a store with two generations was renamed to
    `<path>.old` and the swap never finished. The next staged rewrite
    must restore it before swapping: the prior generations stay
    retained and readable, and `.old` is gone (its leftover `rmtree`
    would otherwise delete the only full copy and publish a store with
    no manifest)."""
    from map_reduce_indexing_spark.sources.generations import (
        append_rows,
        generation_head,
        load_manifest,
        read_generation,
        staged_rewrite,
    )

    store = str(tmp_path / "store")
    for lo in (0, 3):
        append_rows(
            spark,
            store,
            spark.createDataFrame([(k,) for k in range(lo, lo + 3)], "k long"),
        )
    assert generation_head(store) == 2
    os.replace(store, store + ".old")  # the stranded two-rename instant

    rows = spark.createDataFrame([(k,) for k in range(10, 12)], "k long")
    with IO.writer_lock(store):
        staged_rewrite(
            store,
            lambda staging: rows.write.mode("overwrite").parquet(staging),
            "mri_rewrite_",
        )
    assert not os.path.exists(store + ".old")
    m = load_manifest(store)
    assert m is not None and int(m["head"]) == 3
    assert {"1", "2"} <= set(m["gens"])

    def keys(at=None):
        return sorted(r.k for r in read_generation(spark, store, at=at).collect())

    assert keys() == [10, 11]
    assert keys(at=2) == list(range(6))
    assert keys(at=1) == [0, 1, 2]
