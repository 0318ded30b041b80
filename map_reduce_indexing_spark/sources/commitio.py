"""The commit-protocol seam: every primitive the artifact tier's
durability story stands on, behind one interface.

The generations/matview/index tier needs exactly five storage
primitives (and nothing else):

1. `writer_lock(path)` — mutual exclusion among WRITERS of one store
   (appends, compactions, deletes, matview refreshes serialize; readers
   never enter).
2. `publish_swap(live, staging)` — atomically replace a store
   directory with its staged rewrite, such that a crash at any point
   leaves a complete copy recoverable.
3. `recover(path)` — heal the crash window `publish_swap` leaves, if
   any (idempotent; called by readers and on writer entry).
4. `link_or_copy(src, dst)` — cheap relocation of an immutable file
   (generation snapshots, carried support tables); correctness needs
   only "dst has src's bytes", cheapness wants metadata-only.
5. `save_json_atomic(path, obj)` — all-or-nothing manifest/sidecar
   replacement (readers see the old or the new JSON, never a torn one).

Two module functions sit on top of the backend: `recover_index(path)`
(lock-free probe, then heal under the writer lock) and
`chmod_staging(staging)` (the mode a staged swap publishes).

Staged rewrites have one composite consumer,
`generations.staged_rewrite`: it makes the staging dir, runs
`chmod_staging`, carries generations, calls `publish_swap`, and removes
the staging dir when the rewrite fails before the backend owns it. No
other package code calls `publish_swap`
(tests/test_state_guard.py::test_one_staged_rewrite_path).

`PosixStoreIO` is the single-host / shared-POSIX-filesystem backend —
flock, hardlink, `os.replace` — which is also exactly the reference's
deployment shape (its ./index appends weren't even locked, SURVEY.md
§2.12). On real 100 TB object storage (S3/GCS) neither flock nor
hardlink nor atomic directory rename exists; `CASStoreIO` (round 11)
is the backend with THOSE semantics — put-if-absent leases (exclusive
for rewrites, SHARED for optimistic appends), conditional manifest
puts via a `_cas` version token, journaled diff swaps that never
touch immutable snapshot files, physical copies for relocation —
emulated locally so every store verb's crash story can be proven
without the POSIX affordances (the lakehouse suites run parametrized
over both backends; SCALING.md "Round 11: the CAS backend ships" maps
each primitive to its real S3/GCS counterpart). Select with
`set_backend` / `using_backend` / `MRI_STORE_IO=cas`. The POSIX
fault-injection tests plus the CAS journal/lease/conflict tests
(tests/test_commitio.py) pin the contract both backends satisfy.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time


# The store-manifest filename. commitio needs it for swap validation;
# generations.py aliases its GEN_FILE to this constant so the two
# layers cannot drift.
MANIFEST_NAME = "_generations.json"


class CommitConflict(RuntimeError):
    """A conditional manifest put found the head moved: another writer
    published between this writer's read and its save. The caller
    re-reads the head and retries (append/append composes — disjoint
    new files — see generations.append_rows) or serializes (rewrites)."""


class PosixStoreIO:
    """flock + hardlink + rename: the single-host backend."""

    # flock-excluded writers never see a moved head, so saves are
    # unconditional; optimistic verbs must hold the writer lock here
    supports_cas = False

    def needs_recovery(self, path: str) -> bool:
        """Lock-free fast probe: is there crash residue a writer/reader
        must heal before touching this store? (The heal itself runs
        under the writer lock and re-checks.)"""
        return not os.path.exists(path) and os.path.isdir(path + ".old")

    def append_lease(self, path: str):
        """Append-scope lease. POSIX has no shared/exclusive split
        here — appends serialize on the same flock as rewrites."""
        return self.writer_lock(path)

    @contextlib.contextmanager
    def writer_lock(self, path: str):
        """Blocking exclusive flock on a sibling `<path>.lock` file
        (sibling, not inside — publish_swap replaces the directory
        itself).

        Closes the compact-vs-append race: an append landing between a
        compaction's read and its swap would be silently dropped, and
        two concurrent compactors would clobber each other's renames.
        Every mutation (`IndexSession.append`, `compact_index`, the
        acting branch of `recover_index`) enters here first, so a
        concurrent writer BLOCKS until the holder finishes — the
        interleaving becomes append-after-compact and no postings are
        lost (tests/test_session_index.py, tests/test_api.py).

        flock scope is one host / one shared POSIX filesystem — the
        single-node reality of the reference's ./index (whose appends
        were unlocked, SURVEY.md §2.12); on an object store the lease
        in `CASStoreIO.writer_lock` plays this role. Each entry opens
        its own fd, so the lock also serializes threads within one
        process (flock treats separate open file descriptions
        independently). Both scopes are tested: thread interleavings
        in tests/test_api.py / test_session_index.py, and the
        cross-process guarantee in
        test_api.test_writer_lock_excludes_across_processes. Readers
        never enter: they are safe against the swap via
        `recover_index` self-healing."""
        import fcntl

        fd = os.open(path.rstrip("/") + ".lock", os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def publish_swap(self, live: str, staging: str) -> None:
        """Rename the live directory ASIDE, move staging into place,
        delete the old copy. POSIX rename gives no two-directory
        atomic swap, so there is a two-rename instant with the live
        path absent; `recover` heals a crash inside it, and readers
        re-resolve once. If the second rename raises, the old copy is
        moved back before re-raising, so the caller still owns (and
        removes) its staging dir. Caller holds the writer lock."""
        old = live + ".old"
        shutil.rmtree(old, ignore_errors=True)  # leftover from a prior crash
        if os.path.isdir(live):
            os.replace(live, old)
        try:
            os.replace(staging, live)
        except BaseException:
            self.recover(live)
            raise
        shutil.rmtree(old, ignore_errors=True)

    def recover(self, path: str) -> None:
        """If the live path is missing but the renamed-aside copy
        exists, restore it (idempotent). Caller holds the writer
        lock."""
        old = path + ".old"
        if not os.path.exists(path) and os.path.isdir(old):
            os.replace(old, path)

    def link_or_copy(self, src: str, dst: str) -> None:
        """Hardlink (metadata-only, shares the inode of an immutable
        file); fall back to a full copy across filesystems."""
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)

    def save_json_atomic(self, path: str, obj) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
        os.replace(tmp, path)


class CASStoreIO:
    """The object-store-semantics backend (round 11): no hardlinks, no
    flock, no atomic directory rename — the three POSIX affordances a
    100 TB S3/GCS deployment does not have. Every primitive is
    re-derived from what object stores DO give:

    - `link_or_copy` -> a physical copy, always (server-side COPY; an
      immutable file's bytes exist twice rather than sharing an
      inode). Pinned-read byte-stability therefore rests on the copy,
      not the link — the property the parametrized lakehouse suite
      re-proves under this backend.
    - `writer_lock` -> a LEASE: put-if-absent creation of
      `<path>.lease` (S3 If-None-Match / GCS x-goog-if-generation-
      match:0), polled on contention, stealable after `lease_ttl`
      seconds WITHOUT A HEARTBEAT (crashed-holder takeover). Holders
      HEARTBEAT: a daemon thread refreshes the lease's mtime every
      ttl/3 (`_heartbeat`), so a legitimate verb that outruns the TTL
      — a 100 TB compaction — keeps its exclusion; only a holder that
      stopped refreshing (crashed process, dead host) is taken over.
      Rewrites still serialize on this; appends under a CAS backend
      may instead run lock-free through the manifest CAS
      (generations.append_rows).
    - `save_json_atomic` -> a CONDITIONAL put: the manifest carries a
      `_cas` version token; a save whose token does not match the
      live file's raises CommitConflict instead of overwriting (the
      Iceberg commit protocol's pointer swap). The check-and-replace
      instant is emulated with a sibling flock standing in for the
      STORE's server-side atomicity — the artifact code never touches
      it and cannot rely on it.
    - `publish_swap` -> there is no atomic directory swap; the swap
      becomes a journaled DIFF: write `<live>.swapjournal` (the
      intent record), place the files staging ADDS per-file
      atomically, flip the manifest last, GC the files staging
      dropped, clear the journal. Immutable `_gen/`/`_bloom/` files
      common to both trees are never touched, so PINNED readers have
      no unreadable window at all; a crash at ANY point is healed by
      `recover` re-running the journaled plan (staging is kept until
      the journal clears, and every step is idempotent). On a real
      object store the same shape is uploads + one pointer CAS.

    The byte economics differ from POSIX on purpose: carries and swaps
    pay physical copies here (an object store pays server-side copies
    or nothing, since immutable objects need no relocation at all).
    What the backend proves is the CONTRACT — crash recovery at every
    fault point, pinned-read stability without inode sharing, and
    conflict detection without a lock — not the byte cost."""

    supports_cas = True
    lease_timeout = 120.0  # seconds to wait for a contended lease
    lease_ttl = 900.0  # stale-lease takeover age (crashed holder)
    _poll = 0.05

    def _lease_path(self, path: str) -> str:
        return path.rstrip("/") + ".lease"

    def _heartbeat(self, lease_file: str):
        """Keep a held lease ALIVE past `lease_ttl`: a daemon thread
        refreshes the file's mtime every ttl/3 until cancelled, so
        takeover (mtime age > lease_ttl) fires only on a CRASHED
        holder — never on a legitimate long verb (a 100 TB compaction
        easily outruns a fixed TTL; r11 left it as the one
        wasted-work window, the CAS put catching the commit but not
        the re-stage cost). On S3/GCS this is the holder re-PUTting
        its lease object on a timer (same put-if-match pattern as the
        manifest); the emulation touches mtime, which is exactly what
        `_exclusive_held`/the shared-lease drain age-check read.
        Returns a zero-arg cancel callable; losing the file (stolen
        after a long GC pause, removed by takeover) just ends the
        refresh — the conditional manifest put remains the
        correctness backstop."""
        import threading

        stop = threading.Event()
        interval = max(self.lease_ttl / 3.0, 0.02)

        def run() -> None:
            while not stop.wait(interval):
                try:
                    os.utime(lease_file)
                except OSError:
                    return
        t = threading.Thread(
            target=run, daemon=True, name="mri-lease-heartbeat"
        )
        t.start()

        def cancel() -> None:
            stop.set()

        return cancel

    @staticmethod
    def _restore_claim(claimed: str, lease: str) -> bool:
        """Hand a mid-steal-claimed lease back WITHOUT clobbering: link
        the claimed file back to the lease name (atomic, fails EEXIST
        when another waiter already created a fresh lease there) and
        remove the claim. True = restored (the original holder keeps
        its exclusion, its heartbeat keeps refreshing the same inode);
        False = a new lease exists — the claim must discard, never
        overwrite (two holders at once otherwise). Extracted so the
        clobber case is directly testable."""
        try:
            os.link(claimed, lease)
        except OSError:
            return False  # EEXIST (new lease) or claimed vanished
        try:
            os.remove(claimed)
        except OSError:
            pass
        return True

    def _shared_dir(self, path: str) -> str:
        return path.rstrip("/") + ".lease.shared"

    def _exclusive_held(self, path: str) -> bool:
        lease = self._lease_path(path)
        try:
            age = time.time() - os.path.getmtime(lease)
        except OSError:
            return False
        if age > self.lease_ttl:
            # crashed holder (no heartbeat past the TTL): steal via
            # RENAME-then-verify — the rename is the atomic claim
            # (exactly one racing waiter wins it; losers get ENOENT
            # and re-poll), emulating the store's conditional
            # delete-if-unchanged. After claiming, re-check the
            # claimed file's age: if a live holder refreshed between
            # our stat and our rename, hand the lease straight back.
            import uuid

            claimed = f"{lease}.steal.{uuid.uuid4().hex}"
            try:
                os.rename(lease, claimed)
            except OSError:
                return False  # another waiter won the claim
            try:
                if time.time() - os.path.getmtime(claimed) <= self.lease_ttl:
                    # fresh after all (heartbeat landed mid-steal):
                    # restore with a NON-CLOBBERING primitive. A plain
                    # rename would silently REPLACE a lease another
                    # waiter created via O_CREAT|O_EXCL during the
                    # steal window (POSIX rename overwrites), leaving
                    # two processes holding the exclusive lease;
                    # os.link fails EEXIST in exactly that case, and
                    # the fresh-after-all holder's claim then simply
                    # discards (its heartbeat dies on ENOENT and the
                    # manifest CAS remains its correctness backstop).
                    if self._restore_claim(claimed, lease):
                        return True
                os.remove(claimed)
            except OSError:
                pass
            return False
        return True

    @contextlib.contextmanager
    def writer_lock(self, path: str):
        """EXCLUSIVE lease (rewrites, compactions, locked verbs):
        put-if-absent creation of `<path>.lease`, then DRAIN the
        shared append leases — optimistic appenders in flight finish
        placing+publishing before the rewrite reads its input, and no
        new appender can enter (they re-check the exclusive marker
        after registering)."""
        lease = self._lease_path(path)
        deadline = time.monotonic() + self.lease_timeout
        while True:
            try:
                fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, json.dumps({"pid": os.getpid()}).encode())
                os.close(fd)
                break
            except FileExistsError:
                if not self._exclusive_held(path):
                    continue  # released or stolen: retry immediately
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"lease {lease!r} held past {self.lease_timeout}s"
                    )
                time.sleep(self._poll)
        stop_hb = self._heartbeat(lease)
        try:
            shared = self._shared_dir(path)
            while os.path.isdir(shared):
                live = []
                for f in os.listdir(shared):
                    p = os.path.join(shared, f)
                    try:
                        if time.time() - os.path.getmtime(p) > self.lease_ttl:
                            os.remove(p)  # crashed appender
                        else:
                            live.append(f)
                    except OSError:
                        pass
                if not live:
                    break
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"shared leases under {shared!r} did not drain"
                    )
                time.sleep(self._poll)
            yield
        finally:
            stop_hb()
            try:
                os.remove(lease)
            except OSError:
                pass

    @contextlib.contextmanager
    def append_lease(self, path: str):
        """SHARED lease: any number of optimistic appenders co-hold
        (they compose through the conditional manifest put); only the
        exclusive writer lease excludes them. Two-phase entry: wait
        out any exclusive holder, register, then RE-CHECK — an
        exclusive lease acquired between the check and the
        registration wins and the appender backs off."""
        import uuid

        shared = self._shared_dir(path)
        my = os.path.join(shared, uuid.uuid4().hex)
        deadline = time.monotonic() + self.lease_timeout
        while True:
            if self._exclusive_held(path):
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"exclusive lease on {path!r} held past "
                        f"{self.lease_timeout}s"
                    )
                time.sleep(self._poll)
                continue
            os.makedirs(shared, exist_ok=True)
            with open(my, "w") as fh:
                fh.write(json.dumps({"pid": os.getpid()}))
            if self._exclusive_held(path):
                try:
                    os.remove(my)
                except OSError:
                    pass
                time.sleep(self._poll)
                continue
            break
        stop_hb = self._heartbeat(my)
        try:
            yield
        finally:
            stop_hb()
            try:
                os.remove(my)
            except OSError:
                pass

    def _journal_path(self, live: str) -> str:
        return live.rstrip("/") + ".swapjournal"

    def needs_recovery(self, path: str) -> bool:
        return os.path.exists(self._journal_path(path))

    @staticmethod
    def _manifest_cas(root: str) -> int | None:
        """The `_cas` token of a directory's store manifest, None when
        the directory has no manifest (plain artifacts)."""
        p = os.path.join(root, MANIFEST_NAME)
        try:
            with open(p) as fh:
                return int(json.load(fh).get("_cas", 0))
        except (OSError, ValueError):
            return None

    def publish_swap(self, live: str, staging: str) -> None:
        """Journaled DIFF swap, CAS-VALIDATED — the object-store
        publish shape: immutable objects are never rewritten, so the
        swap (1) PLACES the files staging adds (per-file atomic:
        copy to a dot-temp sibling, rename — an object PUT), (2)
        FLIPS the manifest (one atomic replace — the pointer), (3)
        GCs the files staging dropped. Files present in BOTH trees at
        the same rel path and size — every carried `_gen/` snapshot —
        are NEVER TOUCHED, so a reader pinned to a retained
        generation has no unreadable window at all (the POSIX
        two-rename instant and the naive delete-then-copy emulation
        both had one); a reader mid-flip sees wholly-old or wholly-new
        state through whichever manifest it loaded. A crash at any
        step is healed by `recover` re-running the journaled plan
        (staging is kept until the journal clears; every step is
        idempotent).

        CAS validation: the staged rewrite was derived from the
        manifest version it loaded (`staged _cas == loaded + 1` —
        carry_generations saves the staged manifest at the fresh
        staging path, bumping the carried token once). If the live
        manifest moved since (an optimistic append published
        mid-rewrite), the flip would ERASE that commit — raise
        CommitConflict and let the rewriter re-stage from the new
        head. Plain artifacts (no manifest) skip the check; their
        writers are lease-serialized on both sides."""
        s = self._manifest_cas(staging)
        if s is not None:
            l = self._manifest_cas(live)
            if l is not None and l != s - 1:
                raise CommitConflict(
                    f"{live!r}: staged rewrite derived from manifest "
                    f"version {s - 1}, live is {l} (a concurrent "
                    "publish landed); re-stage from the new head"
                )
        journal = self._journal_path(live)
        tmp = journal + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"staging": os.path.abspath(staging)}, fh)
        os.replace(tmp, journal)  # one object PUT: the intent record
        self._replay_swap(live, journal)

    @staticmethod
    def _tree(root: str) -> dict[str, int]:
        """{rel path: size} for EVERY regular file under root —
        including underscore/dot entries (sidecars, snapshots, the
        manifest); this is the full object listing, not the data
        view."""
        out: dict[str, int] = {}
        for r, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(r, f)
                try:
                    out[os.path.relpath(p, root)] = os.stat(p).st_size
                except OSError:
                    pass  # racing temp file: not part of either tree
        return out

    def _replay_swap(self, live: str, journal: str) -> None:
        import uuid

        with open(journal) as fh:
            staging = json.load(fh)["staging"]
        if os.path.isdir(staging):
            want = self._tree(staging)
            have = self._tree(live) if os.path.isdir(live) else {}
            manifest_rel = MANIFEST_NAME if MANIFEST_NAME in want else None

            def place(rel: str) -> None:
                dst = os.path.join(live, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                tmp = os.path.join(
                    os.path.dirname(dst),
                    f".{os.path.basename(dst)}.{uuid.uuid4().hex}.swap",
                )
                shutil.copy2(os.path.join(staging, rel), tmp)
                os.replace(tmp, dst)  # per-object atomic PUT

            # 1. place adds/changes, the manifest LAST (the flip).
            # The size-equality skip applies ONLY under the immutable
            # snapshot trees (_gen/, _bloom/ — files there are
            # immutable-from-birth, and not touching them is what
            # closes the pinned-reader window); anything else could be
            # a mutable same-size sidecar (matview.json) and is always
            # re-placed, per-file atomically.
            def carried(rel: str, size: int) -> bool:
                # _dv/ sidecars are immutable-from-birth too (a new
                # vector is a NEW directory), so they get the same
                # pinned-reader no-touch guarantee as snapshots
                return rel.startswith(
                    ("_gen/", "_bloom/", "_dv/",
                     "_gen\\", "_bloom\\", "_dv\\")
                ) and (have.get(rel) == size)

            for rel, size in want.items():
                if rel != manifest_rel and not carried(rel, size):
                    place(rel)
            if manifest_rel is not None:
                place(manifest_rel)
            # 2. GC what the rewrite dropped
            for rel in have:
                if rel not in want:
                    try:
                        os.remove(os.path.join(live, rel))
                    except OSError:
                        pass
            # prune now-empty dirs (cosmetic: object stores have none)
            for r, dirs, files in os.walk(live, topdown=False):
                if not dirs and not files and r != live:
                    try:
                        os.rmdir(r)
                    except OSError:
                        pass
            shutil.rmtree(staging)
        # staging gone -> the placement completed before a crash; fall
        # through to clearing the intent record either way
        os.remove(journal)

    def recover(self, path: str) -> None:
        journal = self._journal_path(path)
        if os.path.exists(journal):
            self._replay_swap(path, journal)

    def link_or_copy(self, src: str, dst: str) -> None:
        shutil.copy2(src, dst)

    def save_json_atomic(self, path: str, obj) -> None:
        """Conditional put: `obj['_cas']` must equal the live file's
        version or CommitConflict raises. The sibling flock emulates
        the store's server-side check-and-replace atomicity (a real
        conditional PUT is atomic at the service); artifact code never
        sees it. On success the caller's dict gets the bumped token,
        so load -> mutate -> save chains compose."""
        if not isinstance(obj, dict):
            raise TypeError("CAS manifest saves require a dict payload")
        import fcntl

        guard = path + ".caslock"
        fd = os.open(guard, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            if os.path.exists(path):
                try:
                    with open(path) as fh:
                        live_cas = int(json.load(fh).get("_cas", 0))
                except (ValueError, OSError):
                    live_cas = 0
                if int(obj.get("_cas", 0)) != live_cas:
                    raise CommitConflict(
                        f"{path!r}: expected version {obj.get('_cas', 0)}, "
                        f"live is {live_cas} (another writer published)"
                    )
                obj["_cas"] = live_cas + 1
            else:
                # create = put-if-absent: any carried token is valid
                # (a staged manifest copies the live store's token but
                # lands at a fresh staging path); keep the chain
                # monotone so post-swap readers see versions advance
                obj["_cas"] = int(obj.get("_cas", 0)) + 1
            tmp = path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(obj, fh)
            os.replace(tmp, path)
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)


# The process-wide backend. PosixStoreIO is the single-host default;
# CASStoreIO is the object-store-semantics backend (select with
# MRI_STORE_IO=cas, set_backend(), or the using_backend() context
# manager — tests parametrize the whole lakehouse suite over both).
# Callers look it up as `commitio.IO` at call time and never bind the
# name themselves (tests/test_state_guard.py), so a swap reaches all of
# them. Backends interpret their own crash residue (.old dirs vs
# .swapjournal files): switch backends only on a cleanly published
# store.
IO = (
    CASStoreIO() if os.environ.get("MRI_STORE_IO") == "cas" else PosixStoreIO()
)


def set_backend(backend) -> None:
    global IO
    IO = backend


@contextlib.contextmanager
def using_backend(backend):
    global IO
    prev = IO
    IO = backend
    try:
        yield backend
    finally:
        IO = prev


def recover_index(path: str) -> None:
    """Heal a crashed swap: if the backend reports crash residue (a
    stranded `.old` copy under POSIX, a swap journal under CAS),
    restore/complete it. The heal itself takes the writer lock
    (re-checking under it), so a reader racing a LIVE rewriter's swap
    window blocks instead of interfering; the no-op fast path stays
    lock-free."""
    if IO.needs_recovery(path):
        with IO.writer_lock(path):
            IO.recover(path)


# Probed ONCE at import: os.umask is process-global and read-by-set,
# so probing it per call would open a recurring race window. Linux
# exposes the value race-free in /proc/self/status (Umask:, kernel
# 4.7+); only when that is unavailable fall back to the set-probe —
# and probe RESTRICTIVE (0o077): if another thread creates a file
# inside the window, it comes out over-protected, never
# world-permissive.
def _read_umask() -> int:
    try:
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("Umask:"):
                    return int(line.split()[1], 8)
    except OSError:
        pass
    prev = os.umask(0o077)
    os.umask(prev)
    return prev


_UMASK = _read_umask()


def chmod_staging(staging: str) -> None:
    """mkdtemp creates 0700 directories; a staged swap then publishes
    that mode as the live store/index, making an artifact built on
    shared storage unreadable to every other user/process. Re-apply the
    umask (what a plain mkdir would have produced) before the swap."""
    os.chmod(staging, 0o777 & ~_UMASK)
