"""Bounded rotation for query-tier eager localCheckpoints (r15).

Several query builders materialize a reused intermediate with
``localCheckpoint(eager=True)`` (the TF-IDF weighted postings, the
semantic-dedup assigned frame, the PMI pair table, the phash
fingerprints, ...). The checkpoint is the right call — the frame feeds
several consumers and recomputing it would re-run a corpus-sized
subtree per consumer — but the materialized RDD blocks live in executor
storage for the SparkSession's lifetime, so a long-lived session that
rebuilds the same query accumulates one orphaned copy per call (the
r14 verdict's storage-leak finding, guide §5 "unpersist when done").

``rotating_local_checkpoint(df, site)`` checkpoints ``df`` and keeps
only the last ``ROTATE_KEEP`` checkpoints per (application, site) —
a bounded session-state kind per site (``state.py``) — unpersisting
older generations. Why keep 2 and not 1: the frame a query
builder returns is lazy, and a caller may legitimately build the query
a second time before executing the first frame (plan inspection next to
execution). One generation of slack makes that pattern safe; a caller
would have to rebuild the same query TWICE between building and
executing a frame to touch a released block — no consumer in the repo
(bench loop, oracle driver, tests) does that, and the failure mode is
an explicit "block not found" error, not silent wrong data.

The standard localCheckpoint caveat applies unchanged and is a recorded
decision (SCALING.md): blocks are not replicated, so executor loss
fails the query and the caller re-runs it — acceptable for these
rebuild-on-demand query intermediates, where a reliable checkpoint
would pay a distributed-filesystem write per call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import state

ROTATE_KEEP = 2


def _checkpoint_java_rdd(df: DataFrame):
    """The JVM RDD backing a localCheckpointed DataFrame (its analyzed
    plan is a LogicalRDD), or None when the plan is not the expected
    shape — in which case release does nothing rather than failing
    the query."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:  # noqa: BLE001 — rotation is best-effort
        return None


def release_local_checkpoint(df: DataFrame) -> None:
    """Unpersist a localCheckpointed frame's blocks NOW. Only for
    intermediates that are provably no longer referenced (e.g. the
    previous round of an iterative loop after the next round has been
    materialized from it)."""
    h = _checkpoint_java_rdd(df)
    if h is not None:
        try:
            h.unpersist(False)
        except Exception:  # noqa: BLE001
            pass


def rotating_local_checkpoint(df: DataFrame, site: str) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` with bounded per-site storage:
    the two newest checkpoints for (application, site) stay materialized,
    older ones are unpersisted."""
    return state.lookup(
        df.sparkSession.sparkContext,
        ("checkpoint", site),
        object(),  # every call is a new checkpoint
        None,
        lambda: df.localCheckpoint(eager=True),
        bound=ROTATE_KEEP,
        on_evict=release_local_checkpoint,
    )
