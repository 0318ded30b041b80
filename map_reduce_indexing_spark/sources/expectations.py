"""Publish-time data-quality EXPECTATIONS over generations stores.

The reference pipeline ingests whatever the mapper emits — there is no
admission control anywhere in helper_map.c/helper_reduce.c, so one
malformed producer poisons every downstream artifact and nothing
records that it happened. At 100 TB that failure mode is the norm,
not the exception (a fraction of every real crawl/feed batch is
broken), so the extension tier gives the store an admission gate in
the Delta Live Tables / Great Expectations shape:

    append_with_expectations(spark, store, df, {
        "price_cap":  [("price_dec", "<=", 300000)],
        "date_range": [("o_orderdate", "<", datetime(1998, 6, 1))],
    }, mode="quarantine")

- Each expectation is a predicate in the store's own `where` language
  (AND-list of ``(col, op, val)`` triples, OR via nested lists — the
  exact grammar `read_generation` prunes and filters with, compiled
  by the same `_where_column`, so gate semantics and read semantics
  can never drift). A row PASSES an expectation iff the predicate is
  TRUE; NULL is a violation (the row cannot prove it conforms —
  CHECK-constraint semantics inverted for admission).

- Modes:
  * ``"fail"``       — all-or-nothing batch admission: any violation
                       raises ExpectationError with per-expectation
                       counts and NOTHING is written.
  * ``"drop"``       — passing rows append; violations are counted
                       in the audit and discarded.
  * ``"quarantine"`` — passing rows append; each violating row lands
                       in the store's ``<path>.quarantine`` SIBLING
                       store (outside the store directory, like its
                       ``.lock`` — a compaction/delete swap replaces
                       the store dir wholesale and would destroy a
                       nested sub-store; the sibling survives every
                       swap and is itself generations-managed),
                       tagged with
                       `_violations` (comma-joined sorted names of
                       every failed expectation) and
                       `_src_generation` (the admitted generation it
                       was split from) — re-admittable after repair.

- The AUDIT is durable: the new generation's manifest entry records
  mode, per-expectation violation counts, and the row split, so
  `expectation_audit(store)` answers "what did the gate do" from one
  JSON read — no data scan, same posture as the manifest's exact row
  counts.

Scale shape: the gate is ONE map-side-combined aggregation over the
batch (per-expectation violation counts — a handful of sum(when)
columns in whole-stage codegen) plus the writes, each a plain
filtered append; nothing shuffles on data size and nothing collects
beyond the k-expectation count row. The batch is localCheckpoint-ed
BEFORE the gate, so the violation counts, the admit write, and the
quarantine write all split ONE materialization of the lineage — this
is a correctness requirement, not a cost optimization: a
non-deterministic upstream (rand, current-time columns, source files
changing mid-run) re-evaluated per action could route a row into the
store on one evaluation and the quarantine on another, or into
neither. Callers invoking `gate_eval` directly owe it an already-
pinned (checkpointed/persisted) or deterministic frame.

Reference basis: the unchecked append at helper_reduce.c:241 (any
mapper output is folded in verbatim); SURVEY.md §2.12 lists the
resulting silent-corruption defect class this gate closes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commitio
from .generations import (
    _data_files,
    _publish,
    _where_column,
    load_manifest,
    publish_generation,
    reachable_files,
    read_generation,
    staged_rewrite,
    strip_markers,
)

QUARANTINE_SUFFIX = ".quarantine"
_MODES = ("fail", "drop", "quarantine")


def quarantine_path(path: str) -> str:
    """The store's quarantine sibling: OUTSIDE the store directory so
    publish_swap (compaction, delete, optimize — which replace the
    store dir wholesale) can never destroy it."""
    return path.rstrip("/") + QUARANTINE_SUFFIX


class ExpectationError(ValueError):
    """Raised in mode='fail' when a batch has violations; carries
    {expectation name: violation count} as `.counts`."""

    def __init__(self, counts: dict[str, int]):
        self.counts = counts
        super().__init__(
            "batch rejected: "
            + ", ".join(f"{k}={v}" for k, v in sorted(counts.items()))
        )


def _violation_flags(expectations: dict) -> list[tuple[str, F.Column]]:
    """(name, violated?) per expectation, name-sorted so `_violations`
    strings and audit ordering are deterministic. Violated = NOT
    coalesce(pred, FALSE): a NULL predicate cannot prove conformance."""
    if not expectations:
        raise ValueError("expectations must be a non-empty dict")
    out = []
    for name in sorted(expectations):
        if "," in name or not name:
            raise ValueError(f"expectation name {name!r} must be a comma-free slug")
        pred = _where_column(expectations[name])
        out.append((name, ~F.coalesce(pred, F.lit(False))))
    return out


def gate_eval(df: DataFrame, expectations: dict):
    """The gate's evaluation pass, shared with the pipeline runner:
    (flags, bad-row predicate, rows_in, n_bad, {name: violations}) —
    per-expectation violation counts from ONE map-side-combined
    aggregate, one driver row."""
    flags = _violation_flags(expectations)
    bad = flags[0][1]
    for _, fl in flags[1:]:
        bad = bad | fl
    counts_row = df.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(bad.cast("long")).alias("_bad"),
        *[F.sum(fl.cast("long")).alias(name) for name, fl in flags],
    ).first()
    rows_in = int(counts_row["_n"] or 0)
    n_bad = int(counts_row["_bad"] or 0)
    violations = {name: int(counts_row[name] or 0) for name, _ in flags}
    return flags, bad, rows_in, n_bad, violations


def violation_tags(flags) -> F.Column:
    """`_violations`: comma-joined, name-sorted names of every failed
    expectation for a row (concat_ws skips the NULLs of passed ones)."""
    return F.concat_ws(
        ",", *[F.when(fl, F.lit(name)) for name, fl in flags]
    )


# Current-time expressions are DETERMINISTIC to Catalyst (evaluated
# once per execution by ComputeCurrentTime) but the gate runs MULTIPLE
# executions over one lineage (count, admit write, quarantine write) —
# each gets its own "now", which is exactly the divergence the pin
# exists to prevent. Plan-string scan catches them where
# QueryPlan.deterministic cannot.
_TIME_EXPRS = (
    "current_timestamp",
    "current_date",
    "localtimestamp",
    "now()",
    "current_timezone",
    "unix_timestamp()",
)


def _plan_needs_pin(df: DataFrame) -> bool:
    """True when re-evaluating `df`'s lineage per action could yield
    different rows: Catalyst reports a non-deterministic expression
    anywhere in the analyzed plan (rand, uuid,
    monotonically_increasing_id, a UDF marked non-deterministic), or a
    current-time expression appears (per-execution 'now'). Unknown
    (no JVM plan handle) => True: keep the pin."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not bool(plan.deterministic()):
            return True
        text = plan.toString().lower()
        return any(e in text for e in _TIME_EXPRS)
    except Exception:
        return True


def pin_once(df: DataFrame, pin_batch="auto") -> DataFrame:
    """The gate's single-evaluation pin, CONDITIONAL (r11 verdict task
    2): localCheckpoint materializes the batch so the violation
    counts, the admit write, and the quarantine write split ONE
    evaluation — a correctness requirement when the lineage is
    non-deterministic, pure cost when it is not (r11 measured the
    unconditional pin as a real per-batch tax on plainly-deterministic
    foreachBatch parquet batches). `pin_batch`:

    - "auto" (default): pin only when `_plan_needs_pin` says
      re-evaluation could diverge; a deterministic plan is evaluated
      per action instead (cheaper than materializing for
      microbatch-sized inputs).
    - True: always pin (the r10/r11 behavior) — required when the
      SOURCE FILES themselves may be rewritten mid-call (plan-level
      checks cannot see storage churn; streaming file sources are
      offset-pinned and safe, raw directory reads under a concurrent
      compactor are not).
    - False: never pin; the caller guarantees a deterministic, stable
      batch."""
    if pin_batch is True:
        return df.localCheckpoint(eager=True)
    if pin_batch is False:
        return df
    if pin_batch != "auto":
        raise ValueError(
            f"pin_batch must be 'auto', True, or False, got {pin_batch!r}"
        )
    return df.localCheckpoint(eager=True) if _plan_needs_pin(df) else df


def replace_quarantine(qpath: str, rows: DataFrame) -> None:
    """Make `rows` the quarantine's complete content: a staged rewrite
    under the quarantine's own writer lock that carries its prior
    generations, so the pre-rewrite quarantine stays pinnable."""
    with commitio.IO.writer_lock(qpath):
        staged_rewrite(
            qpath,
            lambda staging: rows.write.mode("overwrite").parquet(staging),
            "mri_quarantine_",
        )
        if load_manifest(qpath) is None:
            publish_generation(qpath)


def append_with_expectations(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    expectations: dict,
    mode: str = "quarantine",
    partition_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    idempotency: tuple[str, int] | None = None,
    pin_batch="auto",
    schema_mode: str = "strict",
) -> dict:
    """Gate `df` through `expectations` and append the admitted rows
    to the generations store at `path` as a new published generation.
    Returns the audit dict also recorded in the manifest entry:
    {"generation", "mode", "rows_in", "rows_appended",
     "rows_quarantined"|"rows_dropped", "violations": {name: n}}.

    `idempotency=(key, batch_id)` makes the append REPLAY-SAFE for
    at-least-once callers (streaming foreachBatch): the store manifest
    records the last applied batch id per key at the TOP LEVEL
    (`applied_batches` — survives retention, carries through
    compaction swaps) inside the SAME atomic save that publishes the
    generation, and a call whose batch_id <= the recorded id returns
    {"replayed": True} without writing anything. Batch ids must be
    monotone per key (structured streaming's contract). The
    quarantine split is written and published — with its OWN
    applied-batch record — BEFORE the main publish, so every crash
    point replays cleanly: before the quarantine publish, nothing is
    recorded anywhere (full redo); between the two publishes, the
    redo skips only the quarantine write; after the main publish, the
    whole call is a no-op."""
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")

    def _already_applied(manifest) -> bool:
        if idempotency is None or manifest is None:
            return False
        key, batch_id = idempotency
        rec = (manifest.get("applied_batches") or {}).get(str(key))
        return rec is not None and int(batch_id) <= int(rec)

    def _applied_extra(manifest) -> dict | None:
        if idempotency is None:
            return None
        key, batch_id = idempotency
        marks = dict((manifest or {}).get("applied_batches") or {})
        marks[str(key)] = int(batch_id)
        return {"applied_batches": marks}

    # cheap pre-check outside the lock (authoritative re-check under
    # it): a replayed batch skips the gate materialization entirely
    if _already_applied(load_manifest(path)):
        from .generations import generation_head

        return {"generation": generation_head(path), "mode": mode,
                "replayed": True}
    # Pin ONE evaluation of the batch lineage before the gate: the
    # violation counts, the admit write, and the quarantine write must
    # all see the SAME rows, and a non-deterministic upstream (rand,
    # current_timestamp, source files changing mid-run) evaluated once
    # per action could disagree — rows lost or double-routed between
    # store and quarantine. localCheckpoint materializes the batch
    # once (executor memory/disk, lineage truncated; the context
    # cleaner reclaims it on GC); batches are microbatch-sized by
    # contract, so the pin is bounded — and CONDITIONAL since round
    # 12: a plan Catalyst proves deterministic (and free of
    # per-execution time expressions) skips the materialization
    # entirely (pin_once / pin_batch="auto").
    df = pin_once(df, pin_batch)
    flags, bad, rows_in, n_bad, violations = gate_eval(df, expectations)

    if mode == "fail" and n_bad:
        raise ExpectationError({k: v for k, v in violations.items() if v})

    # schema gate (round 12): same contract as append_rows — strict
    # rejects drift before anything is written; evolve records the
    # additive/widened schema with the publish
    from .generations import (
        check_layout,
        check_schema_evolution,
        declared_schema,
        retired_names,
    )

    m_pre = load_manifest(path)
    schema_sj = check_schema_evolution(
        declared_schema(m_pre),
        df.schema.jsonValue(),
        schema_mode,
        retired_names(m_pre),
    )
    check_layout(m_pre, path, partition_by)

    os.makedirs(path, exist_ok=True)
    with commitio.IO.writer_lock(path):
        commitio.IO.recover(path)
        m = load_manifest(path)
        if _already_applied(m):
            return {"generation": int(m["head"]), "mode": mode,
                    "replayed": True}
        if m is None:
            m = {"head": 0, "gens": {}}
            if _data_files(path):
                if idempotency is not None:
                    # a replay-safe stream owns this store exclusively:
                    # unpublished files can only be a crashed batch's
                    # half-written output (its offset never committed,
                    # so THIS call is its redo) — pinning them would
                    # duplicate the batch. Delete instead.
                    for rel in _data_files(path):
                        try:
                            os.remove(os.path.join(path, rel))
                        except OSError:
                            pass
                else:
                    # pre-existing unpublished state: pin it first so
                    # this append's generation diff is exactly this
                    # batch (the adoption path for stores that held
                    # data before gating began)
                    _publish(path, 1, m)
                    m = load_manifest(path)
        elif set(_data_files(path)) != reachable_files(m):
            if idempotency is not None:
                # same reasoning: live-minus-reachable in a replay-safe
                # stream's store is the crashed predecessor of THIS
                # redo, not data to adopt. Reachable = head files PLUS
                # any retained generation pinned at root "." (its
                # files ARE the snapshot — deleting them would break
                # its pinned readers; see generations.reachable_files)
                keep = reachable_files(m)
                for rel in _data_files(path):
                    if rel not in keep:
                        try:
                            os.remove(os.path.join(path, rel))
                        except OSError:
                            pass
            else:
                _publish(path, int(m["head"]) + 1, m)
                m = load_manifest(path)

        # authoritative guard re-check UNDER the lock (r12 advice,
        # low): the pre-lock validation raced other writers — a
        # conflicting layout change or schema evolution that landed
        # since must refuse here, not publish a mixed store
        schema_sj = check_schema_evolution(
            declared_schema(m),
            df.schema.jsonValue(),
            schema_mode,
            retired_names(m),
        )
        check_layout(m, path, partition_by)

        audit = {
            "mode": mode,
            "rows_in": rows_in,
            "rows_appended": rows_in - n_bad,
            "violations": violations,
        }
        if mode == "quarantine":
            audit["rows_quarantined"] = n_bad
        elif mode == "drop":
            audit["rows_dropped"] = n_bad

        # the generation the main publish below will produce — we hold
        # the writer lock, so nothing can move the head under us
        next_gen = int(m["head"]) + 1
        if mode == "quarantine" and n_bad:
            # quarantine FIRST, with its own applied-batch record: a
            # crash between the two publishes replays the batch, the
            # redo sees the quarantine already recorded and skips only
            # this write (main-after-quarantine would instead lose the
            # batch's rejects forever on the same crash)
            qpath = quarantine_path(path)
            qm = load_manifest(qpath) if os.path.isdir(qpath) else None
            if not _already_applied(qm):
                qdf = (
                    df.filter(bad)
                    .withColumn("_violations", violation_tags(flags))
                    .withColumn("_src_generation", F.lit(next_gen))
                )
                qdf.write.mode("append").parquet(qpath)
                strip_markers(qpath)
                publish_generation(qpath, manifest_extra=_applied_extra(qm))

        admitted = df.filter(~bad) if n_bad else df
        if rows_in - n_bad > 0 or not m["gens"]:
            w = admitted.write.mode("append")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
            strip_markers(path)
        # the audit AND the applied-batch bookmark ride the SAME
        # manifest save that records the generation — a crash can
        # never separate the three
        head = publish_generation(
            path,
            bloom_cols=bloom_cols,
            spark=spark,
            entry_extra={"expectations": audit},
            manifest_extra=_applied_extra(m),
            schema=schema_sj,
        )
    return {"generation": head, **audit}


def read_quarantine(
    spark: SparkSession, path: str, at: int | str | None = None
) -> DataFrame:
    """The store's quarantine sibling as a DataFrame (original
    columns + `_violations` + `_src_generation`)."""
    return read_generation(spark, quarantine_path(path), at=at)


def expectation_audit(path: str, at: int | str | None = None) -> dict:
    """The admission audit for one generation (head when None) from
    ONE manifest read — {} for generations published by other verbs."""
    from .generations import _resolve

    m = load_manifest(path)
    if m is None:
        raise ValueError(f"{path!r} has no generation manifest")
    g = _resolve(m, path, at)
    entry = m["gens"].get(str(g))
    if entry is None:
        raise ValueError(f"generation {g} of {path!r} is not available")
    return dict(entry.get("expectations") or {})


def readmit(
    spark: SparkSession,
    path: str,
    expectations: dict,
    fix=None,
) -> dict:
    """Close the repair loop: pull every quarantined row, optionally
    repair it (`fix(df) -> df`, a row-wise transform over the ORIGINAL
    columns — the tag columns are stripped first and re-derived), and
    re-gate the batch through `expectations`:

    - rows that now pass APPEND to the store as a new audited
      generation (entry carries "readmitted": True, so the lineage is
      distinguishable from a fresh ingest);
    - rows that still fail become the quarantine's new content —
      re-tagged against the CURRENT expectations and stamped with the
      new source generation — via a wholesale rewrite of the
      quarantine sibling (quarantines are reject-sized by assumption;
      the rewrite publishes a normal generation, so the pre-repair
      quarantine stays pinnable).

    `expectations` is passed explicitly (the gate never persists its
    predicates — predicate values like datetimes are not JSON-safe,
    and the repair's bar may legitimately differ from admission's).
    Returns {"readmitted": n, "still_quarantined": n,
    "violations": {name: n}} — violations counted over the REPAIRED
    batch. No-op ({} counts) when the store has no quarantine."""
    qpath = quarantine_path(path)
    if not os.path.isdir(qpath):
        return {"readmitted": 0, "still_quarantined": 0, "violations": {}}
    q = read_generation(spark, qpath).drop("_violations", "_src_generation")
    fixed = fix(q) if fix is not None else q
    if not isinstance(fixed, DataFrame):
        raise TypeError("fix must return a DataFrame")

    # same single-evaluation pin as append_with_expectations (and the
    # same conditional skip): the re-gate's counts, the readmit
    # append, and the quarantine rewrite must split ONE evaluation of
    # the repaired batch — a user `fix` built from deterministic
    # column expressions skips the materialization
    fixed = pin_once(fixed)
    flags, bad, rows_in, n_bad, violations = gate_eval(fixed, expectations)

    with commitio.IO.writer_lock(path):
        commitio.IO.recover(path)
        head = None
        if rows_in - n_bad > 0:
            fixed.filter(~bad).write.mode("append").parquet(path)
            strip_markers(path)
            head = publish_generation(
                path,
                entry_extra={
                    "expectations": {
                        "mode": "readmit",
                        "rows_in": rows_in,
                        "rows_appended": rows_in - n_bad,
                        "violations": violations,
                        "readmitted": True,
                    }
                },
            )
        # the quarantine becomes exactly the still-failing rows
        replace_quarantine(
            qpath,
            fixed.filter(bad)
            .withColumn("_violations", violation_tags(flags))
            .withColumn(
                "_src_generation", F.lit(head if head is not None else 0)
            ),
        )
    return {
        "readmitted": rows_in - n_bad,
        "still_quarantined": n_bad,
        "violations": violations,
    }
