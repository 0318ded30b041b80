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
neither. Every gated writer goes through `gate`, which owns the pin,
the count, and the split.

Reference basis: the unchecked append at helper_reduce.c:241 (any
mapper output is folded in verbatim); SURVEY.md §2.12 lists the
resulting silent-corruption defect class this gate closes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .generations import (
    _where_column,
    check_append,
    load_manifest,
    locked_append,
    publish_append,
    read_generation,
    staged_rewrite,
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


def gate(df: DataFrame, expectations: dict, mode: str = "quarantine",
         pin_batch="auto"):
    """The one admission gate, shared by every gated writer
    (`append_with_expectations`, `readmit`, `generations.append_rows`,
    `pipeline.run_incremental_pipeline`): pin the batch once
    (`pin_once`), count per-expectation violations in ONE
    map-side-combined aggregate (one driver row), raise
    ExpectationError in mode "fail" before anything is written, and
    split the batch. Returns (admitted, rejects, audit): `rejects` is
    the violating rows tagged with `_violations` (comma-joined,
    name-sorted names of every failed expectation) in mode
    "quarantine", else None; `audit` is {"mode", "rows_in",
    "rows_appended", "violations": {name: n}} plus "rows_quarantined"
    or "rows_dropped"."""
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")
    df = pin_once(df, pin_batch)
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
    if mode == "fail" and n_bad:
        raise ExpectationError({k: v for k, v in violations.items() if v})
    audit = {
        "mode": mode,
        "rows_in": rows_in,
        "rows_appended": rows_in - n_bad,
        "violations": violations,
    }
    rejects = None
    if mode == "quarantine":
        audit["rows_quarantined"] = n_bad
        # concat_ws skips the NULLs of passed expectations
        rejects = df.filter(bad).withColumn(
            "_violations",
            F.concat_ws(",", *[F.when(fl, F.lit(name)) for name, fl in flags]),
        )
    elif mode == "drop":
        audit["rows_dropped"] = n_bad
    return (df.filter(~bad) if n_bad else df), rejects, audit


def replace_quarantine(qpath: str, rows: DataFrame) -> None:
    """Make `rows` the quarantine's complete content: a staged rewrite
    under the quarantine's own writer lock that carries its prior
    generations, so the pre-rewrite quarantine stays pinnable."""
    with locked_append(qpath) as m:
        staged_rewrite(
            qpath,
            lambda staging: rows.write.mode("overwrite").parquet(staging),
            "mri_quarantine_",
        )
        if m is None:
            publish_append(qpath)


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
    whole call is a no-op. A replay-safe stream owns its store, so
    unpublished files in it (or in its quarantine) can only be a
    crashed batch's half-written output, which this call redoes: they
    are swept, never adopted (`generations.locked_append`)."""
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
    admitted, rejects, audit = gate(df, expectations, mode, pin_batch)

    # schema gate: same contract as append_rows — strict rejects drift
    # before anything is written; evolve records the additive/widened
    # schema with the publish. Checked again under the lock, where a
    # writer that landed since may have changed the layout or schema.
    check_append(load_manifest(path), path, df, schema_mode, partition_by)
    settle = "keep" if idempotency is None else "sweep"
    os.makedirs(path, exist_ok=True)
    with locked_append(path, settle, adopt=idempotency is None) as m:
        if _already_applied(m):
            return {"generation": int(m["head"]), "mode": mode,
                    "replayed": True}
        m = m or {"head": 0, "gens": {}}
        schema_sj = check_append(m, path, df, schema_mode, partition_by)
        if audit.get("rows_quarantined"):
            # quarantine FIRST, with its own applied-batch record: a
            # crash between the two publishes replays the batch, the
            # redo sees the quarantine already recorded and skips only
            # this write (main-after-quarantine would instead lose the
            # batch's rejects forever on the same crash). We hold the
            # writer lock, so the main publish below is head + 1.
            qpath = quarantine_path(path)
            with locked_append(qpath, settle, adopt=idempotency is None) as qm:
                if not _already_applied(qm):
                    publish_append(
                        qpath,
                        rejects.withColumn(
                            "_src_generation", F.lit(int(m["head"]) + 1)
                        ).write.mode("append").parquet,
                        manifest_extra=_applied_extra(qm),
                    )

        def write(p: str) -> None:
            w = admitted.write.mode("append")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(p)

        # the audit AND the applied-batch bookmark ride the SAME
        # manifest save that records the generation — a crash can
        # never separate the three
        head = publish_append(
            path,
            write if audit["rows_appended"] > 0 or not m["gens"] else None,
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

    # the re-gate's counts, the readmit append, and the quarantine
    # rewrite split ONE evaluation of the repaired batch (`gate` pins
    # it unless the `fix` plan is deterministic)
    admitted, still_bad, audit = gate(fixed, expectations)

    with locked_append(path):
        head = None
        if audit["rows_appended"] > 0:
            head = publish_append(
                path,
                admitted.write.mode("append").parquet,
                entry_extra={
                    "expectations": {
                        "mode": "readmit",
                        "rows_in": audit["rows_in"],
                        "rows_appended": audit["rows_appended"],
                        "violations": audit["violations"],
                        "readmitted": True,
                    }
                },
            )
        # the quarantine becomes exactly the still-failing rows
        replace_quarantine(
            qpath,
            still_bad.withColumn(
                "_src_generation", F.lit(head if head is not None else 0)
            ),
        )
    return {
        "readmitted": audit["rows_appended"],
        "still_quarantined": audit["rows_quarantined"],
        "violations": audit["violations"],
    }
