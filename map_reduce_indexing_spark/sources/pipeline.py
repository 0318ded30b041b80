"""Incremental store-to-store pipelines over artifact generations.

The reference's pipeline is one shot: map -> reduce -> overwrite the
derived store, re-reading the whole corpus every run (helper_map.c +
helper_reduce.c regenerate everything). The extension tier already
made single artifacts incremental (matviews, the index's delta
appends); this module chains STORES: a destination store that is a
transform of a source store and advances by consuming only the
source rows published since its last run —

    run_incremental_pipeline(spark, src, dst, transform)

- `transform(df) -> df` is the stage's logic, applied per source
  DELTA. For the result to equal transform(full source) the transform
  must distribute over union — row-wise maps, filters, projections,
  per-row feature extraction (the ETL stages a training pipeline
  chains). Cross-row aggregation belongs to matviews, which maintain
  it exactly; the pipeline runner neither detects nor fixes a
  non-distributive transform (documented contract, like matview
  row_keys).

- EXACTLY-ONCE bookkeeping lives in the destination manifest, not a
  side file, written in the SAME atomic save that records the
  generation (generations.py:_publish entry_extra/manifest_extra) —
  so a crash can never leave a recorded span whose rows were lost.
  The converse window (output appended, crash BEFORE the publish
  records it) leaves unpublished orphan files with the bookmark
  unadvanced; the next run's orphan sweep deletes live-minus-head
  files under the writer lock before re-reading the span (safe: no
  published generation references an unpublished file), so the retry
  lands exactly once. Bookmarks are keyed by `os.path.realpath` of
  the source (a symlinked alias of one source must hit the SAME
  bookmark, not a fresh 0); `on_first_run="error"` additionally
  refuses a bookmark-less full-source read into a destination that
  already has published data — the posture for declared
  single-source destinations (the default "append" keeps multi-source
  fan-in working). Two records per run: the per-generation entry
  {"pipeline": {"src", "since", "until", "mode"}} (run lineage,
  expires with its generation) and a TOP-LEVEL {"pipelines": {src:
  until}} map (the durable bookmark — retention expires generation
  entries, and without the map a destination churned by non-pipeline
  verbs would eventually reset to 0 and re-consume the source). The
  next run resumes from the max of both; a completed span re-runs as
  a no-op.

- A source span that REWROTE files (compaction fold, delete, upsert)
  is not a union-delta, so per-delta transforms don't compose across
  it. `on_rewrite` picks the posture: "rebuild" (default) recomputes
  the destination wholesale from the source head — exact for any
  transform, one source scan, published as a normal new destination
  generation so downstream consumers see a rewrite span themselves
  and make the same choice; "error" refuses, for destinations too
  expensive to rebuild blindly.

- Chains compose: the destination is itself a generations store, so
  stage N+1 consumes stage N's diffs with the same guarantees, and a
  rebuild anywhere propagates as rebuilds downstream — the lakehouse
  medallion (bronze/silver/gold) shape on this repo's own store
  primitive.

At 100 TB this is the difference between nightly ETL that re-reads
the lake and ETL that reads one night's files per stage: cost is
delta-sized per stage, crash-safe under the writer flock, and
re-runnable at will.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localrel import local_rows_df
from . import commitio
from .generations import (
    diff_plan,
    generation_diff,
    generation_head,
    load_manifest,
    publish_generation,
    read_generation,
    staged_rewrite,
    strip_markers,
)


def _src_keys(src_path: str) -> list[str]:
    """Bookmark keys for one source, most-canonical first. realpath is
    THE key (a symlinked or re-mounted alias of one source must
    resolve to the SAME bookmark — an alias starting from 0 would
    full-read the source onto the destination a second time); abspath
    rides along for manifests written before the realpath fix."""
    rp = os.path.realpath(src_path)
    ap = os.path.abspath(src_path)
    return [rp] if rp == ap else [rp, ap]


def pipeline_bookmark(dst_path: str, src_path: str) -> int:
    """The highest source generation the destination has consumed —
    derived from the destination's generation entries (one manifest
    read), 0 when no pipeline publish exists yet."""
    m = load_manifest(dst_path)
    if m is None:
        return 0
    keys = set(_src_keys(src_path))
    # the top-level map is the durable record (generation entries
    # expire with retention; this key survives every publish, carry,
    # and swap); the per-entry records are the per-run lineage and
    # keep old manifests working
    marks = m.get("pipelines") or {}
    best = max((int(marks.get(k, 0)) for k in keys), default=0)
    for g in m["gens"].values():
        p = g.get("pipeline")
        if p and p.get("src") in keys:
            best = max(best, int(p["until"]))
    return best


def run_incremental_pipeline(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    transform,
    on_rewrite: str = "rebuild",
    partition_by: list[str] | None = None,
    expectations: dict | None = None,
    expect_mode: str = "quarantine",
    on_first_run: str = "append",
) -> dict:
    """Advance `dst_path` to `src_path`'s head by transforming only
    the unconsumed source rows. Returns {"mode": "noop" | "append" |
    "rebuild", "src_from": g0, "src_to": g1, "generation": dst gen}.
    See the module docstring for the transform contract and the
    exactly-once/crash story.

    `expectations` gates the TRANSFORMED output (the medallion
    promotion gate: bronze rows may be arbitrarily dirty, the silver
    store admits only rows proving the declared predicates) with the
    append_with_expectations semantics: `expect_mode` "quarantine"
    routes rejects to the destination's `.quarantine` sibling tagged
    with their failed expectations, "drop" discards them, "fail"
    raises BEFORE anything is written — and since the bookmark only
    advances with a publish, a failed run leaves the span unconsumed:
    the retry after fixing the source re-reads exactly the same delta
    (exactly-once is preserved through failures). The audit rides the
    destination's generation entry under "expectations", same as the
    direct gate."""
    if on_rewrite not in ("rebuild", "error"):
        raise ValueError(f"on_rewrite must be rebuild|error, got {on_rewrite!r}")
    if expect_mode not in ("fail", "drop", "quarantine"):
        raise ValueError(
            f"expect_mode must be fail|drop|quarantine, got {expect_mode!r}"
        )
    if on_first_run not in ("append", "error"):
        raise ValueError(
            f"on_first_run must be append|error, got {on_first_run!r}"
        )
    from .generations import _data_files, reachable_files

    os.makedirs(dst_path, exist_ok=True)
    with commitio.IO.writer_lock(dst_path):
        commitio.IO.recover(dst_path)
        # Orphan sweep: a prior run that crashed BETWEEN its output
        # append and its publish leaves data files on the live listing
        # that no generation records — and its bookmark unadvanced, so
        # the retry re-transforms the same span and the next publish
        # would fold BOTH copies in (permanent duplicates). Every store
        # verb publishes atomically, so live-minus-head files in a
        # pipeline destination are exactly that crash residue: delete
        # them (no published reader can reference an unpublished file).
        # A destination with data but NO manifest is pre-pipeline
        # content, not residue — the first publish pins it as the base
        # generation, same as append_with_expectations' adoption path.
        m_live = load_manifest(dst_path)
        head_entry = (
            m_live["gens"].get(str(m_live["head"])) if m_live else None
        )
        if head_entry is not None:
            # reachable = head + any retained generation pinned at
            # root "." (its files ARE the snapshot — see
            # generations.reachable_files); deleting live-minus-HEAD
            # alone would break that generation's pinned readers
            keep = reachable_files(m_live)
            for rel in _data_files(dst_path):
                if rel not in keep:
                    try:
                        os.remove(os.path.join(dst_path, rel))
                    except OSError:
                        pass
        src_head = generation_head(src_path)
        since = pipeline_bookmark(dst_path, src_path)
        if (
            since == 0
            and on_first_run == "error"
            and head_entry is not None
            and head_entry["files"]
        ):
            # first run of THIS source against a destination that
            # already holds published data: a full source read would
            # append wholesale. Legitimate for multi-source fan-in
            # (the default posture) — refused when the caller declares
            # the destination single-source (on_first_run='error').
            raise ValueError(
                f"no bookmark for source {src_path!r} but destination "
                f"{dst_path!r} already has published data; a first run "
                "appends the FULL source head (on_first_run='error'). "
                "Pass on_first_run='append' for multi-source fan-in."
            )
        if since >= src_head:
            return {
                "mode": "noop",
                "src_from": since,
                "src_to": since,
                "generation": generation_head(dst_path),
            }
        mode = "append"
        if since > 0:
            try:
                kind, _rels = diff_plan(src_path, since, src_head)
            except ValueError:
                kind = "rewrite"  # bookmark generation expired: rebuild
            if kind != "append":
                if on_rewrite == "error":
                    raise ValueError(
                        f"source span {since}->{src_head} of {src_path!r} "
                        "rewrote files; per-delta transforms do not compose "
                        "across it (on_rewrite='error')"
                    )
                mode = "rebuild"

        src_abs = _src_keys(src_path)[0]
        entry = {
            "pipeline": {
                "src": src_abs,
                "since": since,
                "until": src_head,
                "mode": mode,
            }
        }
        # bookmark map: top-level so RETENTION can never expire it —
        # without this, a dst whose newest generations came from
        # non-pipeline verbs (delete, compaction) could age every
        # pipeline entry past GEN_TTL and reset the bookmark to 0,
        # making the next run duplicate the whole source
        from .generations import check_schema_evolution, declared_schema

        m0 = load_manifest(dst_path)
        marks = dict((m0 or {}).get("pipelines") or {})
        for alias in _src_keys(src_path)[1:]:
            marks.pop(alias, None)  # fold legacy abspath keys into realpath
        marks[src_abs] = src_head
        top = {"pipelines": marks}
        if mode == "rebuild" or since == 0:
            batch = read_generation(spark, src_path, at=src_head)
        else:
            batch = generation_diff(spark, src_path, since, src_head)
        out = transform(batch)
        if not isinstance(out, DataFrame):
            raise TypeError("transform must return a DataFrame")
        # a derived store follows its transform's output shape: when
        # the SOURCE evolved (schema evolution flows through the
        # transform — added columns, widened types), the destination
        # evolves WITH it rather than rejecting its own pipeline; the
        # evolve rules still refuse drops/narrowing on the APPEND
        # path, where they signal a transform bug against data the
        # destination already holds. A REBUILD rewrites every row, so
        # its output schema simply becomes the declared schema.
        out_schema = (
            out.schema.jsonValue()
            if mode == "rebuild" or since == 0 and m0 is None
            else check_schema_evolution(
                declared_schema(m0), out.schema.jsonValue(), "evolve"
            )
        )
        if mode != "rebuild":
            # layout guard (round 12): an append under a different
            # partition scheme would corrupt every later read; a
            # rebuild rewrites wholesale, so it may change the layout
            from .generations import check_layout

            check_layout(m0, dst_path, partition_by)

        rejects = None
        if expectations:
            from .expectations import (
                ExpectationError,
                gate_eval,
                pin_once,
                violation_tags,
            )

            # single-evaluation pin (see expectations.pin_once): the
            # gate counts, the admit write, and the quarantine write
            # must split ONE evaluation of the transformed delta —
            # skipped when the transform's plan is provably
            # deterministic (the common projection/filter ETL stage)
            out = pin_once(out)
            flags, bad, rows_in, n_bad, violations = gate_eval(
                out, expectations
            )
            if expect_mode == "fail" and n_bad:
                # nothing written, bookmark not advanced: the retry
                # re-reads this exact span
                raise ExpectationError(
                    {k: v for k, v in violations.items() if v}
                )
            audit = {
                "mode": expect_mode,
                "rows_in": rows_in,
                "rows_appended": rows_in - n_bad,
                "violations": violations,
            }
            if expect_mode == "quarantine":
                audit["rows_quarantined"] = n_bad
                # a rebuild's reject set is COMPLETE (every destination
                # row was recomputed), so it must replace the
                # quarantine even when empty — stale rejects would
                # otherwise outlive the rows they came from
                if n_bad or mode == "rebuild":
                    rejects = out.filter(bad).withColumn(
                        "_violations", violation_tags(flags)
                    )
            elif expect_mode == "drop":
                audit["rows_dropped"] = n_bad
            entry["expectations"] = audit
            if n_bad:
                out = out.filter(~bad)

        if mode == "rebuild":
            # staged overwrite, same swap discipline as compaction:
            # the destination's prior generations stay pinned/readable

            def write(staging: str) -> None:
                w = out.write.mode("overwrite")
                if partition_by:
                    w = w.partitionBy(*partition_by)
                w.parquet(staging)

            # the staged manifest records the rebuilt listing as the new
            # head — the bookmark rides that same save, and the swap
            # publishes data + manifest together
            staged_rewrite(
                dst_path,
                write,
                "mri_pipeline_",
                spark=spark,
                entry_extra=entry,
                manifest_extra=top,
                schema=out_schema,
            )
            gen = generation_head(dst_path)
        else:
            w = out.write.mode("append")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(dst_path)
            strip_markers(dst_path)
            gen = publish_generation(
                dst_path,
                spark=spark,
                entry_extra=entry,
                manifest_extra=top,
                schema=out_schema,
            )
        if rejects is not None:
            from .expectations import quarantine_path, replace_quarantine

            qpath = quarantine_path(dst_path)
            rejects = rejects.withColumn("_src_generation", F.lit(gen))
            if mode == "rebuild" and os.path.isdir(qpath):
                # a rebuild recomputed EVERY destination row, so its
                # rejects are the quarantine's complete new content —
                # appending would duplicate rows earlier runs already
                # quarantined
                replace_quarantine(qpath, rejects)
            elif n_bad:
                # fresh rejects (a rebuild with nothing to replace and
                # nothing rejected creates no quarantine)
                rejects.write.mode("append").parquet(qpath)
                strip_markers(qpath)
                publish_generation(qpath)
        result = {
            "mode": mode if since > 0 else "append",
            "src_from": since,
            "src_to": src_head,
            "generation": gen,
        }
    # outside the writer lock (optimize takes its own): fire the
    # destination's recorded small-file policy, if any — nightly
    # pipelines appending one generation per run are the other
    # unbounded-file-count shape besides streaming ingest
    from .generations import maybe_autocompact

    new_head = maybe_autocompact(spark, dst_path)
    if new_head is not None:
        result["compacted_to"] = new_head
    return result


def pipeline_runs(spark: SparkSession, dst_path: str) -> DataFrame:
    """The destination's run history as a DataFrame — one row per
    pipeline-published generation: (generation, src, since, until,
    mode, plus the admission audit columns when the run was gated).
    ONE manifest read, no data files opened — the lineage answer
    ('what did last night's run consume, and how dirty was it')
    served from metadata, like expectation_audit and
    generation_row_count."""
    m = load_manifest(dst_path)
    rows = []
    for g in sorted((m or {"gens": {}})["gens"], key=int):
        e = (m["gens"][g]).get("pipeline")
        if not e:
            continue
        exp = (m["gens"][g]).get("expectations") or {}
        rows.append(
            (
                int(g),
                e["src"],
                int(e["since"]),
                int(e["until"]),
                e.get("mode"),
                int(exp["rows_in"]) if "rows_in" in exp else None,
                int(exp["rows_appended"]) if "rows_appended" in exp else None,
            )
        )
    return local_rows_df(
        spark,
        rows,
        "generation long, src string, since long, until long, "
        "mode string, gated_rows_in long, gated_rows_appended long",
    )
