"""Incremental materialized aggregates over artifact generations.

The reference rebuilds its derived stores from scratch on every
mutation (helper_reduce.c regenerates the whole letter file on
append); this module is the extension tier's scale answer for the
aggregate-shaped derived stores: a MATERIALIZED VIEW over a
generations-managed base artifact that refreshes by consuming ONLY
the rows added since the generation it last saw.

Design — classic incremental view maintenance (IVM) restricted to the
homomorphic aggregates, which is exactly what makes it exact:

- The view persists PARTIAL aggregates per group: `count` and `sum`
  add, `min`/`max` combine, `avg` is served as sum/count at read.
  Because the base artifact's row set is append-only (appends add
  rows; compaction rewrites files but folds/preserves rows — the
  store contract throughout this repo), every supported aggregate is
  a commutative monoid over the row multiset, so
      merge(view@G1, agg(rows added in G1..G2)) == agg(rows@G2)
  holds EXACTLY, not approximately — *within an append-only span*.
  Refresh therefore consumes `generation_diff`'s fast path, which
  PROVES the span append-only by file containment. A rewrite may
  fold rows into existing keys (compact_index sums duplicate
  (word, doc_id) partials) or remove rows (delete_rows/upsert_rows),
  and no key-level anti-join can recover either: a key-only delta
  misses value changes on retained keys (the appended cnt would
  silently vanish from sum aggregates). Across rewriting spans the
  refresh picks, in order:
  (1) RETRACTION (round 10): when every aggregate is an abelian
      GROUP under removal — count/sum, the avg/stddev ingredients,
      and count_distinct via its multiplicity-carrying support — and
      the spec has row keys plus a count(*) group-liveness anchor,
      the refresh consumes the row-level change feed (which scans
      only the span's DIFFERING files), applies postimages/inserts,
      retracts preimages/deletes, and drops groups whose row count
      hits zero. A 2-of-1000-file delete costs those two files' two
      versions plus answer-sized state — never the base.
  (2) REBUILD from the head snapshot otherwise (min/max and HLL
      registers are not retractable; no row keys = no change feed):
      exact by construction, one head scan.

- `count_distinct` — the textbook NON-distributive aggregate — is
  maintained EXACTLY via an auxiliary SUPPORT view (the standard IVM
  move): per distinct-counted column the view also stores
  `(group keys, value) -> n_rows`, itself a sum-monoid, and the
  served distinct count is the support's per-group row count. The
  support is (group x distinct-value)-sized — the distinct count's
  own output size, not the base's row count.

- `approx_distinct` is the sketch alternative for when even the
  support table is too big (e.g. distinct user-ids per day at 100 TB):
  the view stores an HLL SKETCH binary per group
  (`hll_sketch_agg`), refresh merges sketches (`hll_union_agg` —
  register-wise max, a commutative idempotent monoid, so incremental
  merge == full rebuild by construction), and the served column is
  the estimate. This is the Iceberg/DataSketches pattern: mergeable
  sketches ARE the reason sketches beat exact algorithms in a
  snapshot-incremental world.

- Refresh cost is delta-sized: the diff's fast path scans ONLY the
  files published after the view's pinned generation, the delta
  partial-agg shuffles delta-group cardinality, and the merge is a
  union + re-aggregate of (stored groups + delta groups) — the
  stored side is group-cardinality-sized, not base-row-sized. At
  100 TB with daily appends this is the difference between a full
  corpus scan per refresh and a scan of one day.

- `rollup_matview` is the AGGREGATION-NAVIGATOR half (the
  materialized-view ROUTING idea, e.g. Calcite's lattice rewrite):
  any GROUP BY over a SUBSET of the view's keys is answerable from
  the stored partials alone — counts/sums re-add, min/max re-combine,
  count_distinct re-counts the support projected to the coarser keys
  (values collapse across merged groups exactly), sketches re-union —
  so a dashboard's coarser queries never touch the base at all.

- Durability follows the house artifact discipline: the view is a
  parquet directory (plus `_support_<out>/` parquet subdirs —
  underscore-prefixed, invisible to a plain read of the view root)
  plus a `_matview.json` sidecar (base path, pinned base generation,
  spec), written via one staged swap (`generations.staged_rewrite`)
  under `commitio.IO.writer_lock(view_path)` — a crash leaves the old view + old
  sidecar (the pinned generation is re-consumable because generations
  are immutable and retained), a torn state is impossible.

- `avg` / `stddev` are DERIVED ratios over mergeable ingredients
  (internal sum / non-null count / sum-of-squares columns — each a
  sum-monoid), recomputed at every write and at rollup; stddev is the
  SQL sample form, null below n=2. With integer/decimal inputs the
  ingredients are exact, so incremental == full rebuild bit-for-bit.

- ONE maintenance engine serves every view. A view aggregates FACT
  ⋈ DIMS (`create_matview_join` — every real dashboard joins a fact
  to dimensions), and a single-table view (`create_matview`) is the
  zero-dimension case. Refresh applies the standard join-IVM
  telescoping delta — Σ_i (new ⋈ … ⋈ ΔR_i ⋈ … ⋈ old), each term
  delta-sized in ΔR_i, stable stores contributing no term — so with
  dims stable the refresh is exactly ΔF ⋈ dims, and with no dims it
  is ΔF alone. A store whose span rewrote files contributes its
  signed change feed (retraction, above) or triggers the exact
  rebuild.

- `"hist:<lo>:<hi>:<nbins>"` (round 10 third wave) materializes an
  equal-width HISTOGRAM of a numeric column per group, stored as
  nbins+2 internal bin-count columns (underflow / interior / overflow;
  NULLs count nowhere) and served as one array<long>. Bin counts are
  plain sum-monoids, so the histogram merges incrementally AND
  retracts — the maintainable distribution statistic: `hist_quantile`
  serves interpolated percentiles from the view at declared-bin-width
  resolution, where exact percentiles are unmaintainable and exact
  distinct supports rewrite answer-sized state.

Spec shape: `aggs` maps output column -> (op, input column) with op in
{"count", "sum", "min", "max", "count_distinct", "approx_distinct",
"avg", "stddev", "hist:<lo>:<hi>:<nbins>"}; `("count", "*")` counts
rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import commitio
from ..sources.generations import (
    diff_plan,
    generation_diff,
    generation_head,
    read_generation,
    staged_rewrite,
)

MATVIEW_FILE = "_matview.json"
# Per-view ref on the BASE store: the pinned generation is tagged so
# retention (GEN_RETAIN/GEN_TTL) can never expire it under writer
# churn — without the tag a slow dashboard's view would eventually
# refresh into "generation N not available" with no recovery short of
# recreating the view. The tag moves to the new pin on every
# successful refresh (the Iceberg ref rule, same as tag_generation).
_VIEW_REF_PREFIX = "_mv_"
# A refresh appends its delta partials to the support tables (staging
# hardlinks the stored files — no answer-sized rewrite); once a
# support has accumulated this many data files, the next refresh
# folds it back to one row per (group, value).
SUPPORT_FOLD_FILES = 32

_OPS = {
    "count",
    "sum",
    "min",
    "max",
    "count_distinct",
    "approx_distinct",
    "avg",
    "stddev",
}
# The histogram aggregate (round 10 third wave): op string
# "hist:<lo>:<hi>:<nbins>" over a numeric column stores nbins+2 bin
# counts (index 0 = underflow v < lo, 1..nbins = equal-width interior
# bins over [lo, hi), nbins+1 = overflow v >= hi; NULLs count nowhere)
# and serves them as ONE array<long> column. Bin counts are plain
# sum-monoids, so the histogram is fully RETRACTABLE — the
# distribution-statistics answer to the r10 finding that exact
# count_distinct maintenance is support-bound: percentiles served
# from the view (hist_quantile) refresh at group-sized cost under
# append, delete, AND upsert, with a fixed, declared resolution.
_HIST_PREFIX = "hist:"


def _hist_params(op: str) -> tuple[float, float, int]:
    """(lo, hi, nbins) parsed from a 'hist:<lo>:<hi>:<nbins>' op."""
    parts = op.split(":")
    if len(parts) != 4:
        raise ValueError(f"malformed hist op {op!r}: want hist:<lo>:<hi>:<n>")
    lo, hi, nbins = float(parts[1]), float(parts[2]), int(parts[3])
    if not (hi > lo) or nbins < 1:
        raise ValueError(f"hist op {op!r} needs hi > lo and nbins >= 1")
    return lo, hi, nbins


def _valid_op(op: str) -> bool:
    if op in _OPS:
        return True
    if op.startswith(_HIST_PREFIX):
        _hist_params(op)
        return True
    return False


def _bin_cond(col: str, lo: float, hi: float, nbins: int, i: int):
    """Row-level membership test for bin `i` of a hist aggregate. The
    interior index is least(floor((v - lo)/w), nbins-1): the clamp
    absorbs the one float-rounding edge where (v - lo)/w for v just
    under `hi` rounds up to nbins exactly — without it that row would
    fall between interior and overflow. The SQL oracle mirrors the
    same expression, so both engines bin identically bit-for-bit."""
    v = F.col(col).cast("double")
    if i == 0:
        return v < F.lit(lo)
    if i == nbins + 1:
        return v >= F.lit(hi)
    w = (hi - lo) / nbins
    idx = F.least(F.floor((v - F.lit(lo)) / F.lit(w)), F.lit(nbins - 1))
    return (v >= F.lit(lo)) & (v < F.lit(hi)) & (idx == F.lit(i - 1))


def _load_spec(view_path: str) -> dict:
    p = os.path.join(view_path, MATVIEW_FILE)
    with open(p) as fh:
        return json.load(fh)


def _view_ref(view_path: str) -> str:
    import hashlib

    digest = hashlib.md5(
        os.path.abspath(view_path).encode("utf-8")
    ).hexdigest()[:12]
    return f"{_VIEW_REF_PREFIX}{digest}"


def _pin_base(base_path: str, view_path: str, gen: int) -> None:
    """Tag the view's pinned base generation under the view's own ref
    name (re-tagging moves the ref — old pins re-enter normal TTL
    retention at the base's next publish)."""
    from ..sources.generations import tag_generation

    tag_generation(base_path, _view_ref(view_path), at=gen)


def _split(aggs: dict) -> tuple[dict, dict, dict, dict]:
    """(mergeable, count_distinct, approx_distinct, derived)
    sub-specs. `derived` holds avg/stddev — RATIOS of mergeable
    pieces, stored as internal sum/count/sum-of-squares columns and
    recomputed at every write (a ratio is not a monoid; its
    ingredients are)."""
    merge, cd, hll, der = {}, {}, {}, {}
    for out, (op, col) in aggs.items():
        if op == "count_distinct":
            cd[out] = col
        elif op == "approx_distinct":
            hll[out] = col
        elif op in ("avg", "stddev") or op.startswith(_HIST_PREFIX):
            der[out] = (op, col)
        else:
            merge[out] = (op, col)
    return merge, cd, hll, der


def _physical(aggs: dict) -> dict:
    """The stored MERGEABLE columns: the plain mergeable outputs plus
    the internal ingredients backing each derived output (`_dvs_` sum,
    `_dvn_` non-null count, `_dvq_` sum of squares for stddev).
    A spec with no mergeable/derived outputs at all (e.g. only
    count_distinct) gets an internal `_mvc_rows` row count so the
    grouped agg's expression list is never empty — GroupedData.agg()
    with zero expressions raises.
    Exactness note: with integer or decimal inputs every ingredient is
    exact, so incremental == full rebuild bit-for-bit (the sum of
    squares widens decimals — overflow surfaces as NULL, never as a
    wrong number); with double inputs the partial sums are
    order-sensitive like any float aggregate."""
    merge, _cd, _hll, der = _split(aggs)
    phys = dict(merge)
    for out, (op, col) in der.items():
        if op.startswith(_HIST_PREFIX):
            lo, hi, nb = _hist_params(op)
            for i in range(nb + 2):
                phys[f"_hb_{out}_{i}"] = ("bin", (col, lo, hi, nb, i))
            continue
        phys[f"_dvs_{out}"] = ("sum", col)
        phys[f"_dvn_{out}"] = ("count", col)
        if op == "stddev":
            phys[f"_dvq_{out}"] = ("sumsq", col)
    if not phys:
        phys["_mvc_rows"] = ("count", "*")
    return phys


_INTERNAL_PREFIXES = ("_sk_", "_dvs_", "_dvn_", "_dvq_", "_mvc_", "_hb_")


def _sk(out: str) -> str:
    return f"_sk_{out}"


def _partial_agg(df: DataFrame, key_cols: list[str], aggs: dict) -> DataFrame:
    """One partial-aggregate row per group: the mergeable scalars plus
    one HLL sketch binary per approx_distinct output. Spark's hash
    aggregate computes this with a map-side combine, so the exchange
    carries group cardinality, not row counts. count_distinct outputs
    are NOT here — they live in the support tables."""
    _m, _cd, hll, _der = _split(aggs)
    exprs = []
    for out, (op, col) in _physical(aggs).items():
        if op == "count":
            exprs.append(
                (F.count(F.lit(1)) if col == "*" else F.count(col)).alias(out)
            )
        elif op == "sum":
            exprs.append(F.sum(col).alias(out))
        elif op == "sumsq":
            exprs.append(F.sum(F.col(col) * F.col(col)).alias(out))
        elif op == "bin":
            exprs.append(
                F.sum(
                    F.when(_bin_cond(*col), F.lit(1)).otherwise(F.lit(0))
                ).alias(out)
            )
        elif op == "min":
            exprs.append(F.min(col).alias(out))
        elif op == "max":
            exprs.append(F.max(col).alias(out))
        else:
            raise ValueError(f"unsupported aggregate op {op!r}")
    for out, col in hll.items():
        exprs.append(F.hll_sketch_agg(col).alias(_sk(out)))
    return df.groupBy(*key_cols).agg(*exprs)


def _support_partial(
    df: DataFrame, key_cols: list[str], col: str
) -> DataFrame:
    """The support view's partial rows for one distinct-counted
    column: (group keys, value) -> row count, or the sum of `_sg` for
    a signed change frame (a multiplicity that retracts). NULLs are
    excluded up front — COUNT(DISTINCT col) ignores them (SQL
    semantics)."""
    n = F.sum("_sg") if "_sg" in df.columns else F.count(F.lit(1))
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(*key_cols, F.col(col).alias("_v"))
        .agg(n.alias("_n"))
    )


def _merge_exprs(aggs: dict) -> list:
    """The re-aggregation of stored partials, for a refresh's merge
    and a rollup alike: counts and sums ADD (count-of-nonnull partials
    merge by summation, not re-counting — re-counting would count
    partial ROWS), min/max combine, HLL sketches union (register-wise
    max)."""
    _m, _cd, hll, _der = _split(aggs)
    exprs = []
    for out, (op, _col) in _physical(aggs).items():
        if op in ("count", "sum", "sumsq", "bin"):
            exprs.append(F.sum(out).alias(out))
        elif op == "min":
            exprs.append(F.min(out).alias(out))
        else:
            exprs.append(F.max(out).alias(out))
    for out in hll:
        exprs.append(F.hll_union_agg(_sk(out)).alias(_sk(out)))
    return exprs


def _join_null_safe(
    left: DataFrame, right: DataFrame, key_cols: list[str]
) -> DataFrame:
    """LEFT JOIN on the group keys with NULL-SAFE equality (group keys
    may legitimately be NULL — a plain equi-join would silently drop
    the null group's derived columns). The right side's keys are
    renamed before the join: both frames usually share lineage (view
    and support derive from the same base scan), and same-name columns
    would resolve to ONE attribute — a trivially-true predicate.
    Empty key_cols (a global rollup) degenerates to a 1-row broadcast
    join — LEFT on a true condition, not a cross join, so an EMPTY
    right side (all values null -> no support rows) still keeps the
    left row and coalesces to 0."""
    if not key_cols:
        return left.join(F.broadcast(right), F.lit(True), "left")
    tmp = {k: f"_mvk_{i}" for i, k in enumerate(key_cols)}
    r = right
    for k, t in tmp.items():
        r = r.withColumnRenamed(k, t)
    cond = None
    for k, t in tmp.items():
        e = left[k].eqNullSafe(F.col(t))
        cond = e if cond is None else (cond & e)
    return left.join(r, cond, "left").drop(*tmp.values())


def _attach_derived(
    main: DataFrame,
    supports: dict[str, DataFrame],
    key_cols: list[str],
    aggs: dict,
) -> DataFrame:
    """Materialize the SERVED columns onto the main frame: each
    count_distinct output is its support's per-group row count
    (null-safe join — group keys may legitimately be NULL), each
    approx_distinct output is its sketch's estimate, each avg/stddev
    output is recomputed from its stored ingredients. Groups whose
    values were all NULL have no support rows: distinct count 0."""
    _merge, cd, hll, der = _split(aggs)
    out = main
    for name, sup in supports.items():
        # count DISTINCT values, not rows: the append-maintained
        # support may carry the same (group, value) pair in several
        # partial files (folded only opportunistically)
        counts = sup.groupBy(*key_cols).agg(
            F.count_distinct("_v").alias(name)
        )
        out = _join_null_safe(out, counts, key_cols)
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(0)))
    for name in hll:
        out = out.withColumn(
            name,
            F.coalesce(F.hll_sketch_estimate(_sk(name)), F.lit(0)),
        )
    for name, (op, _col) in der.items():
        out = out.withColumn(name, _derived_expr(op, name))
    return out


def _derived_expr(op: str, name: str) -> F.Column:
    """avg = s/n (null when the group saw no non-null values); stddev
    is the SAMPLE form sqrt((q - s^2/n) / (n-1)), null for n < 2 —
    matching SQL STDDEV. Division happens once, in double, from exact
    ingredients."""
    if op.startswith(_HIST_PREFIX):
        _lo, _hi, nb = _hist_params(op)
        return F.array(
            *[F.col(f"_hb_{name}_{i}").cast("long") for i in range(nb + 2)]
        )
    s = F.col(f"_dvs_{name}").cast("double")
    n = F.col(f"_dvn_{name}").cast("double")
    if op == "avg":
        return F.when(n > 0, s / n)
    q = F.col(f"_dvq_{name}").cast("double")
    var = (q - s * s / n) / (n - F.lit(1.0))
    return F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0))))


def _write_view(
    df: DataFrame,
    view_path: str,
    sidecar: dict,
    supports: dict[str, DataFrame],
) -> None:
    """Staged write + atomic swap of data, support tables, AND sidecar
    together (`staged_rewrite`, the same crash story as
    compact_artifact: old view intact until the swap). The caller
    holds the view's writer flock."""

    def write(staging: str) -> None:
        df.write.mode("overwrite").parquet(staging)
        for name, sup in supports.items():
            dst = os.path.join(staging, f"_support_{name}")
            if isinstance(sup, tuple):
                # ("append", existing_dir, delta_partials): the stored
                # support rows are immutable partials, so staging
                # HARDLINKS the old files (metadata-only — no
                # answer-sized rewrite) and writes only the delta
                # beside them. The crash story is unchanged: staging
                # swaps wholesale.
                _mode, src_dir, delta = sup
                os.makedirs(dst, exist_ok=True)
                for f in os.listdir(src_dir):
                    if f.startswith(("_", ".")) or not os.path.isfile(
                        os.path.join(src_dir, f)
                    ):
                        continue
                    commitio.IO.link_or_copy(
                        os.path.join(src_dir, f), os.path.join(dst, f)
                    )
                delta.write.mode("append").parquet(dst)
            else:
                sup.write.mode("overwrite").parquet(dst)
        with open(os.path.join(staging, MATVIEW_FILE), "w") as fh:
            json.dump(sidecar, fh)

    staged_rewrite(view_path, write, "mri_matview_")


def create_matview(
    spark: SparkSession,
    base_path: str,
    view_path: str,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    at: int | str | None = None,
    row_keys: list[str] | None = None,
    where=None,
) -> int:
    """Materialize the partial-aggregate view of base generation `at`
    (head when None) at `view_path` — the zero-dimension join view
    (`create_matview_join` with no dims) — and return the pinned
    generation. `row_keys` (e.g. ["doc_id"]) names the base's row
    identity: with a count(*) output it lets a refresh across a
    delete/upsert RETRACT from the change feed instead of rebuilding.

    `where` makes it a FILTERED view — the same `[(col, op, val),
    ...]` predicate language as `read_generation` (AND-list; an
    element may itself be a list of triples = OR within the
    conjunction): only matching rows enter the aggregates, persisted
    in the sidecar so every refresh applies it to the delta too. A
    filtered view stays exactly incremental because filtering
    distributes over the append-only union: filter(A ∪ Δ) =
    filter(A) ∪ filter(Δ). On the generations-managed base the
    predicate also FILE-PRUNES each refresh's delta scan via the
    manifest stats — a view over one tenant/month touches only that
    slice's files."""
    return create_matview_join(
        spark, view_path, base_path, [], key_cols, aggs,
        at=at, where=where, row_keys=row_keys,
    )["fact_gen"]


def _where_json(where):
    """The predicate in JSON-safe sidecar form (tuples -> lists, deep);
    None when unfiltered. Values must be JSON-representable — use ISO
    strings for dates in filtered-view specs (both the manifest's
    stats and Spark's literal coercion compare them correctly)."""
    if not where:
        return None

    def conv(x):
        return [conv(e) for e in x] if isinstance(x, (list, tuple)) else x

    return conv(list(where))


def _where_from_spec(spec: dict):
    return spec.get("where") or None


def _spec_aggs(spec: dict) -> dict:
    return {k: tuple(v) for k, v in spec["aggs"].items()}


def _stores(spec: dict) -> tuple[list[dict], list[str], list[int]]:
    """(dims, store paths, pinned generations) of a view, the fact
    first. A single-table view has no dims (sidecars written before
    join views existed have no `dims` key at all)."""
    dims = spec.get("dims") or []
    paths = [spec["base_path"], *(d["path"] for d in dims)]
    pins = [int(spec["base_gen"]), *(int(d["gen"]) for d in dims)]
    return dims, paths, pins


def _pinned_at(spec: dict, gens: list[int]) -> dict:
    """The sidecar with every store's pin moved to `gens` (a sidecar
    without a `dims` key keeps that shape)."""
    out = {**spec, "base_gen": gens[0]}
    if "dims" in spec:
        out["dims"] = [{**d, "gen": g} for d, g in zip(spec["dims"], gens[1:])]
    return out


def _stored_main(spark: SparkSession, view_path: str, aggs: dict) -> DataFrame:
    """The stored frame reduced to its MERGEABLE columns: the served
    count_distinct / estimate columns are derived, so a refresh drops
    and recomputes them rather than merging them (a distinct count is
    not a monoid — that's what the supports are for)."""
    _merge, cd, hll, der = _split(aggs)
    return spark.read.parquet(view_path).drop(*cd, *hll, *der)


def refresh_matview(spark: SparkSession, view_path: str) -> dict:
    """Advance the view to every store's current head generation.
    Returns a report: {"from": g, "to": g', "delta_files": n, "mode":
    m, "refreshed": bool} — `from`/`to` are ints for a single-table
    view and per-store lists (fact first) for a join view. `mode` is
    "noop", "incremental" (every span is provably append-only: merge
    the partial aggregates of exactly the appended files,
    `delta_files` counts them), "retract" (a span rewrote files and
    the spec is retractable: the signed change feed is merged,
    `delta_files` is -1) or "rebuild" (otherwise — a compaction may
    have FOLDED rows into existing keys, a delete removed them, and
    no key-level delta recovers either; the view recomputes from the
    head snapshots, always exact; `delta_files` is -1).

    The ENTIRE refresh holds the view's writer flock, not just the
    final swap: pin and stored partials must be read under the same
    lock that writes them, or two concurrent refreshes of the same
    span would each merge the delta into the other's already-merged
    result — double counting. Serialized, the second refresher sees
    the advanced pin and no-ops (tests/test_matview.py)."""

    with commitio.IO.writer_lock(view_path):
        return _refresh_locked(spark, view_path)


_NONRETRACTABLE_OPS = {"min", "max", "approx_distinct"}


def _retraction_plan(aggs: dict, row_keys: list) -> str | None:
    """The count(*) output name that anchors group liveness for a
    CDF-retraction refresh, or None when the spec cannot retract:
    min/max are not monoids under removal, HLL registers only grow,
    and without row keys there is no change feed; without a count(*)
    output there is no way to drop groups whose last row was deleted
    (a rebuild would not emit them)."""
    if not row_keys:
        return None
    if any(op in _NONRETRACTABLE_OPS for op, _c in aggs.values()):
        return None
    for out, (op, col) in _physical(aggs).items():
        if op == "count" and col == "*":
            return out
    return None


def _signed_agg(
    signed: DataFrame, key_cols: list[str], aggs: dict
) -> DataFrame:
    """Partial aggregates of a SIGNED row frame (`_sg` = +1 applied /
    -1 retracted) in one pass: counts sum the sign, sums add the row's
    value or its NEGATION — negation, not multiplication, so decimal
    types stay EXACTLY the stored columns' types (a sign multiply
    would widen precision and creep the view's schema per refresh)."""
    pos = F.col("_sg") > 0
    exprs = []
    for out, (op, col) in _physical(aggs).items():
        if op == "count" and col == "*":
            e = F.sum("_sg")
        elif op == "count":
            e = F.sum(
                F.when(F.col(col).isNotNull(), F.col("_sg")).otherwise(
                    F.lit(0)
                )
            )
        elif op == "sum":
            e = F.sum(F.when(pos, F.col(col)).otherwise(-F.col(col)))
        elif op == "sumsq":
            sq = F.col(col) * F.col(col)
            e = F.sum(F.when(pos, sq).otherwise(-sq))
        elif op == "bin":
            e = F.sum(
                F.when(_bin_cond(*col), F.col("_sg")).otherwise(F.lit(0))
            )
        else:  # pragma: no cover - guarded by _retraction_plan
            raise ValueError(f"non-retractable op {op!r}")
        exprs.append(e.alias(out))
    return signed.groupBy(*key_cols).agg(*exprs)


def _join_chain(frames: list[DataFrame], dims_spec: list[dict]) -> DataFrame:
    """frames[0] (the fact) inner-joined to frames[1:] (the dims) on
    each dim's same-named equi keys, in spec order. A dim's `select`
    projects it to (join keys + named columns) before the join —
    column pruning the reader applies so a wide dim never rides the
    exchange. With no dims this is the fact frame itself."""
    out = frames[0]
    for frame, d in zip(frames[1:], dims_spec):
        right = frame
        sel = d.get("select")
        if sel:
            keep = list(dict.fromkeys([*d["on"], *sel]))
            if "_sg" in right.columns:  # signed delta: the sign rides
                keep.append("_sg")
            right = right.select(*keep)
        out = out.join(right, on=list(d["on"]), how="inner")
    return out


def _joined(
    spark: SparkSession,
    spec: dict,
    gens: list[int],
    delta: tuple[int, DataFrame] | None = None,
) -> DataFrame:
    """The view's input rows: the fact (under the view's predicate)
    joined to its dims, store j read at generation `gens[j]` — except
    that with `delta=(i, frame)` store i is that change frame instead,
    one term of the telescoping delta."""
    dims, paths, _pins = _stores(spec)
    where = _where_from_spec(spec)
    frames = [
        delta[1]
        if delta is not None and j == delta[0]
        else read_generation(spark, p, at=g, where=where if j == 0 else None)
        for j, (p, g) in enumerate(zip(paths, gens))
    ]
    return _join_chain(frames, dims)


def create_matview_join(
    spark: SparkSession,
    view_path: str,
    fact_path: str,
    dims: list[dict],
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    at: int | str | None = None,
    where=None,
    row_keys: list[str] | None = None,
) -> dict:
    """Materialize an aggregate over FACT ⋈ DIMS — every store a
    generations-managed artifact — and pin each store's generation
    (in the sidecar AND as a per-view tag, so retention never expires
    a pin; the tags move forward on every refresh). `dims` is a list
    of `{"path": store, "on": [equi key cols], "select": [cols]}`
    (`select` optional: project the dim to keys + named columns);
    joins are INNER on same-named columns, in list order. An empty
    `dims` is the single-table view (`create_matview`). `where` (the
    `read_generation` predicate language) filters the FACT side — it
    file-prunes every refresh's fact-delta scan via the manifest
    stats, and filtering distributes over the append-only union.

    Refresh (see `_refresh_locked`) uses the standard join-IVM
    TELESCOPING delta: with every input append-only over the span
    (R_i@new = R_i@old ⊎ ΔR_i, inner join distributing over union),

        J(new…) − J(old…) = Σ_i  R_0@new ⋈ … ⋈ R_{i-1}@new
                                 ⋈ ΔR_i ⋈ R_{i+1}@old ⋈ … ⋈ R_k@old

    — each term delta-sized in ΔR_i, and a stable store contributes
    no term at all. With dims stable (the common case) the whole
    refresh is ΔF ⋈ dims: one fact-delta file scan joined to the
    dims; with no dims it is ΔF alone. The identity holds in the
    ℤ-multiset algebra for ANY Δ_i = new_i − old_i, so a REWRITTEN
    store (delete/upsert/dim update) contributes its signed change
    feed instead and the view RETRACTS incrementally — when the spec
    is retractable (no min/max/HLL; `row_keys` for the fact, each
    dim's `row_keys` or its join keys; a count(*) liveness anchor).
    Otherwise a rewritten span rebuilds from all heads (exact for
    folding and deleting rewrites alike). Returns {"fact_gen": g,
    "dim_gens": [g1, …]}."""
    from ..sources.generations import _resolve, load_manifest

    for out, (op, _c) in aggs.items():
        if not _valid_op(op):
            raise ValueError(f"unsupported aggregate op {op!r} for {out!r}")
    for d in dims:
        if not d.get("on"):
            raise ValueError("every dim needs a non-empty 'on' key list")
    paths = [fact_path, *(d["path"] for d in dims)]
    gens = []
    for p, a in zip(paths, [at, *(d.get("at") for d in dims)]):
        m = load_manifest(p)
        if m is None:
            raise ValueError(f"{p!r} has no generation manifest")
        gens.append(_resolve(m, p, a))  # int, None (head), or a tag name
    spec = {
        "base_path": os.path.abspath(fact_path),
        "base_gen": gens[0],
        "dims": [
            {
                "path": os.path.abspath(d["path"]),
                "on": list(d["on"]),
                "select": list(d.get("select") or []),
                "row_keys": list(d.get("row_keys") or []),
                "gen": g,
            }
            for d, g in zip(dims, gens[1:])
        ],
        "key_cols": list(key_cols),
        "aggs": {k: list(v) for k, v in aggs.items()},
        "row_keys": list(row_keys or []),
        "where": _where_json(where),
    }
    # pin BEFORE reading: from here retention cannot expire the
    # generations the view is about to record
    _repin_all(view_path, paths, gens)
    with commitio.IO.writer_lock(view_path):
        _rebuild_locked(spark, view_path, spec, gens)
    return {"fact_gen": gens[0], "dim_gens": gens[1:]}


def _rebuild_locked(
    spark: SparkSession, view_path: str, spec: dict, gens: list[int]
) -> None:
    """Compute the view (and its supports) wholesale from every
    store's generation `gens[j]` — the initial build, and the exact
    fallback for any span whose files were rewritten. One scan per
    store; the old view swaps out atomically like any refresh."""
    key_cols = spec["key_cols"]
    aggs = _spec_aggs(spec)
    joined = _joined(spark, spec, gens)
    _m, cd, _h, _der = _split(aggs)
    supports = {
        out: _support_partial(joined, key_cols, col)
        for out, col in cd.items()
    }
    view = _attach_derived(
        _partial_agg(joined, key_cols, aggs), supports, key_cols, aggs
    )
    _write_view(view, view_path, _pinned_at(spec, gens), supports)


def _signed_changes(
    spark: SparkSession, path: str, since: int, until: int, keys, where
) -> DataFrame:
    """A store's span as ONE signed row frame: inserts and
    update-postimages +1, deletes and update-preimages -1 — the
    ℤ-multiset delta new − old, scanned from only the span's differing
    files (generation_changes)."""
    from ..sources.generations import _where_column, generation_changes

    ch = generation_changes(
        spark, path, since=since, until=until, key_cols=tuple(keys)
    )
    if where:
        # a filtered view sees only predicate-matching images; an
        # update moving a row across the predicate boundary becomes a
        # pure insert or pure retraction here — exactly the filtered
        # rebuild's semantics (filtering distributes over the images)
        ch = ch.filter(_where_column(where))
    return ch.withColumn(
        "_sg",
        F.when(
            F.col("change_type").isin("insert", "update_postimage"),
            F.lit(1),
        ).otherwise(F.lit(-1)),
    ).drop("change_type")


def _refresh_locked(spark: SparkSession, view_path: str) -> dict:
    """The telescoping-delta refresh (see create_matview_join), in the
    ℤ-multiset algebra: J(new…) − J(old…) = Σ_i (new_{<i} ⋈ Δ_i ⋈
    old_{>i}) holds for ANY per-store delta Δ_i = new_i − old_i, not
    just appends, because inner join is bilinear over signed
    multisets. An append-only store contributes its new files (+1);
    a REWRITTEN store (delete/upsert/compaction/dim update)
    contributes its signed change feed, which scans only the span's
    DIFFERING files — so a 2-of-1000-file delete costs those two
    files' two versions plus answer-sized state, and a dimension
    UPDATE retracts the old attribute's joined rows and applies the
    new one's. That needs a retractable spec (counts/sums, the
    avg/stddev/hist ingredients and the count_distinct supports are
    abelian groups under removal; min/max and HLL registers are not),
    row keys (the fact's from the spec, each dim's from its
    `row_keys` or its join keys) and a count(*) output, whose zero
    drops a group whose last row left. Anything else — or a pinned
    generation that is no longer available — rebuilds from the
    heads. With int/decimal inputs the arithmetic is exact, so
    incremental == retraction == rebuild bit-for-bit; double inputs
    share the usual float order-sensitivity of any partial-sum path."""
    from functools import reduce

    spec = _load_spec(view_path)
    dims, paths, pins = _stores(spec)
    heads = [max(generation_head(p), g) for p, g in zip(paths, pins)]

    def report(delta_files: int, mode: str) -> dict:
        return {
            "from": pins if dims else pins[0],
            "to": heads if dims else heads[0],
            "delta_files": delta_files,
            "mode": mode,
            "refreshed": mode != "noop",
        }

    if heads == pins:
        return report(0, "noop")
    modes = []
    for p, pin, head in zip(paths, pins, heads):
        if head == pin:
            modes.append(("noop", []))
            continue
        try:
            modes.append(diff_plan(p, since=pin, until=head))
        except ValueError:
            # the pinned generation is gone (a pre-tag view whose pin
            # aged out, or a crash between tag-move and sidecar
            # write): only the rebuild, which needs only heads, is left
            modes.append(("rebuild", None))
    key_cols = spec["key_cols"]
    aggs = _spec_aggs(spec)
    rewriting = any(mode == "antijoin" for mode, _ in modes)
    rows_out = (
        _retraction_plan(aggs, spec.get("row_keys") or [])
        if rewriting
        else None
    )
    _repin_all(view_path, paths, heads)
    terms = None
    if all(mode != "rebuild" for mode, _ in modes) and (
        rows_out is not None or not rewriting
    ):
        where = _where_from_spec(spec)
        store_keys = [
            spec.get("row_keys") or [],
            *(d.get("row_keys") or d["on"] for d in dims),
        ]
        # stable stores (and empty appends) contribute no term; when
        # none is left the fact's empty diff keeps the schema
        live = [
            i for i, (mode, rels) in enumerate(modes)
            if rels or mode == "antijoin"
        ] or [0]
        try:
            terms = []
            for i in live:
                w = where if i == 0 else None
                if modes[i][0] == "antijoin":
                    delta_i = _signed_changes(
                        spark, paths[i], pins[i], heads[i], store_keys[i], w
                    )
                else:
                    delta_i = generation_diff(
                        spark, paths[i], since=pins[i], until=heads[i],
                        where=w,
                    )
                    if rewriting:  # signed algebra: appends are +1 rows
                        delta_i = delta_i.withColumn("_sg", F.lit(1))
                terms.append(
                    _joined(spark, spec, [*heads[:i], *pins[i:]], (i, delta_i))
                )
        except ValueError:
            if not rewriting:
                raise
            terms = None  # e.g. a pinned generation aged out mid-plan
    if terms is None:
        _rebuild_locked(spark, view_path, spec, heads)
        return report(-1, "rebuild")
    delta_rows = reduce(lambda a, b: a.unionByName(b), terms)
    delta = (_signed_agg if rewriting else _partial_agg)(
        delta_rows, key_cols, aggs
    )
    merged = (
        _stored_main(spark, view_path, aggs)
        .unionByName(delta)
        .groupBy(*key_cols)
        .agg(*_merge_exprs(aggs))
    )
    if rewriting:
        merged = merged.filter(F.col(rows_out) > 0)
    _m, cd, _h, _der = _split(aggs)
    supports = {}
    served = {}
    for out, col in cd.items():
        sup_dir = os.path.join(view_path, f"_support_{out}")
        delta_sup = _support_partial(delta_rows, key_cols, col)
        served[out] = spark.read.parquet(sup_dir).unionByName(delta_sup)
        n_sup_files = sum(
            1
            for f in os.listdir(sup_dir)
            if not f.startswith(("_", "."))
            and os.path.isfile(os.path.join(sup_dir, f))
        )
        if rewriting or n_sup_files > SUPPORT_FOLD_FILES:
            # fold to one row per (group, value): a retraction must
            # (multiplicities that reach zero leave the support); an
            # append refresh does so opportunistically, bounding the
            # read amplification of the accumulated delta files — one
            # answer-sized rewrite every SUPPORT_FOLD_FILES refreshes
            supports[out] = (
                served[out]
                .groupBy(*key_cols, "_v")
                .agg(F.sum("_n").alias("_n"))
                .filter(F.col("_n") > 0)
            )
            if rewriting:
                served[out] = supports[out]
        else:
            # the fast path: staging hardlinks the stored support's
            # immutable partial files and writes ONLY the delta —
            # refresh cost stays delta-sized even when the distinct
            # answer itself is huge (no answer-sized rewrite)
            supports[out] = ("append", sup_dir, delta_sup)
    merged = _attach_derived(merged, served, key_cols, aggs)
    _write_view(merged, view_path, _pinned_at(spec, heads), supports)
    if rewriting:
        return report(-1, "retract")
    return report(sum(len(rels) for _m, rels in modes), "incremental")


def _repin_all(view_path: str, paths: list[str], gens: list[int]) -> None:
    for p, g in zip(paths, gens):
        _pin_base(p, view_path, g)


def drop_matview(view_path: str) -> None:
    """Remove the view and release its pin tag on every store it reads
    (each pinned generation re-enters normal TTL retention at that
    store's next publish)."""
    import shutil

    from ..sources.generations import drop_tag

    with commitio.IO.writer_lock(view_path):
        try:
            _dims, paths, _pins = _stores(_load_spec(view_path))
        except OSError:
            paths = []
        for p in paths:
            try:
                drop_tag(p, _view_ref(view_path))
            except OSError:
                pass
        shutil.rmtree(view_path, ignore_errors=True)


def read_matview(spark: SparkSession, view_path: str) -> DataFrame:
    """The view's final form: stored partials are already one row per
    group, served as-is minus the internal sketch binaries (derived
    ratios like avg = sum/count are the caller's one-liner over these
    columns)."""
    df = spark.read.parquet(view_path)
    return df.drop(
        *[c for c in df.columns if c.startswith(_INTERNAL_PREFIXES)]
    )


def rollup_matview(
    spark: SparkSession, view_path: str, sub_keys: list[str]
) -> DataFrame:
    """Answer a COARSER GROUP BY from the stored partials alone — the
    materialized-view routing rewrite: any grouping over a subset of
    the view's keys re-aggregates group-cardinality-sized state, never
    the base. counts/sums re-add, min/max re-combine, count_distinct
    re-counts its support projected to the coarser keys (exact —
    values collapsing across merged groups deduplicate in the
    re-count), sketches re-union then estimate."""
    spec = _load_spec(view_path)
    key_cols = spec["key_cols"]
    if not set(sub_keys) <= set(key_cols):
        raise ValueError(
            f"rollup keys {sub_keys!r} are not a subset of the view's "
            f"keys {key_cols!r}; the view cannot answer this grouping"
        )
    aggs = _spec_aggs(spec)
    _merge, cd, _hll, _der = _split(aggs)
    rolled = _attach_derived(
        spark.read.parquet(view_path)
        .groupBy(*sub_keys)
        .agg(*_merge_exprs(aggs)),
        {},
        sub_keys,
        aggs,
    )
    rolled = rolled.drop(
        *[c for c in rolled.columns if c.startswith(_INTERNAL_PREFIXES)]
    )
    for out in cd:
        sup = spark.read.parquet(os.path.join(view_path, f"_support_{out}"))
        counts = (
            sup.select(*sub_keys, "_v")
            .distinct()
            .groupBy(*sub_keys)
            .agg(F.count(F.lit(1)).alias(out))
        )
        rolled = _join_null_safe(rolled, counts, sub_keys)
        rolled = rolled.withColumn(out, F.coalesce(F.col(out), F.lit(0)))
    return rolled


def hist_bins(df: DataFrame, name: str, key_cols: list[str]) -> DataFrame:
    """A hist output unpacked to rows: (key cols…, bin, n) with `bin`
    the 0-based index into the stored array (0 = underflow,
    1..nbins = interior, nbins+1 = overflow). Zero bins are kept —
    filter n > 0 for the sparse form."""
    return df.select(
        *key_cols, F.posexplode(name).alias("bin", "n")
    )


# Serving-plan crossover for hist_quantile (round 12, measured at
# sf0.1: union 0.775 s vs single-pass 0.997 s at |ps|=2; the union
# plan adds one window branch PER percentile and loses once the list
# grows past a handful — see SCALING.md "Round-12 bench triage").
HIST_QUANTILE_UNION_MAX = 4


def hist_quantile(
    df: DataFrame,
    name: str,
    op: str,
    key_cols: list[str],
    ps: list[float],
) -> DataFrame:
    """Interpolated quantiles served FROM the materialized histogram —
    the view's payoff: percentile dashboards that refresh at
    group-sized cost under append, delete, and upsert (vs exact
    percentiles, which are not maintainable at all, and vs
    count_distinct-style supports, which rewrite answer-sized state).

    For each p in `ps`: with interior-bin mass only (underflow and
    overflow carry no position — callers size [lo, hi) to cover the
    domain), target = p * total; the quantile lands in the first bin
    whose running total reaches target, linearly interpolated within
    it: q = lo + w * (bin0 + (target - cum_before) / n_bin). Exact
    integer bin counts + one double interpolation per output mean the
    formula is reproducible bit-for-bit by the SQL oracle. Resolution
    is the declared bin width — the classic histogram-quantile
    tradeoff, chosen at view creation.

    Output: (key cols…, p, q). Groups with zero interior mass emit no
    rows. TWO serving plans, bit-identical values (same exact integer
    bin counts, same one-double interpolation per output row; the SQL
    oracle covers both), chosen by |ps| (round-12 measured crossover,
    SCALING.md "Round-12 bench triage"):

    - |ps| <= HIST_QUANTILE_UNION_MAX: one filtered-window branch per
      percentile, unioned — cheaper for the dashboard's handful of
      percentiles (0.78 s vs 1.00 s at sf0.1 with two percentiles).
    - beyond: SINGLE-PASS (round 11) — the percentile targets ride as
      one exploded array against the shared cumulative frame and one
      row_number window over (keys, p) picks each first-reaching bin;
      plan size CONSTANT in |ps|, where the union form adds a window
      branch per percentile and its plan explodes at 10+."""
    from pyspark.sql import Window

    lo, hi, nb = _hist_params(op)
    w = (hi - lo) / nb
    b = df.select(
        *key_cols,
        F.posexplode(F.slice(F.col(name), 2, nb)).alias("_i", "_n"),
    )
    grp = Window.partitionBy(*key_cols)
    win = grp.orderBy("_i")
    b = b.withColumn("_cum", F.sum("_n").over(win)).withColumn(
        "_tot", F.sum("_n").over(grp)
    )

    def interp(target):
        return F.lit(lo) + F.lit(w) * (
            F.col("_i").cast("double")
            + (target - (F.col("_cum") - F.col("_n")).cast("double"))
            / F.col("_n").cast("double")
        )

    if len(ps) <= HIST_QUANTILE_UNION_MAX:
        out = None
        for p in ps:
            target = F.lit(float(p)) * F.col("_tot").cast("double")
            hit = (
                b.filter(
                    (F.col("_tot") > 0)
                    & (F.col("_n") > 0)
                    & (F.col("_cum").cast("double") >= target)
                )
                .withColumn("_rk", F.row_number().over(win))
                .filter(F.col("_rk") == 1)
            )
            one = hit.select(
                *key_cols, F.lit(float(p)).alias("p"), interp(target).alias("q")
            )
            out = one if out is None else out.unionByName(one)
        return out
    ps_arr = F.array(*[F.lit(float(p)) for p in ps])
    e = b.filter((F.col("_tot") > 0) & (F.col("_n") > 0)).select(
        *key_cols,
        "_i",
        "_n",
        "_cum",
        "_tot",
        F.explode(ps_arr).alias("p"),
    )
    target = F.col("p") * F.col("_tot").cast("double")
    win_p = Window.partitionBy(*key_cols, "p").orderBy("_i")
    hit = (
        e.filter(F.col("_cum").cast("double") >= target)
        .withColumn("_rk", F.row_number().over(win_p))
        .filter(F.col("_rk") == 1)
    )
    return hit.select(*key_cols, "p", interp(target).alias("q"))
