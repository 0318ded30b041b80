"""Physical data layout for scan-time data skipping (SURVEY.md §2.1
S4/S5 extension — the sink-side half of partition pruning).

The reference's only layout decision is routing postings into
first-letter buckets (worker.c sends each word to the reducer that
owns its letter range); ``operators/indexing.py:write_index`` carries
that forward. This module generalizes it to the layout primitive a
100 TB fact table needs: **cluster by a range key, sort within
files**, so every parquet row group's min/max statistics become a
coarse index and readers (Spark's parquet filter pushdown, or any
min/max-aware engine) skip whole files/row groups for range
predicates.

Why range clustering instead of `partitionBy(day)` directories:
directory partitioning explodes the file count at fine granularity
(a 100 TB table with 10k writers x 365 days = millions of tiny
files), while `repartitionByRange(N, key)` gives exactly N
similar-sized files whose key ranges are near-disjoint — the
file count is a knob, not a consequence of key cardinality. Range
boundaries come from reservoir sampling the key
(spark.sql.execution.rangeExchange.sampleSizePerPartition), so skew
balances automatically.

At 100 TB: write with N = total_bytes / target_file_size (e.g.
512 MB files), one sorted file per task, no shuffle beyond the single
range exchange. Time-range queries then read only the overlapping
files — verified by tests/test_layout.py against the parquet footers.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .. import state
from .tables import load_table


def write_range_clustered(
    df: DataFrame, key: str, path: str, n_files: int
) -> None:
    """Range-cluster ``df`` on ``key`` into ``n_files`` sorted parquet
    files (one per range bucket) with overwrite semantics.

    The sort within each file makes row-group min/max stats tight
    (each row group covers a narrow key slice), which is what turns
    footer statistics into an effective coarse index.
    """
    (
        df.repartitionByRange(n_files, key)
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_lineitem_by_shipdate(
    spark: SparkSession, sf_dir: str, path: str, n_files: int = 8
) -> None:
    """Lineitem clustered by ship date — the canonical time-series
    layout: ship-date range predicates touch only overlapping files."""
    write_range_clustered(
        load_table(spark, sf_dir, "lineitem"), "l_shipdate", path, n_files
    )


# ---------------------------------------------------------------------------
# Z-order (multi-dimensional) clustering
# ---------------------------------------------------------------------------
#
# Range clustering on ONE key makes that key's file min/max tight and
# every other column's stats useless (each file spans the full range of
# the non-sort columns). When two or more columns are both common
# predicates — (part, supplier), (user, time) — the fix is a
# space-filling curve: interleave the bits of the (normalized) keys and
# range-cluster on the interleaved value. Each file then covers a small
# HYPER-RECTANGLE of the key space, so min/max footer stats prune files
# for predicates on ANY of the clustered columns (Delta/Iceberg's
# OPTIMIZE ZORDER BY does exactly this). Everything below is plain
# Column bitwise arithmetic — one JVM expression, whole-stage codegen,
# and the same single range exchange as write_range_clustered.


def _scaled(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Map col linearly from [cmin, cmax] onto integers [0, 2^bits).

    Linear (not quantile) scaling keeps the expression scalar-only; for
    heavily skewed keys, pre-transform the column (e.g. log) or widen
    bits — the curve only needs *locality*, not uniformity.
    """
    span = F.when(cmax != cmin, (cmax - cmin).cast("double")).otherwise(F.lit(1.0))
    frac = (col.cast("double") - cmin.cast("double")) / span
    top = F.lit((1 << bits) - 1)
    return F.least(
        F.greatest(F.floor(frac * top).cast("long"), F.lit(0).cast("long")),
        top.cast("long"),
    )


def zorder_value(scaled: list[Column], bits: int) -> Column:
    """Interleave `bits` bits of each pre-scaled long column round-robin:
    bit j of column c lands at position j * ncols + c."""
    ncols = len(scaled)
    assert bits * ncols <= 63, "interleaved key must fit a signed long"
    z = F.lit(0).cast("long")
    for j in range(bits):
        for c, col in enumerate(scaled):
            bit = F.shiftright(col, j).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, j * ncols + c))
    return z


def write_zorder_clustered(
    df: DataFrame, cols: list[str], path: str, n_files: int, bits: int = 16
) -> None:
    """Z-order-cluster ``df`` on ``cols`` into ``n_files`` parquet files.

    Column mins/maxes for the normalization come from one tiny
    aggregate broadcast back as a 1-row scalar frame (the same pattern
    as the corpus-relative thresholds in textstats.py) — no driver
    round-trip, no second scan: Spark reuses the cached scan for both
    sides at fixture scale, and at 100 TB the extra pass is a
    column-pruned min/max scan, the cheapest scan there is.

    Files are range-clustered AND sorted by the curve value, so row
    groups inside each file cover even smaller hyper-rectangles than
    the file as a whole — footer stats stay tight at both
    granularities. The curve column is dropped before the write; it is
    derivable, not data.
    """
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    bounds = df.agg(*aggs)
    with_z = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_z",
        zorder_value(
            [
                _scaled(
                    F.col(c), F.col(f"_min_{c}"), F.col(f"_max_{c}"), bits
                )
                for c in cols
            ],
            bits,
        ),
    )
    (
        with_z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .select(df.columns)
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Bucketed tables: exchange-free co-located joins
# ---------------------------------------------------------------------------

N_BUCKETS = 8


def bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(orders_table, lineitem_table): the two fact tables written ONCE
    per (application, corpus) as BUCKETED tables — `bucketBy(N, key)` +
    `sortBy(key)` through `saveAsTable` — so every later equi-join on
    the bucket key runs with NO Exchange on either side: both scans
    already satisfy the join's required hash distribution (the plan
    shows `SelectedBucketsCount`, and only the post-join aggregation
    shuffles; plan-asserted in tests/test_layout.py).

    This is the third layout primitive beside range clustering and
    z-order: range/z-order buy scan-time SKIPPING, bucketing buys
    join-time CO-LOCATION. At 100 TB the orders⋈lineitem shuffle is
    usually the single largest exchange in the warehouse; paying it
    once at write time amortizes it over every subsequent join, the
    classic Hive/Spark bucketed-warehouse design. (The session
    artifacts' letter/cell partitioning is the same idea keyed for
    pruning; bucketing keys for distribution.)"""
    # The session-state version AND the table names carry a content
    # fingerprint of both source files: a corpus regenerated at the same
    # path mid-application rebuilds instead of serving stale buckets, and
    # two applications sharing a warehouse can only ever DROP/replace a
    # table whose name encodes the SAME corpus content (never clobber a
    # live different one).
    fps = tuple(
        state.content_fingerprint(os.path.join(sf_dir, f"{t}.parquet"))
        for t in ("orders", "lineitem")
    )

    def write_tables() -> tuple[str, str]:
        import hashlib

        # md5, not hash(): PYTHONHASHSEED randomizes hash() per process,
        # and a stable per-(corpus path, corpus content) name is what
        # lets overwrite semantics replace (never orphan) a prior run's
        # tables for the same data.
        suffix = hashlib.md5(
            repr((sf_dir, fps)).encode()
        ).hexdigest()[:10]
        names = (f"mri_orders_b{suffix}", f"mri_lineitem_b{suffix}")
        import shutil
        from urllib.parse import urlparse

        warehouse = urlparse(
            spark.conf.get("spark.sql.warehouse.dir")
        ).path
        for tbl, (src, k) in zip(
            names, (("orders", "o_orderkey"), ("lineitem", "l_orderkey"))
        ):
            # A managed table's LOCATION can survive from a previous
            # application while the in-memory catalog is empty —
            # saveAsTable then fails with LOCATION_ALREADY_EXISTS even
            # in overwrite mode. Drop the catalog entry AND the stale
            # directory before writing (names are content-stable md5,
            # so this only ever replaces this corpus's own tables).
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            stale = os.path.join(warehouse, tbl)
            if os.path.exists(stale):
                shutil.rmtree(stale)
            (
                load_table(spark, sf_dir, src)
                .write.bucketBy(N_BUCKETS, k)
                .sortBy(k)
                .mode("overwrite")
                .saveAsTable(tbl)
            )
        return names

    return state.lookup(
        spark.sparkContext, "bucketed_tables", sf_dir, fps, write_tables
    )
