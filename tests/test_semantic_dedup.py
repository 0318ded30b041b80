"""Semantic dedup over trained k-means cells (dedup_semantic_pairs).

Oracle equivalence (bit-exact pair set vs DuckDB's replay of the
training + assignment + cosine) is covered by the contract sweep; these
tests pin the semantics — blocked output is a TRUE subset of the
exhaustive pair set (precision 1), recall is substantial, the plan is
an equi-join with no cartesian and no Python in the hot path at
coarse-quantizer k — and the composition property: the blocking key is
the SAME memoized model ann_ivf_trained_topk serves.
"""

from __future__ import annotations

import warnings

from pyspark.sql import functions as F

from map_reduce_indexing_spark.operators.dedup import spark_cosine
from map_reduce_indexing_spark.operators.similarity import (
    SEMANTIC_COSINE,
    assign_nearest,
    embeddings_double,
    trained_quantizer,
)
from map_reduce_indexing_spark.plans import registry

from .conftest import SF_DIR


def _pairs(spark):
    return registry.get("dedup_semantic_pairs").fn(spark, SF_DIR)


def _exhaustive(spark):
    ev = embeddings_double(spark, SF_DIR).select("vec_id", "v")
    a, b = ev.alias("a"), ev.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.expr(spark_cosine("a.v", "b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMANTIC_COSINE)
    )


def test_emits_real_pairs_with_consistent_cells(spark):
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows = _pairs(spark).collect()
    # the grouped-map scorer declares its pandas return type, so Spark
    # never falls back to guessing the UDF eval type from the hints
    assert not [
        w for w in caught if "Cannot infer the eval type" in str(w.message)
    ]
    assert rows, "fixture-calibrated threshold must yield real pairs"
    cell = {
        r.vec_id: r.cell
        for r in assign_nearest(
            embeddings_double(spark, SF_DIR).select("vec_id", "v"),
            trained_quantizer(spark, SF_DIR),
            out_col="cell",
        ).collect()
    }
    for r in rows:
        assert r.vec_a < r.vec_b
        assert r.cosine >= SEMANTIC_COSINE
        assert cell[r.vec_a] == cell[r.vec_b] == r.cell


def test_precision_one_and_recall_floor(spark):
    """Every blocked pair is a true near-dup pair (the exact verify
    guarantees precision 1); recall has a floor. The fixture's
    synthetic embeddings are near-uniform on the sphere — no cluster
    structure for the quantizer to learn — so ANY 8-way partition
    splits many moderate-cosine pairs (measured ~0.35-0.42 here; on
    real clustered corpora SemDeDup recall is far higher, and the
    documented lever is multi-cell assignment, the nprobe knob the
    serving tier already has)."""
    got = {(r.vec_a, r.vec_b) for r in _pairs(spark).collect()}
    want = {(r.vec_a, r.vec_b) for r in _exhaustive(spark).collect()}
    assert got <= want  # precision 1
    assert want and len(got) / len(want) >= 0.3


def test_plan_is_cell_grouped_no_cartesian(spark):
    """Candidates must stay cell-blocked: no CartesianProduct /
    BroadcastNestedLoopJoin anywhere, and at coarse-quantizer k the
    assignment is the literal map-only path (no MapInPandas). Since
    r14 the cold-cell pair scorer is ONE grouped Arrow pass per cell
    (exactly one FlatMapGroupsInPandas — each cell's vectors cross the
    Python boundary once, never once per pair) instead of the cell-id
    self-join whose per-pair interpreted fold dominated the query;
    bit-equality of every cosine with the join+fold form is pinned by
    test_cold_scorer_bitequal_to_join below."""
    df = _pairs(spark)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan
    # exactly one grouped-pass node ("formatted" lists each node twice:
    # once in the tree — "FlatMapGroupsInPandas (n)" — once as "(n) ...")
    assert plan.count("FlatMapGroupsInPandas (") == 1


def test_cold_scorer_bitequal_to_join(spark):
    """The grouped-Arrow pair scorer must emit the EXACT pair set and
    bit-identical cosines of the r8 cell-id self-join + SPARK_DOT fold
    (the fold-order replay argument: fl(acc + fl(a_d*b_d)) per step,
    0.0-seeded, then dot / (nrm_a * nrm_b) in that operation order)."""
    from pyspark.sql import functions as F

    from map_reduce_indexing_spark.operators.similarity import (
        SEMANTIC_COSINE,
        _cold_pair_scores,
        _pair_cosine_select,
    )

    e = _assigned(spark).localCheckpoint(eager=True)
    a, b = e.alias("a"), e.alias("b")
    old = _pair_cosine_select(
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
    ).filter(F.col("cosine") >= SEMANTIC_COSINE)
    new = _cold_pair_scores(e, SEMANTIC_COSINE).filter(
        F.col("cosine") >= SEMANTIC_COSINE
    )
    j = old.alias("o").join(
        new.alias("n"),
        (F.col("o.vec_a") == F.col("n.vec_a"))
        & (F.col("o.vec_b") == F.col("n.vec_b")),
        "full",
    )
    assert (
        j.filter(
            F.col("o.vec_a").isNull() | F.col("n.vec_a").isNull()
        ).count()
        == 0
    )
    assert (
        j.filter(
            F.expr(
                "o.cosine IS DISTINCT FROM n.cosine"
                " OR o.cell IS DISTINCT FROM n.cell"
            )
        ).count()
        == 0
    )
    assert old.count() > 0


def test_blocking_key_is_the_served_model(spark):
    """trained_quantizer is memoized: the dedup query and the ANN
    serving query must read the identical model object (train once,
    serve everywhere)."""
    m1 = trained_quantizer(spark, SF_DIR)
    m2 = trained_quantizer(spark, SF_DIR)
    assert m1 is m2


# ---- round 9: the hot-cell sub-bucket lever -------------------------------


def _assigned(spark):
    from map_reduce_indexing_spark.operators.dedup import SPARK_DOT

    return assign_nearest(
        embeddings_double(spark, SF_DIR).select("vec_id", "v"),
        trained_quantizer(spark, SF_DIR),
        out_col="cell",
    ).withColumn("nrm", F.expr(f"sqrt({SPARK_DOT.format(a='v', b='v')})"))


def test_hot_lever_is_lossless_on_the_fixture(spark):
    """Forcing EVERY cell hot (hot_min=1) must reproduce the plain
    within-cell pair set exactly, even at the fixture's t=0.35 where
    the r = sqrt(2-2t) > 1 interval collapses to ~2 buckets (the
    documented degenerate regime) — losslessness holds for any
    threshold and any direction."""
    from map_reduce_indexing_spark.operators.similarity import (
        semantic_cell_pairs,
    )

    e = _assigned(spark)
    plain = {
        (r.vec_a, r.vec_b, r.cell)
        for r in semantic_cell_pairs(
            e, SEMANTIC_COSINE, hot_cells=[]
        ).collect()
    }
    forced = {
        (r.vec_a, r.vec_b, r.cell)
        for r in semantic_cell_pairs(e, SEMANTIC_COSINE, hot_min=1).collect()
    }
    assert plain == forced
    assert plain  # non-vacuous


def test_hot_lever_prunes_a_skewed_cell(spark):
    """The scenario the lever exists for: ONE cell holds 100% of the
    vectors (>= the 50% skew bar), clustered data, production
    threshold t=0.95. Candidates from the sub-bucketed path must
    provably undercut the quadratic all-pairs count, and the verified
    output must equal the brute-force within-cell truth."""
    import math

    from map_reduce_indexing_spark.operators.similarity import (
        semantic_cell_pairs,
        subbucket_candidates,
    )

    t = 0.95
    dim, groups, per = 64, 8, 25
    # Group centers fan through a 2-plane at 22.5-degree steps
    # (adjacent-center cosine 0.924 < t, so truth pairs stay within
    # groups) — the shape of a real hot cell: a dense cluster with a
    # dominant variance direction for the power step to find. Fully
    # isotropic group directions are the lever's documented worst
    # case (projections collapse into ~2 buckets); the lever targets
    # skew, and skew in practice IS correlated structure.
    u1 = [1.0 / math.sqrt(dim)] * dim
    u2 = [((-1.0) ** d) / math.sqrt(dim) for d in range(dim)]
    rows = []
    vid = 0
    for g in range(groups):
        th = math.pi * g / groups
        base = [
            math.cos(th) * u1[d] + math.sin(th) * u2[d] for d in range(dim)
        ]
        for i in range(per):
            v = [
                base[d] * (1.0 + 0.01 * ((i * 7 + d) % 5)) for d in range(dim)
            ]
            nrm = math.sqrt(sum(x * x for x in v))
            rows.append((vid, v, 1, nrm))
            vid += 1
    e = spark.createDataFrame(
        rows, "vec_id long, v array<double>, cell long, nrm double"
    )
    n = groups * per
    all_pairs = n * (n - 1) // 2
    candidates = subbucket_candidates(e, t).count()
    assert candidates < 0.5 * all_pairs, (candidates, all_pairs)
    truth = {
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if _cos(rows[a][1], rows[b][1]) >= t
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in semantic_cell_pairs(e, t, hot_min=1).collect()
    }
    assert got == truth
    assert truth  # within-group near-dups exist


def _cos(a, b):
    import math

    dot = sum(x * y for x, y in zip(a, b))
    return dot / (
        math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
    )


def test_dormant_lever_keeps_the_one_join_plan(spark):
    """With no hot cells (the fixture at HOT_CELL_MIN=50k) the
    exported query must plan exactly the r8 shape: one SortMergeJoin/
    ShuffledHashJoin on the cell key, no union branch, no extra
    aggregation in the executed plan."""
    df = _pairs(spark)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Union" not in plan
    assert "CartesianProduct" not in plan
