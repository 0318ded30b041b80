"""ann_kmeans_train: the trained IVF coarse quantizer.

Verifies the Spark Lloyd loop against an independent pure-Python model
(exact-Decimal per-dimension sums — the same determinism contract the
oracle relies on), pins the plan shape (map-only assign, no Generate,
single hash-agg exchange per round), and checks the -0.0 normalization
on singleton-cluster inertia.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from map_reduce_indexing_spark.operators.similarity import (
    CENTROIDS,
    DIM,
    DUCK_KMEANS_ORACLE,
    KMEANS_ITERS,
    KMEANS_ROUND,
    q_ann_kmeans_train,
    train_kmeans,
)
from tests.conftest import SF_DIR, assert_df_matches_oracle


def _load_vecs():
    con = duckdb.connect()
    rows = con.execute(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"'{SF_DIR}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    con.close()
    return [r[1] for r in rows]


def _assign(v, cents):
    # same fold order as SPARK_DOT (left-to-right) and the same
    # Python-summed |c|^2 constant the inlined expression uses
    dists = [
        sum(x * x for x in c) - 2.0 * sum(a * b for a, b in zip(v, c))
        for c in cents
    ]
    return dists.index(min(dists)) + 1


def _model_train(vecs):
    q12 = Decimal("1e-12")
    cents = [[float(x) for x in c] for c in CENTROIDS]
    for _ in range(KMEANS_ITERS):
        sums = {}
        counts = {}
        for v in vecs:
            k = _assign(v, cents)
            counts[k] = counts.get(k, 0) + 1
            acc = sums.setdefault(k, [Decimal(0)] * DIM)
            for d in range(DIM):
                # CAST(double AS DECIMAL(38,12)) is HALF_UP in Spark
                acc[d] += Decimal(v[d]).quantize(q12, ROUND_HALF_UP)
        new = list(cents)
        for k, acc in sums.items():
            new[k - 1] = [
                round(float(acc[d]) / counts[k], KMEANS_ROUND)
                for d in range(DIM)
            ]
        cents = new
    return cents


def test_train_matches_exact_decimal_model(spark):
    got = train_kmeans(spark, SF_DIR)
    want = _model_train(_load_vecs())
    assert got == want  # bit-identical: the determinism contract holds


def test_output_matches_model_and_oracle(spark, duck):
    vecs = _load_vecs()
    cents = _model_train(vecs)
    counts = {}
    inertia = {}
    for v in vecs:
        k = _assign(v, cents)
        counts[k] = counts.get(k, 0) + 1
        c = cents[k - 1]
        d2 = (
            sum(x * x for x in v)
            + sum(x * x for x in c)
            - 2.0 * sum(a * b for a, b in zip(v, c))
        )
        inertia[k] = inertia.get(k, 0.0) + d2
    rows = {
        r["cluster_id"]: r
        for r in q_ann_kmeans_train(spark, SF_DIR).collect()
    }
    assert sum(r["n_points"] for r in rows.values()) == len(vecs)
    for k, n in counts.items():
        assert rows[k]["n_points"] == n
        assert rows[k]["c_norm"] == pytest.approx(
            sum(x * x for x in cents[k - 1]), abs=1e-6
        )
        assert rows[k]["inertia"] == pytest.approx(inertia[k], abs=1e-3)
        # the -0.0 normalization: inertia is never negative zero
        assert str(rows[k]["inertia"]) != "-0.0"
    assert_df_matches_oracle(
        q_ann_kmeans_train(spark, SF_DIR), duck, DUCK_KMEANS_ORACLE
    )


def test_plan_shape(spark):
    # Final query: map-only assign + one hash aggregation. No Generate
    # (no explode anywhere in the kmeans path), no join in the output
    # plan (the model rides the expression as literals).
    plan = (
        q_ann_kmeans_train(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Generate" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 1  # the groupBy(cluster_id) only


def test_train_rejects_ragged_or_null_vectors(spark):
    """r15 guard: the exploded per-(cluster, d) update assumes the
    fixed-DIM non-null vector contract; a corpus violating it must
    fail loudly instead of silently shifting means (the old 65-column
    aggregate nulled the sum instead)."""
    from map_reduce_indexing_spark.operators.similarity import (
        train_kmeans_frame,
    )

    init = [[float(j == d) for d in range(DIM)] for j in range(2)]
    good = [(i, [float(i % 5)] * DIM) for i in range(8)]

    short = spark.createDataFrame(
        good + [(99, [1.0] * (DIM - 3))], "vec_id long, v array<double>"
    )
    with pytest.raises(ValueError, match="fixed-DIM"):
        train_kmeans_frame(short, init, iters=1)

    # a null ELEMENT also nulls the assignment dot product, so it is
    # caught by the same contract guard (either message is a loud fail)
    nullelem = spark.createDataFrame(
        good + [(98, [1.0] * (DIM - 1) + [None])],
        "vec_id long, v array<double>",
    )
    with pytest.raises(ValueError, match="contract"):
        train_kmeans_frame(nullelem, init, iters=1)


def test_train_rejects_vectors_longer_than_dim(spark):
    """The broadcast argmin folds only the centroids' DIM dimensions, so
    vectors longer than DIM get a cluster and explode to dimension
    indexes past the centroid's end; the update step must reject them
    with the contract's ValueError, not fail with an IndexError."""
    from map_reduce_indexing_spark.operators.similarity import (
        train_kmeans_frame,
    )

    init = [[float(j == d) for d in range(DIM)] for j in range(2)]
    long_ = spark.createDataFrame(
        [(i, [float(i % 5)] * (DIM + 2)) for i in range(8)],
        "vec_id long, v array<double>",
    )
    with pytest.raises(ValueError, match="more than"):
        train_kmeans_frame(long_, init, iters=1, assign="broadcast")


def test_empty_cluster_keeps_previous_centroid(spark):
    # On the fixture, at least one init centroid captures <= 1 point;
    # the model and engine agree (test above). Here pin the invariant
    # directly: every trained centroid list is finite and dim-complete,
    # including clusters that captured no points in some round.
    cents = train_kmeans(spark, SF_DIR)
    assert len(cents) == len(CENTROIDS)
    assert all(len(c) == DIM for c in cents)
    assert all(all(x == x for x in c) for c in cents)  # no NaN


def test_training_reduces_inertia_vs_pinned_quantizer(spark):
    """Lloyd's objective check: total inertia of the trained final
    assignment must not exceed the inertia of assigning against the
    pinned init centroids (monotone descent, modulo 9dp rounding)."""
    from pyspark.sql import functions as F

    from map_reduce_indexing_spark.operators.similarity import (
        _init_centroids,
        _spark_d2min,
        embeddings_double,
    )

    def total_inertia(cents):
        return (
            embeddings_double(spark, SF_DIR)
            .select(F.expr(_spark_d2min("v", cents)).alias("d2"))
            .agg(F.sum("d2").alias("s"))
            .collect()[0]["s"]
        )

    init_inertia = total_inertia(_init_centroids())
    trained_inertia = total_inertia(train_kmeans(spark, SF_DIR))
    assert trained_inertia <= init_inertia + 1e-6
    assert trained_inertia > 0.0


def test_trained_topk_serves_from_probe_cell(spark):
    """Train-then-serve composition: every hit shares the probe's
    trained cell, the probe itself is excluded, scores are valid
    cosines in descending order, and the plan has no join (model and
    probe ride the expression)."""
    from map_reduce_indexing_spark.operators.similarity import (
        QUERY_VEC_ID,
        _spark_nearest,
        ivf_cell_of,
        q_ann_ivf_trained_topk,
        query_vector,
        train_kmeans,
    )
    from pyspark.sql import functions as F

    from map_reduce_indexing_spark.operators.similarity import (
        embeddings_double,
    )

    df = q_ann_ivf_trained_topk(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    rows = df.collect()
    assert 0 < len(rows) <= 10
    assert QUERY_VEC_ID not in {r.vec_id for r in rows}
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    assert all(-1.0 - 1e-9 <= c <= 1.0 + 1e-9 for c in cosines)
    cents = train_kmeans(spark, SF_DIR)
    qv = [float(x) for x in query_vector(spark, SF_DIR).first().qv]
    qcell = ivf_cell_of(qv, cents)
    cells = {
        r.vec_id: r.cell
        for r in embeddings_double(spark, SF_DIR)
        .select(
            "vec_id",
            F.expr(_spark_nearest("v", cents)).cast("long").alias("cell"),
        )
        .collect()
    }
    assert all(cells[r.vec_id] == qcell for r in rows)
