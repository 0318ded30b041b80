"""Large-k quantizer training/serving: the broadcast assignment path.

Above ASSIGN_LITERAL_MAX_K, assign_nearest switches from inlined
centroid literals to a broadcast centroid matrix + mapInPandas argmin
(PLANS.md "k-means training" fallback, implemented here rather than
documented). The contract is BIT-EQUAL assignment against the literal
path; these tests pin it three ways:

- hypothesis property: the numpy block (_np_nearest_block) vs the
  pure-Python replica of the literal expression's arithmetic, hundreds
  of examples (duplicate centroids = exact-tie tie-break coverage),
  no Spark job per example;
- end-to-end Spark: literal vs broadcast assignment (and d2) on the
  fixture embeddings, and full k=40 training bit-equal across paths;
- plan shape: the broadcast path is map-only (no Join, no Exchange, no
  literal-inlined argmin), and auto switches exactly at the budget.

Reference parity note: the reference has no trained quantizer; this is
the extension tier's IVF coarse quantizer (SURVEY.md LLM ops), scaled
past literal-inlining as a 1000-executor store would need (k in the
thousands; model ships once per executor as a broadcast).
"""

from __future__ import annotations

import numpy as np
import pytest

from map_reduce_indexing_spark.operators.similarity import (
    ASSIGN_LITERAL_MAX_K,
    DIM,
    KMEANS_K_LARGE,
    _duck_kmeans_oracle,
    _np_nearest_block,
    assign_nearest,
    embeddings_double,
    ivf_cell_of,
    q_ann_kmeans_train_k64,
    train_kmeans,
)
from tests.conftest import SF_DIR, assert_df_matches_oracle, duck_connect


def _synth_cents(k: int) -> list[list[float]]:
    """Deterministic 9dp-exact centroids; period 19 in j, so k > 19
    contains EXACT DUPLICATES — the tie-break stress case."""
    return [
        [round(((j * 37 + d * 11) % 19 - 9) / 7, 9) for d in range(DIM)]
        for j in range(k)
    ]


def _py_assign(v, cents):
    """Pure-Python replica of the literal expression's arithmetic
    (test_kmeans.py's _assign): Python left-to-right folds, first-min."""
    dists = [
        float(sum(x * x for x in c)) - 2.0 * sum(a * b for a, b in zip(v, c))
        for c in cents
    ]
    return dists.index(min(dists)) + 1


def _py_d2(v, cents):
    dists = [
        float(sum(x * x for x in c)) - 2.0 * sum(a * b for a, b in zip(v, c))
        for c in cents
    ]
    return sum(a * a for a in v) + min(dists)


def test_np_block_matches_python_replica_hypothesis():
    import hypothesis.strategies as st
    from hypothesis import given, settings

    nine_dp = st.integers(-10**9, 10**9).map(lambda n: n / 1e6)

    @settings(max_examples=200, deadline=None)
    @given(
        data=st.data(),
        dim=st.integers(1, 8),
        k=st.integers(1, 12),
        n=st.integers(0, 6),
    )
    def prop(data, dim, k, n):
        cents = [
            data.draw(st.lists(nine_dp, min_size=dim, max_size=dim))
            for _ in range(k)
        ]
        if k >= 2:  # force at least one duplicate-centroid tie
            cents[-1] = list(cents[0])
        vecs = [
            data.draw(st.lists(nine_dp, min_size=dim, max_size=dim))
            for _ in range(n)
        ]
        cmat = np.asarray(cents)
        c2 = np.asarray([float(sum(x * x for x in c)) for c in cents])
        vmat = np.asarray(vecs) if n else np.empty((0, dim))
        cl, d2 = _np_nearest_block(vmat, cmat, c2, want_d2=True)
        for i, v in enumerate(vecs):
            assert int(cl[i]) == _py_assign(v, cents)
            assert float(d2[i]) == _py_d2(v, cents)  # bit-equal

    prop()


def test_broadcast_matches_literal_on_fixture(spark):
    e = embeddings_double(spark, SF_DIR).select("vec_id", "v")
    cents = _synth_cents(40)
    lit = assign_nearest(
        e, cents, out_col="cluster", method="literal", d2_col="d2"
    )
    bro = assign_nearest(
        e, cents, out_col="cluster", method="broadcast", d2_col="d2"
    )
    lrows = {r["vec_id"]: (r["cluster"], r["d2"]) for r in lit.collect()}
    brows = {r["vec_id"]: (r["cluster"], r["d2"]) for r in bro.collect()}
    assert lrows == brows  # cluster AND d2 bit-equal
    # ... and the driver-side probe router agrees with both
    sample = e.orderBy("vec_id").limit(5).collect()
    for r in sample:
        assert ivf_cell_of([float(x) for x in r["v"]], cents) == lrows[
            r["vec_id"]
        ][0]


def test_train_kmeans_paths_bit_equal(spark):
    lit = train_kmeans(spark, SF_DIR, k=40, assign="literal")
    bro = train_kmeans(spark, SF_DIR, k=40, assign="broadcast")
    assert lit == bro  # full 3-round training, bit-equal centroids


def test_auto_switch_and_plan_shape(spark):
    e = embeddings_double(spark, SF_DIR).select("vec_id", "v")
    small = assign_nearest(e, _synth_cents(ASSIGN_LITERAL_MAX_K), out_col="c")
    large = assign_nearest(
        e, _synth_cents(ASSIGN_LITERAL_MAX_K + 1), out_col="c"
    )
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    large_plan = large._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in small_plan  # at the budget: literal
    assert "MapInPandas" in large_plan  # above it: broadcast model
    # The broadcast assignment is map-only: the model rides a broadcast
    # variable, NOT a join, and adds no shuffle.
    for node in ("Join", "Exchange", "CartesianProduct"):
        assert node not in large_plan, large_plan


def test_k64_query_matches_oracle(spark):
    con = duck_connect(SF_DIR)
    try:
        assert_df_matches_oracle(
            q_ann_kmeans_train_k64(spark, SF_DIR),
            con,
            _duck_kmeans_oracle(k=KMEANS_K_LARGE),
        )
    finally:
        con.close()


def test_data_init_requires_enough_vectors(spark):
    with pytest.raises(ValueError, match="cannot init"):
        train_kmeans(spark, SF_DIR, k=10**6)


def test_vector_store_serves_large_k_quantizer(spark, tmp_path):
    from map_reduce_indexing_spark.operators.similarity import (
        append_vectors,
        build_vector_store,
        load_quantizer,
        vector_store_topk,
    )

    cents = train_kmeans(spark, SF_DIR, k=KMEANS_K_LARGE)
    e = embeddings_double(spark, SF_DIR).select("vec_id", "v")
    path = str(tmp_path / "store64")
    build_vector_store(spark, e, path, layout="ivf", centroids=cents)
    assert load_quantizer(path) == cents  # sidecar rides the swap
    probe = e.orderBy("vec_id").limit(1).collect()[0]["v"]
    qv = [float(x) for x in probe]
    got = vector_store_topk(spark, path, qv, k=3, exclude_vec_id=0)
    rows = got.collect()
    assert 0 < len(rows) <= 3
    # An append routes through the SAME broadcast assignment: the new
    # vector must land in the cell the driver-side router predicts.
    new = spark.createDataFrame([(10**6, qv)], "vec_id long, v array<double>")
    append_vectors(spark, new, path)
    import os

    cell = ivf_cell_of(qv, cents)
    assert any(
        f"cell={cell}" in d for d in os.listdir(path) if d.startswith("cell=")
    )
    # Both the original vec_id-0 row and the appended copy sit at
    # cosine 1.0; the vec_id tie-break puts 0 first, the append second.
    after = vector_store_topk(spark, path, qv, k=3).collect()
    assert [r["vec_id"] for r in after[:2]] == [0, 10**6]


def test_centroid_broadcast_memoized_and_bounded(spark):
    """Round 9 (ADVICE): repeated assignment with the same model must
    reuse ONE broadcast; distinct models age out of the LRU (and get
    unpersisted) instead of accumulating for the application's life."""
    from map_reduce_indexing_spark import state
    from map_reduce_indexing_spark.operators.similarity import (
        CENTROID_BC_KEEP,
        _centroid_broadcast,
    )

    import numpy as np

    sc = spark.sparkContext
    cents = [[float(j + d) for d in range(4)] for j in range(3)]
    cmat = np.asarray(cents)
    c2 = np.asarray([float(sum(x * x for x in c)) for c in cents])
    b1 = _centroid_broadcast(sc, cents, cmat, c2)
    b2 = _centroid_broadcast(sc, cents, cmat, c2)
    assert b1 is b2  # same model -> same broadcast object
    for j in range(CENTROID_BC_KEEP + 2):  # distinct models roll the LRU
        c = [[float(j)] * 4]
        _centroid_broadcast(sc, c, np.asarray(c), np.asarray([4.0 * j * j]))
    assert len(state.entries(sc, "centroid_broadcast")) == CENTROID_BC_KEEP
