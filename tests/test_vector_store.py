"""The maintained vector store (VERDICT r6 #6): append + compact for
the bucketed embedding store, mirroring the inverted index's
log-structured lifecycle — appended vectors are immediately visible
through a still-pruned bucket scan, compaction folds per-append files,
and a crashed compaction self-heals."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from map_reduce_indexing_spark.api import VectorStore
from map_reduce_indexing_spark.operators.dedup import spark_cosine, spark_lsh_bucket
from map_reduce_indexing_spark.operators.similarity import lsh_bucket_of
from map_reduce_indexing_spark.sources.tables import load_table

from .conftest import SF_DIR


def _vectors(spark, lo, hi):
    return (
        load_table(spark, SF_DIR, "embeddings")
        .filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )


def _probe(spark):
    return [
        float(x)
        for x in load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") == 0)
        .head()
        .embedding
    ]


def _bruteforce_topk(spark, lo, hi, qv, k=5):
    """Reference result: exact cosine top-k WITHIN the probe's bucket
    over the raw fixture rows [lo, hi) — what the store must serve."""
    qlit = F.array(*[F.lit(x) for x in qv])
    return [
        (r.vec_id, round(r.cosine, 9))
        for r in _vectors(spark, lo, hi)
        .withColumn("bucket", F.expr(spark_lsh_bucket("v")))
        .filter(F.col("bucket") == lsh_bucket_of(qv))
        .withColumn("qv", qlit)
        .select("vec_id", F.expr(spark_cosine("v", "qv")).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
        .collect()
    ]


def _topk(vs, qv, k=5):
    return [(r.vec_id, round(r.cosine, 9)) for r in vs.topk(qv, k).collect()]


def test_lsh_bucket_of_matches_spark_expr(spark):
    """The driver-side bucket arithmetic must equal the JVM expression
    for every fixture vector — otherwise lookups prune the WRONG
    partition and silently return the wrong neighbors."""
    mismatches = (
        _vectors(spark, 0, 10_000)
        .withColumn("b_jvm", F.expr(spark_lsh_bucket("v")))
        .collect()
    )
    for r in mismatches:
        assert lsh_bucket_of(list(r.v)) == r.b_jvm


def test_build_append_compact_lifecycle(spark, tmp_path):
    path = str(tmp_path / "vstore")
    qv = _probe(spark)

    vs = VectorStore.build(spark, _vectors(spark, 0, 60), path)
    assert _topk(vs, qv) == _bruteforce_topk(spark, 0, 60, qv)

    # append: new vectors visible immediately
    vs.append(_vectors(spark, 60, 120))
    after_append = _topk(vs, qv)
    assert after_append == _bruteforce_topk(spark, 0, 120, qv)

    # appended partials pile up files across the bucket partitions...
    def n_files():
        return len(glob.glob(os.path.join(path, "bucket=*", "*.parquet")))

    n_files_before = n_files()
    vs.append(_vectors(spark, 120, 150))
    vs.append(_vectors(spark, 150, 180))
    assert n_files() > n_files_before

    # ...and compaction folds every bucket back to ONE file,
    # changing no results
    expected = _bruteforce_topk(spark, 0, 180, qv)
    assert _topk(vs, qv) == expected
    vs.compact()
    assert _topk(vs, qv) == expected
    for d in glob.glob(os.path.join(path, "bucket=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_lookup_prunes_to_one_bucket_partition(spark, tmp_path):
    """The scale contract: a topk against the maintained store is ONE
    partition-pruned scan — PartitionFilters carries the bucket
    equality, and only that directory's files are read — and appends
    must not break the prune."""
    path = str(tmp_path / "vstore")
    qv = _probe(spark)
    vs = VectorStore.build(spark, _vectors(spark, 0, 100), path)
    vs.append(_vectors(spark, 100, 160))

    plan = vs.topk(qv)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan, plan
    pf = plan.split("PartitionFilters", 1)[1][:300]
    assert "bucket" in pf and str(lsh_bucket_of(qv)) in pf, pf


def test_append_heals_crashed_compaction(spark, tmp_path):
    """An append after a compactor died between its two renames must
    restore the stranded copy first — same guarantee as the index."""
    path = str(tmp_path / "vstore")
    qv = _probe(spark)
    vs = VectorStore.build(spark, _vectors(spark, 0, 80), path)
    os.replace(path, path + ".old")  # simulate the mid-swap crash
    assert not os.path.exists(path)

    vs.append(_vectors(spark, 80, 120))
    assert _topk(vs, qv) == _bruteforce_topk(spark, 0, 120, qv)
    assert not os.path.isdir(path + ".old")


def test_streaming_ingest_checkpointed_exactly_once(spark, tmp_path):
    """incremental_vector_append with a checkpoint: every staged vector
    lands exactly once; re-running against the same checkpoint ingests
    nothing new (offsets committed); lookups prune on bucket through
    the batch=<id> layout; compaction folds it to flat bucket=* with
    answers unchanged; and the layout-mix guards fail fast."""
    from map_reduce_indexing_spark.operators.similarity import (
        compact_vector_store,
        read_vector_store,
        vector_store_topk,
    )
    from map_reduce_indexing_spark.streaming.events import (
        incremental_vector_append,
    )

    staging = str(tmp_path / "staging")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    # stage the RAW fixture shape — the stream reader's schema is the
    # embeddings table's (vec_id, embedding, label)
    src = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 200)
    src.repartition(4).write.parquet(staging)

    incremental_vector_append(
        spark, staging, store, checkpoint=ckpt, glob="*.parquet",
        max_files_per_trigger=1,
    )
    n_src = src.count()
    assert read_vector_store(spark, store).count() == n_src

    # idempotent resume: same checkpoint, no new files -> no new rows
    incremental_vector_append(
        spark, staging, store, checkpoint=ckpt, glob="*.parquet"
    )
    assert read_vector_store(spark, store).count() == n_src

    qv = _probe(spark)
    expected = _bruteforce_topk(spark, 0, 200, qv)
    got = [
        (r.vec_id, round(r.cosine, 9))
        for r in vector_store_topk(spark, store, qv, k=5).collect()
    ]
    assert got == expected
    # the batched layout still prunes on bucket
    plan = (
        vector_store_topk(spark, store, qv)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "bucket" in plan.split(
        "PartitionFilters", 1
    )[1][:300], plan

    # raw append onto a checkpointed store: refused
    with pytest.raises(ValueError, match="batch="):
        incremental_vector_append(spark, staging, store, glob="*.parquet")

    # compaction folds batch=<id>/bucket=* into flat bucket=*
    compact_vector_store(spark, store)
    got = [
        (r.vec_id, round(r.cosine, 9))
        for r in vector_store_topk(spark, store, qv, k=5).collect()
    ]
    assert got == expected
    assert not glob.glob(os.path.join(store, "batch=*"))
    assert glob.glob(os.path.join(store, "bucket=*"))

    # checkpointed resume onto the now-flat store: refused
    with pytest.raises(ValueError, match="flat bucket"):
        incremental_vector_append(
            spark, staging, store, checkpoint=ckpt, glob="*.parquet"
        )


def test_append_waits_for_writer_lock(spark, tmp_path):
    """The vector-store append enters the SAME flock as every other
    writer of the path — held lock blocks it (the compactor-mid-swap
    stand-in), release lets it land losslessly."""
    import threading

    from map_reduce_indexing_spark.sources import commitio

    path = str(tmp_path / "vstore")
    vs = VectorStore.build(spark, _vectors(spark, 0, 50), path)
    vs.append(_vectors(spark, 50, 60))  # warm the append path
    done = threading.Event()

    def do_append():
        vs.append(_vectors(spark, 60, 70))
        done.set()

    with commitio.IO.writer_lock(path):
        t = threading.Thread(target=do_append)
        t.start()
        assert not done.wait(timeout=3.0), "append ran under a held lock"
    t.join(120)
    assert done.is_set()
    assert vs.vectors().count() == _vectors(spark, 0, 70).count()


def test_batch_append_refuses_checkpointed_layout(spark, tmp_path):
    """The batch append has the same fail-fast layout guard as the
    streaming ingest: a raw bucket=* append onto a checkpointed
    batch=<id>/bucket=* store would make every later read raise
    'conflicting directory structures' — and compaction, which must
    read first, could not heal it. append_vectors must refuse, and
    compaction must fold the store so the append then succeeds."""
    from map_reduce_indexing_spark.operators.similarity import (
        append_vectors,
        compact_vector_store,
        read_vector_store,
    )
    from map_reduce_indexing_spark.streaming.events import (
        incremental_vector_append,
    )

    staging = str(tmp_path / "staging")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    src = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 100)
    src.write.parquet(staging)
    incremental_vector_append(
        spark, staging, store, checkpoint=ckpt, glob="*.parquet"
    )
    with pytest.raises(ValueError, match="batch"):
        append_vectors(spark, _vectors(spark, 100, 120), store)
    # compaction folds batch=* flat; the append is then legal and visible
    compact_vector_store(spark, store)
    append_vectors(spark, _vectors(spark, 100, 120), store)
    assert read_vector_store(spark, store).count() == src.count() + 20


def test_ivf_cell_of_matches_spark_expr(spark):
    """Driver-side IVF probe routing must agree with the Spark
    expression on every fixture vector (same surrogate distance, same
    first-min tie-break, same 1-based indexing)."""
    from pyspark.sql import functions as F

    from map_reduce_indexing_spark.operators.similarity import (
        ivf_cell_of,
        spark_ivf_cell,
    )

    rows = (
        _vectors(spark, 0, 300)
        .withColumn("cell", F.expr(spark_ivf_cell("v")).cast("long"))
        .collect()
    )
    assert rows
    for r in rows:
        assert ivf_cell_of(list(r.v)) == r.cell, r.vec_id


def test_ivf_layout_lifecycle(spark, tmp_path):
    """The full build/append/compact/topk lifecycle on the IVF layout:
    layout inferred from the cell=* directories, appended vectors
    immediately visible through a still-pruned cell scan, compaction
    folds files with answers unchanged."""
    from map_reduce_indexing_spark.api import VectorStore
    from map_reduce_indexing_spark.operators.similarity import (
        ivf_cell_of,
        store_layout_col,
    )

    path = str(tmp_path / "ivf_store")
    vs = VectorStore.build(spark, _vectors(spark, 0, 200), path, layout="ivf")
    assert store_layout_col(path) == "cell"
    qv = [float(x) for x in _vectors(spark, 0, 1).head().v]

    top0 = [(r.vec_id, round(r.cosine, 9)) for r in vs.topk(qv, k=5).collect()]
    assert len(top0) == 5
    # the probe's own cell is the one scanned: plan prunes on cell
    plan = vs.topk(qv, k=5)._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:200]
    assert "cell" in pf and f"= {ivf_cell_of(qv)})" in pf, pf

    vs.append(_vectors(spark, 200, 260))
    n = vs.vectors().count()
    assert n == 260
    vs.compact()
    assert vs.vectors().count() == 260
    top1 = [(r.vec_id, round(r.cosine, 9)) for r in vs.topk(qv, k=5).collect()]
    # compaction must not change answers; appends may only improve them
    assert len(top1) == 5


def test_streaming_ingest_follows_ivf_layout(spark, tmp_path):
    """A checkpointed streaming ingest into an IVF-cell store must
    write cell partitions under its batch=<id> level (not bucket=*),
    and lookups stay cell-pruned afterwards."""
    from map_reduce_indexing_spark.api import VectorStore
    from map_reduce_indexing_spark.operators.similarity import (
        read_vector_store,
        store_layout_col,
    )
    from map_reduce_indexing_spark.streaming.events import (
        incremental_vector_append,
    )

    staging = str(tmp_path / "staging")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    vs = VectorStore.build(spark, _vectors(spark, 0, 100), store, layout="ivf")
    src = load_table(spark, SF_DIR, "embeddings").filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 160)
    )
    src.write.parquet(staging)
    # flat store + checkpoint is refused (layout-mix guard) — compact
    # first is not applicable; raw append follows the cell layout:
    import pytest as _pytest

    with _pytest.raises(ValueError, match="flat"):
        incremental_vector_append(
            spark, staging, store, checkpoint=ckpt, glob="*.parquet"
        )
    incremental_vector_append(spark, staging, store, glob="*.parquet")
    assert store_layout_col(store) == "cell"
    assert read_vector_store(spark, store).count() == 160
    # a FRESH checkpointed ingest into a new path defaults to bucket
    store2 = str(tmp_path / "store2")
    incremental_vector_append(
        spark, staging, store2, checkpoint=str(tmp_path / "ckpt2"), glob="*.parquet"
    )
    assert store_layout_col(store2) == "bucket"


def test_stranded_store_still_enforces_layout_guards(spark, tmp_path):
    """The review-caught crash window: a store stranded between a
    compactor's two renames looks like an EMPTY path, which must not
    bypass the layout guards or default the layout. A raw append onto
    a stranded checkpointed store heals it first and then refuses; a
    topk on a stranded IVF store heals and routes by cell."""
    from map_reduce_indexing_spark.operators.similarity import (
        append_vectors,
        ivf_cell_of,
        vector_store_topk,
    )
    from map_reduce_indexing_spark.streaming.events import (
        incremental_vector_append,
    )

    # stranded checkpointed store -> raw append refused AFTER healing
    staging = str(tmp_path / "staging")
    store = str(tmp_path / "store")
    load_table(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id") < 50
    ).write.parquet(staging)
    incremental_vector_append(
        spark, staging, store, checkpoint=str(tmp_path / "ckpt"), glob="*.parquet"
    )
    os.replace(store, store + ".old")  # simulate the mid-swap crash
    with pytest.raises(ValueError, match="batch="):
        append_vectors(spark, _vectors(spark, 50, 60), store)
    assert os.path.isdir(store)  # the refused append still healed it

    # stranded IVF store -> lookup heals and prunes on cell
    store2 = str(tmp_path / "ivf")
    VectorStore.build(spark, _vectors(spark, 0, 100), store2, layout="ivf")
    os.replace(store2, store2 + ".old")
    qv = _probe(spark)
    got = vector_store_topk(spark, store2, qv, k=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]
    assert got.count() <= 3
    assert ivf_cell_of(qv) >= 1


def test_build_rejects_unknown_layout(spark, tmp_path):
    with pytest.raises(ValueError, match="lsh"):
        VectorStore.build(
            spark, _vectors(spark, 0, 10), str(tmp_path / "x"), layout="IVF"
        )


def test_trained_quantizer_store_lifecycle(spark, tmp_path):
    """An IVF store built with TRAINED centroids persists its model as
    a sidecar and routes every later operation with it: build/append
    partition directories match the trained assignment (not the pinned
    one), topk prunes to the probe's trained cell, compaction carries
    the sidecar through the staged swap, and a crashed compaction heals
    model and all."""
    from map_reduce_indexing_spark.api import VectorStore
    from map_reduce_indexing_spark.operators.similarity import (
        QUANTIZER_FILE,
        ivf_cell_of,
        load_quantizer,
        store_layout_col,
        train_kmeans,
    )

    cents = train_kmeans(spark, SF_DIR)
    path = str(tmp_path / "trained_store")
    vs = VectorStore.build(
        spark, _vectors(spark, 0, 200), path, layout="ivf", centroids=cents
    )
    assert store_layout_col(path) == "cell"
    assert load_quantizer(path) == cents

    # stored assignments = trained model, vector by vector
    stored = {r.vec_id: r.cell for r in vs.vectors().collect()}
    for r in _vectors(spark, 0, 200).collect():
        assert stored[r.vec_id] == ivf_cell_of([float(x) for x in r.v], cents)

    # topk prunes on the TRAINED probe cell
    qv = _probe(spark)
    plan = vs.topk(qv, k=5)._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:200]
    assert f"= {ivf_cell_of(qv, cents)})" in pf, pf

    # appends route with the stored model too
    vs.append(_vectors(spark, 200, 260))
    stored = {r.vec_id: r.cell for r in vs.vectors().collect()}
    assert len(stored) == 260
    for r in _vectors(spark, 200, 260).collect():
        assert stored[r.vec_id] == ivf_cell_of([float(x) for x in r.v], cents)

    # the sidecar rides the compaction swap; answers unchanged
    before = [(r.vec_id, round(r.cosine, 9)) for r in vs.topk(qv, k=5).collect()]
    vs.compact()
    assert load_quantizer(path) == cents
    assert (tmp_path / "trained_store" / QUANTIZER_FILE).is_file()
    after = [(r.vec_id, round(r.cosine, 9)) for r in vs.topk(qv, k=5).collect()]
    assert after == before

    # a compactor crash mid-swap heals sidecar and data together
    os.replace(path, path + ".old")
    healed = [(r.vec_id, round(r.cosine, 9)) for r in vs.topk(qv, k=5).collect()]
    assert healed == before
    assert load_quantizer(path) == cents


def test_trained_centroids_rejected_on_lsh_layout(spark, tmp_path):
    from map_reduce_indexing_spark.api import VectorStore
    from map_reduce_indexing_spark.operators.similarity import train_kmeans

    cents = train_kmeans(spark, SF_DIR)
    with pytest.raises(ValueError, match="layout='ivf'"):
        VectorStore.build(
            spark,
            _vectors(spark, 0, 50),
            str(tmp_path / "bad"),
            layout="lsh",
            centroids=cents,
        )


def test_streaming_ingest_follows_trained_quantizer(spark, tmp_path):
    """Streaming ingest into a TRAINED store routes each microbatch
    with the store's persisted model (the raw-append branch delegates
    to append_vectors, which reads the sidecar under the writer lock —
    the checkpointed batch=<id> branch can never see a flat trained
    store: the layout-mix guard refuses it), and compaction keeps
    model and assignments intact."""
    from map_reduce_indexing_spark.api import VectorStore
    from map_reduce_indexing_spark.operators.similarity import (
        ivf_cell_of,
        train_kmeans,
    )
    from map_reduce_indexing_spark.streaming.events import (
        incremental_vector_append,
    )

    cents = train_kmeans(spark, SF_DIR)
    path = str(tmp_path / "trained_stream_store")
    VectorStore.build(
        spark, _vectors(spark, 0, 100), path, layout="ivf", centroids=cents
    )

    staged = str(tmp_path / "staged_vecs")
    (
        load_table(spark, SF_DIR, "embeddings")
        .filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 160))
        .write.parquet(staged)
    )
    incremental_vector_append(spark, staged, path, glob="*.parquet")
    vs = VectorStore(spark, path)
    stored = {r.vec_id: r.cell for r in vs.vectors().collect()}
    assert len(stored) == 160
    for r in _vectors(spark, 100, 160).collect():
        assert stored[r.vec_id] == ivf_cell_of([float(x) for x in r.v], cents)
    vs.compact()
    stored = {r.vec_id: r.cell for r in vs.vectors().collect()}
    assert len(stored) == 160
    for r in _vectors(spark, 100, 160).collect():
        assert stored[r.vec_id] == ivf_cell_of([float(x) for x in r.v], cents)


def test_topk_nprobe_recall_knob(spark, tmp_path):
    """nprobe widens the pruned scan to the n likeliest partitions:
    at nprobe = n_cells the lookup equals the store-wide brute force,
    and recall@k is monotone non-decreasing in nprobe; the scan stays
    partition-pruned (an IN filter over partition values, never a full
    scan)."""
    from map_reduce_indexing_spark.api import VectorStore
    from map_reduce_indexing_spark.operators.similarity import (
        N_CENTROIDS,
        embeddings_double,
        spark_cosine,
        store_probe_partitions,
        vector_store_topk,
    )

    e = embeddings_double(spark, SF_DIR).select("vec_id", "v")
    path = str(tmp_path / "store")
    vs = VectorStore.build(spark, e, path, layout="ivf")
    qv = [
        float(x)
        for x in e.filter("vec_id = 7").collect()[0]["v"]
    ]
    # brute force over the whole store = the nprobe=n_cells answer
    from map_reduce_indexing_spark.operators.similarity import _qv_literal

    brute = [
        r["vec_id"]
        for r in vs.vectors()
        .filter("vec_id != 7")
        .withColumn("qv", _qv_literal(qv))
        .select("vec_id", F.expr(spark_cosine("v", "qv")).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
        .collect()
    ]
    got_all = [
        r["vec_id"]
        for r in vector_store_topk(
            spark, path, qv, k=10, exclude_vec_id=7, nprobe=N_CENTROIDS
        ).collect()
    ]
    assert got_all == brute
    prev_recall = -1.0
    for nprobe in (1, 2, 4, N_CENTROIDS):
        got = {
            r["vec_id"]
            for r in vector_store_topk(
                spark, path, qv, k=10, exclude_vec_id=7, nprobe=nprobe
            ).collect()
        }
        recall = len(got & set(brute)) / len(brute)
        assert recall >= prev_recall  # monotone in nprobe
        prev_recall = recall
    assert prev_recall == 1.0
    # probe set sanity: distinct, bounded, starts at the routed cell
    probes = store_probe_partitions(path, qv, "cell", 4)
    assert len(probes) == len(set(probes)) == 4
    assert probes[0] == store_probe_partitions(path, qv, "cell", 1)[0]


def test_topk_rejects_nonpositive_nprobe(spark, tmp_path):
    from map_reduce_indexing_spark.api import VectorStore
    from map_reduce_indexing_spark.operators.similarity import (
        embeddings_double,
    )

    e = embeddings_double(spark, SF_DIR).select("vec_id", "v")
    path = str(tmp_path / "store")
    vs = VectorStore.build(spark, e, path, layout="ivf")
    qv = [float(x) for x in e.limit(1).collect()[0]["v"]]
    with pytest.raises(ValueError, match="nprobe"):
        vs.topk(qv, nprobe=0)


def test_compact_retrain_adapts_to_drifted_appends(spark, tmp_path):
    """The drift-adaptation maintenance op: build an IVF store on a
    trained quantizer, append vectors from a SHIFTED distribution
    (routed through the stale model), then compact(retrain=True) —
    the quantizer must retrain from the store's current vectors, every
    row must be re-assigned consistently with the NEW sidecar, serving
    must route through it, and the layout must be compact."""
    from map_reduce_indexing_spark.operators.similarity import (
        ivf_cell_of,
        load_quantizer,
        train_kmeans,
    )

    path = str(tmp_path / "drift_store")
    cents0 = train_kmeans(spark, SF_DIR)
    vs = VectorStore.build(
        spark, _vectors(spark, 0, 150), path, layout="ivf", centroids=cents0
    )
    # drifted appends: the fixture vectors pushed far off-distribution
    drifted = _vectors(spark, 150, 250).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.expr("transform(v, x -> x + 25.0d)").alias("v"),
    )
    vs.append(drifted)
    assert load_quantizer(path) == cents0

    vs.compact(retrain=True)
    cents1 = load_quantizer(path)
    assert cents1 is not None and cents1 != cents0  # the model moved

    rows = vs.vectors().collect()
    assert len(rows) == 250
    for r in rows:  # layout consistent with the NEW model
        assert r["cell"] == ivf_cell_of([float(x) for x in r["v"]], cents1)

    # compact layout: one flat cell=* level, no stranded batch dirs
    assert not glob.glob(os.path.join(path, "batch=*"))
    assert glob.glob(os.path.join(path, "cell=*"))

    # serving routes via the new sidecar: the probe's top hit is itself
    probe = _probe(spark)
    top = vs.topk(probe, k=3).collect()
    assert top and top[0]["vec_id"] == 0

    # a drifted probe finds drifted neighbors in its (new) cell
    dprobe = [x + 25.0 for x in probe]
    # vec 150 was drifted to id 1150; its shifted form is near dprobe
    dtop = vs.topk(dprobe, k=5).collect()
    assert dtop and all(r["vec_id"] >= 1000 for r in dtop)


def test_compact_retrain_rejects_lsh_layout(spark, tmp_path):
    path = str(tmp_path / "lsh_store")
    vs = VectorStore.build(spark, _vectors(spark, 0, 60), path)
    with pytest.raises(Exception, match="IVF|cell"):
        vs.compact(retrain=True)


def test_filtered_topk_applies_predicate_in_the_pruned_scan(spark, tmp_path):
    """vector_store_topk(where=...) — filtered ANN on the maintained
    store: metadata columns ride the partitions, the predicate applies
    before the top-k cut, and a wider nprobe restores candidates the
    filter thinned away."""
    from map_reduce_indexing_spark.operators.similarity import (
        build_vector_store,
        vector_store_topk,
    )

    store = str(tmp_path / "store")
    vecs = (
        load_table(spark, SF_DIR, "embeddings")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            "label",
        )
    )
    build_vector_store(spark, vecs, store, layout="lsh")
    qv = _probe(spark)

    labels = {r.vec_id: r.label for r in vecs.select("vec_id", "label").collect()}
    hits = vector_store_topk(
        spark, store, qv, k=50, nprobe=8,
        where=[("label", "=", 3)], exclude_vec_id=0,
    ).collect()
    assert hits and all(labels[r.vec_id] == 3 for r in hits)

    # the filtered result == the unfiltered result restricted to the
    # label, for the same probed partitions
    unfiltered = vector_store_topk(
        spark, store, qv, k=10_000, nprobe=8, exclude_vec_id=0
    ).collect()
    expected = [r.vec_id for r in unfiltered if labels[r.vec_id] == 3][: len(hits)]
    assert [r.vec_id for r in hits] == expected

    # widening nprobe can only add candidates
    n1 = len(vector_store_topk(
        spark, store, qv, k=10_000, nprobe=1, where=[("label", "=", 3)]
    ).collect())
    n8 = len(vector_store_topk(
        spark, store, qv, k=10_000, nprobe=8, where=[("label", "=", 3)]
    ).collect())
    assert n8 >= n1


def test_rebuild_keeps_the_store_and_its_generations(
    spark, tmp_path, monkeypatch
):
    """A rebuild stages its write and swaps it in: one that raises
    after its files were written leaves the store as it was (vectors,
    generations manifest, pinned snapshots), and one that succeeds
    publishes a new generation with the old ones still readable — an
    in-place overwrite replaces the live directory, manifest and
    snapshots included."""
    from map_reduce_indexing_spark.operators import similarity
    from map_reduce_indexing_spark.sources.generations import (
        generation_head,
        read_generation,
    )

    store = str(tmp_path / "store")
    similarity.build_vector_store(
        spark, _vectors(spark, 0, 60), store, layout="lsh"
    )
    similarity.append_vectors(spark, _vectors(spark, 60, 80), store)
    head = generation_head(store)

    def ids(at=None):
        return sorted(
            r.vec_id for r in read_generation(spark, store, at=at).collect()
        )

    before, pinned = ids(), ids(at=head - 1)
    assert before == list(range(80))
    write = similarity._write_vector_store

    def write_then_fail(*args, **kwargs):
        write(*args, **kwargs)
        raise RuntimeError("build failed")

    with monkeypatch.context() as mp:
        mp.setattr(similarity, "_write_vector_store", write_then_fail)
        with pytest.raises(RuntimeError, match="build failed"):
            similarity.build_vector_store(
                spark, _vectors(spark, 0, 30), store, layout="lsh"
            )
    assert generation_head(store) == head
    assert ids() == before
    assert ids(at=head - 1) == pinned
    assert [e for e in os.listdir(tmp_path) if e.startswith("mri_")] == []

    similarity.build_vector_store(
        spark, _vectors(spark, 0, 30), store, layout="lsh"
    )
    assert generation_head(store) == head + 1
    assert ids() == list(range(30))
    assert ids(at=head) == before
