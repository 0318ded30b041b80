"""The persisted session index — the reference's build-then-query
lifecycle (client.c:39 submits indexing once; every later lookup scans
./index/<letter>, helper_reduce.c:238-257).

Covers: build-once caching, content-fingerprint invalidation, value
parity between the artifact-read path and the build path, and the plan
property the artifact exists for — letter partition pruning on term
lookup.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from map_reduce_indexing_spark.operators.indexing import (
    build_postings,
    indexed_postings,
    postings_for,
    session_index_path,
)
from map_reduce_indexing_spark.operators.search import TERM_A, term_lookup

from .conftest import SF_DIR


def test_session_index_builds_once(spark):
    p1 = session_index_path(spark, SF_DIR)
    mtime1 = os.stat(p1).st_mtime_ns
    p2 = session_index_path(spark, SF_DIR)
    assert p1 == p2
    assert os.stat(p2).st_mtime_ns == mtime1, "second call rebuilt the index"


def test_session_index_invalidates_on_corpus_change(spark, tmp_path):
    src = tmp_path / "documents.parquet"

    def write_corpus(rows):
        t = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        )
        # Fixed-layout write: equal-length texts yield byte-identical
        # file sizes, so the adversarial case below is reachable.
        pq.write_table(t, src, compression="NONE", use_dictionary=False)

    write_corpus([(1, "alpha beta"), (2, "beta gamma")])
    p1 = session_index_path(spark, str(tmp_path))
    words1 = {r.word for r in indexed_postings(spark, str(tmp_path)).collect()}
    assert words1 == {"alpha", "beta", "gamma"}
    st1 = os.stat(src)

    # Adversarial regenerate: same byte SIZE (equal-length texts, fixed
    # layout) and mtime pinned back to the original — an (mtime, size)
    # key would serve the stale artifact. The content fingerprint must
    # still trigger a rebuild.
    write_corpus([(1, "delta zeta"), (2, "zeta omega")])
    os.utime(src, ns=(st1.st_atime_ns, st1.st_mtime_ns))
    st2 = os.stat(src)
    assert (st2.st_size, st2.st_mtime_ns) == (st1.st_size, st1.st_mtime_ns)

    p2 = session_index_path(spark, str(tmp_path))
    words2 = {r.word for r in indexed_postings(spark, str(tmp_path)).collect()}
    assert p2 != p1
    assert words2 == {"delta", "zeta", "omega"}


def test_indexed_postings_match_build_postings(spark):
    """The artifact-read path must be value-identical to the build path
    (same oracle SQL keeps verifying the routed queries)."""
    built = {
        (r.word, r.doc_id, r.cnt)
        for r in postings_for(spark, SF_DIR).collect()
    }
    read = {
        (r.word, r.doc_id, r.cnt)
        for r in indexed_postings(spark, SF_DIR).select(
            "word", "doc_id", "cnt"
        ).collect()
    }
    assert built == read


def test_term_lookup_prunes_letter_partitions(spark):
    """The point of the artifact: a term lookup reads 1/26th of the
    index. The scan node must carry the letter partition filter (Hive
    partition pruning) and the pushed word equality."""
    df = term_lookup(indexed_postings(spark, SF_DIR), TERM_A).select(
        "doc_id", "cnt"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert f"letter" in plan.split("PartitionFilters", 1)[1][:200]
    assert TERM_A in plan.split("PushedFilters", 1)[1][:300], (
        "word equality not pushed to the parquet scan"
    )


def test_letter_histogram_uses_partition_column(spark):
    """index_letter_histogram groups by the Hive partition column of the
    persisted index — no tokenize stage in its plan."""
    idx = indexed_postings(spark, SF_DIR)
    hist = idx.groupBy("letter").agg(F.count(F.lit(1)).alias("n"))
    plan = hist._jdf.queryExecution().executedPlan().toString()
    assert "explode" not in plan.lower(), "histogram re-tokenized the corpus"


def test_ann_lsh_topk_prunes_bucket_partitions(spark):
    """The LSH top-k must read only the query's bucket partition of the
    persisted store — a dynamic (DPP) or static partition filter on
    `bucket`, never a full-store scan."""
    from map_reduce_indexing_spark.plans import registry

    df = registry.get("ann_lsh_topk").fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    store_scan = [
        seg for seg in plan.split("FileScan parquet") if "mri_emb_store_" in seg
    ]
    assert store_scan, "store scan not found in plan"
    assert "PartitionFilters: [" in store_scan[0]
    pf = store_scan[0].split("PartitionFilters", 1)[1][:300]
    assert "bucket" in pf and ("dynamicpruning" in pf or "= " in pf), pf


def test_session_artifact_df_is_cached(spark):
    """Partition discovery costs ~0.5 s per spark.read.parquet on a
    many-partition artifact; the artifact is immutable, so repeated
    reads must return the SAME cached DataFrame object."""
    a = indexed_postings(spark, SF_DIR)
    b = indexed_postings(spark, SF_DIR)
    assert a is b


def test_artifact_honors_shared_index_dir(spark, tmp_path, monkeypatch):
    """$SPARK_GRAFT_INDEX_DIR points artifacts at shared storage (the
    cluster deployment path); the build must land under it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_indexing_spark.operators.indexing import session_index_path

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    t = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array(["shared storage", "storage path"], pa.string()),
        }
    )
    pq.write_table(t, corpus / "documents.parquet")

    shared = tmp_path / "warehouse"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(shared))
    path = session_index_path(spark, str(corpus))
    assert path.startswith(str(shared)), path
    assert os.path.isdir(path)


def test_pq_store_is_compressed_and_pruned(spark):
    """The PQ store is the COMPRESSED tier: codes only (no raw vector
    column), partitioned by IVF cell so a probe is a pruned read."""
    from map_reduce_indexing_spark.operators.similarity import pq_store

    df = pq_store(spark, SF_DIR)
    assert set(df.columns) == {"vec_id", "code", "cell"}
    scan = df.filter(F.col("cell") == 1)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    assert "PartitionFilters: []" not in plan


def test_failed_artifact_build_is_not_cached(spark):
    """A build() that crashes must leave no cache entry; the retry gets
    a FRESH directory (mkdtemp), so a partial artifact can never be
    served or appended to."""
    from map_reduce_indexing_spark.sources import artifacts

    calls = []

    def flaky_build(path):
        calls.append(path)
        if len(calls) == 1:
            import os

            os.makedirs(path)  # simulate a partial write, then die
            raise RuntimeError("mid-build crash")
        spark.range(3).write.parquet(path)

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        artifacts.session_artifact_path(
            spark, SF_DIR, "crashkind", "documents.parquet", flaky_build
        )
    # nothing cached for the failed build
    from map_reduce_indexing_spark import state

    assert not any(
        k[0] == "crashkind"
        for k in state.entries(spark.sparkContext, "artifact")
    )
    path = artifacts.session_artifact_path(
        spark, SF_DIR, "crashkind", "documents.parquet", flaky_build
    )
    assert len(calls) == 2
    assert calls[0] != calls[1], "retry must not reuse the partial dir"
    assert spark.read.parquet(path).count() == 3


def test_content_fingerprint_sees_nested_rewrites(tmp_path):
    """A partitionBy-written source keeps its data files one level down;
    the directory fingerprint must hash the RECURSIVE listing, so a
    rewrite that only touches nested files (same top-level entries)
    changes the digest instead of serving a stale artifact."""
    import os
    import time

    from map_reduce_indexing_spark.state import content_fingerprint

    src = tmp_path / "documents.parquet"
    part = src / "lang=en"
    part.mkdir(parents=True)
    f = part / "part-000.parquet"
    f.write_bytes(b"v1-bytes")
    fp1 = content_fingerprint(str(src))
    # same top-level listing, nested file rewritten (size changes)
    f.write_bytes(b"v2-bytes-longer")
    fp2 = content_fingerprint(str(src))
    assert fp1 != fp2
    # same-size same-path rewrite still caught via mtime_ns
    time.sleep(0.01)
    f.write_bytes(b"v3-bytes-longer")
    os.utime(f)
    fp3 = content_fingerprint(str(src))
    assert fp2 != fp3
