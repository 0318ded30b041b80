"""Indexing pipeline: golden semantics, partitioned index write + pruning,
and oracle parity for the registered index queries."""

from __future__ import annotations

import collections

from pyspark.sql import functions as F

from map_reduce_indexing_spark.operators.indexing import (
    build_postings,
    read_index,
    with_letter,
    write_index,
)
from map_reduce_indexing_spark.operators.search import term_lookup
from map_reduce_indexing_spark.plans import registry

from .conftest import SF_DIR, assert_df_matches_oracle
from .test_tokenizer import python_tokens


def test_build_postings_golden(spark):
    docs = [
        (1, "the cat sat\tthe cat"),  # tab does not split: "sat\tthe" -> satthe
        (2, "Dog! dog DOG 42"),
        (3, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.word, r.doc_id): r.cnt for r in build_postings(df).collect()}
    expected: dict[tuple[str, int], int] = collections.Counter()
    for doc_id, text in docs:
        for t in python_tokens(text):
            expected[(t, doc_id)] += 1
    assert got == dict(expected)
    # the tab case specifically
    assert got[("satthe", 1)] == 1
    assert ("sat", 1) not in got


def test_index_write_and_pruned_lookup(spark, tmp_path):
    path = str(tmp_path / "index")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    postings = build_postings(docs)
    write_index(postings, path)
    idx = read_index(spark, path)
    # letter column materialized as a partition and lookup prunes on it
    hit = term_lookup(idx, "spark")
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "letter" in plan
    # same answer as recomputing from source
    direct = postings.filter(F.col("word") == "spark").select("doc_id", "cnt")
    assert sorted((r.doc_id, r.cnt) for r in hit.select("doc_id", "cnt").collect()) == sorted(
        (r.doc_id, r.cnt) for r in direct.collect()
    )
    # rows inside each written file are word-sorted (the reference's
    # reduce-side `| sort`, helper_reduce.c:153) -> parquet zone maps
    import glob

    part_file = sorted(glob.glob(f"{path}/letter=*/*.parquet"))[0]
    words = [r.word for r in spark.read.parquet(part_file).collect()]
    assert words == sorted(words)
    # append mode works (the reference's fopen(.., "a+") helper_reduce.c:241)
    write_index(postings, path, mode="append")
    assert read_index(spark, path).count() == 2 * postings.count()
    # compaction merges the appended partials back to one row per
    # (word, doc) with summed counts
    from map_reduce_indexing_spark.operators.indexing import compact_index

    compact_index(spark, path)
    compacted = read_index(spark, path)
    assert compacted.count() == postings.count()
    doubled = {
        (r.word, r.doc_id): r.cnt
        for r in compacted.filter(F.col("word") == "spark").collect()
    }
    original = {
        (r.word, r.doc_id): r.cnt
        for r in postings.filter(F.col("word") == "spark").collect()
    }
    assert doubled == {k: 2 * v for k, v in original.items()}


def test_corpus_dir_roundtrip(spark, tmp_path):
    """S1/S2/P7 (SURVEY.md §2.1-2.2): read a `<collection>/<doc>` text
    tree wholetext, derive doc_id by stripping dirs+extension
    (worker.c:285-302 semantics), and index it end-to-end."""
    from map_reduce_indexing_spark.sources.corpus import read_corpus_dir

    files = {
        ("tragedies", "hamlet.txt"): "To be or not to be\nthat is the Question",
        ("tragedies", "macbeth.txt"): "Double, double toil and trouble!",
        ("comedies", "tempest.txt"): "We are such stuff\nas dreams are made on",
    }
    for (coll, name), text in files.items():
        d = tmp_path / "data" / coll
        d.mkdir(parents=True, exist_ok=True)
        (d / name).write_text(text)

    corpus = read_corpus_dir(spark, str(tmp_path / "data" / "*" / "*"))
    rows = {r.doc_id: (r.collection, r.text) for r in corpus.collect()}
    assert set(rows) == {"hamlet", "macbeth", "tempest"}
    assert rows["hamlet"] == ("tragedies", files[("tragedies", "hamlet.txt")])

    postings = build_postings(corpus, doc_col="doc_id")
    got = {(r.word, r.doc_id): r.cnt for r in postings.collect()}
    expected: dict[tuple[str, str], int] = collections.Counter()
    for (coll, name), text in files.items():
        for t in python_tokens(text):
            expected[(t, name.rsplit(".", 1)[0])] += 1
    assert got == dict(expected)
    assert got[("question", "hamlet")] == 1  # lowercased
    assert got[("double", "macbeth")] == 2  # punctuation stripped


def test_registered_index_queries_match_oracle(spark, duck):
    for name in (
        "index_postings",
        "index_corpus_stats",
        "index_letter_histogram",
        "index_vocabulary_topk",
        "index_vocabulary_prune",
    ):
        q = registry.get(name)
        assert_df_matches_oracle(q.fn(spark, SF_DIR), duck, q.oracle)


def test_prefix_search_prunes_persisted_index(spark, tmp_path):
    """search_prefix's access-path claim, proven on the persisted index:
    the first-letter equality becomes a partition filter (25/26 letter
    partitions pruned) and the LIKE prefix is pushed to the scan."""
    from map_reduce_indexing_spark.operators.search import PREFIX

    path = str(tmp_path / "index_for_prefix")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    postings = build_postings(docs)
    write_index(postings, path)

    idx = read_index(spark, path)
    hit = (
        idx.filter(
            (F.col("letter") == PREFIX[0]) & F.col("word").startswith(PREFIX)
        )
        .groupBy("word")
        .agg(F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_docs"))
    )
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "letter" in plan
    assert "StartsWith" in plan or "PushedFilters" in plan
    # same answer as recomputing from source
    direct = (
        postings.filter(F.col("word").startswith(PREFIX))
        .groupBy("word")
        .agg(F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_docs"))
    )
    assert sorted(map(tuple, hit.collect())) == sorted(map(tuple, direct.collect()))


def test_compact_crash_recovery(spark, tmp_path):
    """Simulate a crash between compact_index's two renames (live path
    missing, .old present): the next read must self-heal."""
    import os

    from map_reduce_indexing_spark.sources.commitio import recover_index

    path = str(tmp_path / "index_crash")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    postings = build_postings(docs)
    write_index(postings, path)
    n = read_index(spark, path).count()

    os.replace(path, path + ".old")  # the mid-compaction crash state
    assert not os.path.exists(path)
    assert read_index(spark, path).count() == n  # read self-heals
    assert os.path.exists(path) and not os.path.exists(path + ".old")
    recover_index(path)  # idempotent on a healthy index
    assert read_index(spark, path).count() == n
