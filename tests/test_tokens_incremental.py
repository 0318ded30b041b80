"""Incremental maintenance of the session tokens artifact.

Round-7 seam (VERDICT "What's missing" #3): the tokens artifact — the
base 13+ text/dedup queries chain on — was content-fingerprinted as a
whole, so appending ONE document re-tokenized the entire corpus. The
corpus-artifact lifecycle (tokens.corpus_artifact over
sources/artifacts.session_artifact_path) detects an append-only directory-corpus delta
(consumed files byte-identical, new data files appeared — tracked by
the artifact's _sources.json sidecar), tokenizes only the new files,
and appends under the index writer flock — the reference's
log-structured append story (helper_reduce.c:241) applied to the text
tier's base artifact.

Evidence pinned here: the delta tokenize job's INPUT is exactly the
new documents (spy on build_tokenized_docs); the pre-existing artifact
files are byte-untouched (no re-tokenization); the incremental
artifact is row-identical to a from-scratch build of the same corpus;
a MODIFIED file still forces the full fingerprint rebuild.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import map_reduce_indexing_spark.operators.tokens as tokens
from map_reduce_indexing_spark.operators.tokens import tokenized_docs
from map_reduce_indexing_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _stage_corpus(spark, dest: str, up_to: int = 10**9):
    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") < up_to
    )
    docs.write.parquet(os.path.join(dest, "documents.parquet"))


def _artifact_dir(df) -> str:
    files = df.inputFiles()
    assert files
    return os.path.dirname(files[0].removeprefix("file:"))


def _listing(d: str) -> dict[str, tuple[int, int]]:
    return {
        f: (
            os.stat(os.path.join(d, f)).st_size,
            os.stat(os.path.join(d, f)).st_mtime_ns,
        )
        for f in os.listdir(d)
        if not f.startswith(("_", "."))
    }


def test_append_only_growth_tokenizes_only_the_delta(
    spark, tmp_path, monkeypatch
):
    corpus = str(tmp_path / "corpus")
    _stage_corpus(spark, corpus)
    first = tokenized_docs(spark, corpus)
    n0 = first.count()
    art = _artifact_dir(first)
    before = _listing(art)

    # spy: how many docs enter the tokenize pass on the next build?
    seen = []
    orig = tokens.build_tokenized_docs

    def spy(docs):
        seen.append(docs.count())
        return orig(docs)

    monkeypatch.setattr(tokens, "build_tokenized_docs", spy)

    new_doc = spark.createDataFrame(
        [(10**7, "hello incremental world", "en", "unit")],
        "doc_id long, text string, lang string, source string",
    )
    new_doc.write.mode("append").parquet(
        os.path.join(corpus, "documents.parquet")
    )
    second = tokenized_docs(spark, corpus)
    assert _artifact_dir(second) == art  # same artifact, not a rebuild
    assert second.count() == n0 + 1
    assert seen == [1]  # exactly the delta entered the tokenizer
    after = _listing(art)
    for f, meta in before.items():  # old files byte-untouched
        assert after[f] == meta
    assert set(after) > set(before)  # the delta landed as new files
    row = second.filter("doc_id = 10000000").collect()[0]
    assert list(row["ws"]) == ["hello", "incremental", "world"]
    assert row["n_norm_tokens"] == 3


def test_incremental_artifact_equals_full_rebuild(spark, tmp_path):
    grown = str(tmp_path / "grown")
    _stage_corpus(spark, grown)
    tokenized_docs(spark, grown)  # full build of the base corpus
    extra = spark.createDataFrame(
        [(10**7 + i, f"delta doc number {i}", "en", "unit") for i in range(5)],
        "doc_id long, text string, lang string, source string",
    )
    extra.write.mode("append").parquet(
        os.path.join(grown, "documents.parquet")
    )
    inc = tokenized_docs(spark, grown)  # incremental append

    fresh = str(tmp_path / "fresh")  # same content, built from scratch
    os.makedirs(fresh)
    load_table(spark, grown, "documents").write.parquet(
        os.path.join(fresh, "documents.parquet")
    )
    full = tokenized_docs(spark, fresh)
    assert _artifact_dir(full) != _artifact_dir(inc)

    def canon(df):
        return sorted(
            (r["doc_id"], tuple(r["ws"]), r["n_norm_tokens"], r["n_punct"],
             r["n_bpe_tokens"], r["n_ws_tokens"], r["n_chars"])
            for r in df.collect()
        )

    assert canon(inc) == canon(full)


def test_modified_file_forces_full_rebuild(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    _stage_corpus(spark, corpus)
    first = tokenized_docs(spark, corpus)
    art = _artifact_dir(first)
    table = os.path.join(corpus, "documents.parquet")
    # REWRITE the corpus in place (overwrite = modified files, not an
    # append-only delta) with one doc dropped
    kept = (
        load_table(spark, corpus, "documents")
        .orderBy("doc_id")
        .limit(5)
        .collect()
    )
    import shutil

    shutil.rmtree(table)
    spark.createDataFrame(kept).write.parquet(table)
    rebuilt = tokenized_docs(spark, corpus)
    assert _artifact_dir(rebuilt) != art  # fingerprint rebuild
    assert rebuilt.count() == 5


def test_chained_artifacts_also_append_incrementally(
    spark, tmp_path, monkeypatch
):
    """Round-8 extension: the artifacts CHAINING on the corpus (session
    index, positional index, minhash signatures, LM counts, classifier
    statistics) also take the delta path. Each delta tokenizes exactly
    the appended docs, keeps its artifact directory (no rebuild) and
    matches a from-scratch build of the grown corpus — row-for-row for
    the doc_id-keyed artifacts, after the per-key merge for the
    mergeable summaries."""
    from map_reduce_indexing_spark.operators.classifier import clf_stats
    from map_reduce_indexing_spark.operators.dedup import session_signatures
    from map_reduce_indexing_spark.operators.indexing import indexed_postings
    from map_reduce_indexing_spark.operators.search import (
        indexed_positional_postings,
    )
    from map_reduce_indexing_spark.operators.textstats import lm_counts

    grown = str(tmp_path / "grown")
    _stage_corpus(spark, grown)
    readers = {
        "index": indexed_postings,
        "pos": indexed_positional_postings,
        "sigs": session_signatures,
        "lm": lm_counts,
        "clf": clf_stats,
    }
    dirs0 = {k: _artifact_dir(read(spark, grown)) for k, read in readers.items()}

    # spy: which docs enter the tokenizer on the delta path?
    seen = []
    orig = tokens.build_tokenized_docs

    def spy(docs):
        seen.append(sorted(r["doc_id"] for r in docs.select("doc_id").collect()))
        return orig(docs)

    monkeypatch.setattr(tokens, "build_tokenized_docs", spy)
    new_ids = [10**7, 10**7 + 1]
    spark.createDataFrame(
        [
            (new_ids[0], "incremental index alpha beta alpha", "en", "unit"),
            (new_ids[1], "gamma delta epsilon zeta eta theta", "en", "unit"),
        ],
        "doc_id long, text string, lang string, source string",
    ).write.mode("append").parquet(os.path.join(grown, "documents.parquet"))

    inc = {k: read(spark, grown) for k, read in readers.items()}
    # every artifact's delta tokenized exactly the appended docs
    assert seen == [new_ids] * len(readers)
    for k, df in inc.items():  # same artifact tree, not a rebuild
        assert _artifact_dir(df).startswith(os.path.dirname(dirs0[k])), k

    fresh = str(tmp_path / "fresh")
    os.makedirs(fresh)
    load_table(spark, grown, "documents").write.parquet(
        os.path.join(fresh, "documents.parquet")
    )

    got = {
        (r["word"], r["doc_id"], r["cnt"]) for r in inc["index"].collect()
    }
    want = {
        (r["word"], r["doc_id"], r["cnt"])
        for r in indexed_postings(spark, fresh).collect()
    }
    assert got == want
    assert ("alpha", 10**7, 2) in got

    got_pos = {
        (r["word"], r["doc_id"], r["pos"]) for r in inc["pos"].collect()
    }
    want_pos = {
        (r["word"], r["doc_id"], r["pos"])
        for r in indexed_positional_postings(spark, fresh).collect()
    }
    assert got_pos == want_pos

    inc_sigs = {r["doc_id"]: tuple(r["sig"]) for r in inc["sigs"].collect()}
    want_sigs = {
        r["doc_id"]: tuple(r["sig"])
        for r in session_signatures(spark, fresh).collect()
    }
    assert inc_sigs == want_sigs
    assert 10**7 in inc_sigs

    def merged_counts(df):
        return {
            (r["k"], r["g"]): r["c"]
            for r in df.groupBy("k", "g").agg(F.sum("c").alias("c")).collect()
        }

    assert merged_counts(inc["lm"]) == merged_counts(lm_counts(spark, fresh))

    def summed_stats(df):
        rows = df.collect()
        return {c: sum(r[c] for r in rows) for c in df.columns}

    assert inc["clf"].count() == 2  # the full build's row + one delta row
    assert summed_stats(inc["clf"]) == summed_stats(clf_stats(spark, fresh))


def test_failed_delta_refresh_is_not_appended_twice(spark, tmp_path, monkeypatch):
    """A delta refresh that fails after its rows landed (here: the
    generation publish raises) must not leave the old consumed listing
    behind. The failure is loud, and the next lookup takes the full
    rebuild instead of appending the same delta a second time."""
    from map_reduce_indexing_spark.sources import generations

    corpus = str(tmp_path / "corpus")
    _stage_corpus(spark, corpus)
    n0 = tokenized_docs(spark, corpus).count()
    spark.createDataFrame(
        [(10**7, "appended exactly once", "en", "unit")],
        "doc_id long, text string, lang string, source string",
    ).write.mode("append").parquet(os.path.join(corpus, "documents.parquet"))

    orig = generations.publish_generation
    failed = []

    def publish_once_fails(path, *args, **kwargs):
        if not failed:
            failed.append(path)
            raise RuntimeError("publish failed")
        return orig(path, *args, **kwargs)

    monkeypatch.setattr(generations, "publish_generation", publish_once_fails)
    with pytest.raises(RuntimeError, match="publish failed"):
        tokenized_docs(spark, corpus)
    again = tokenized_docs(spark, corpus)
    assert again.count() == n0 + 1
    assert again.filter(F.col("doc_id") == 10**7).count() == 1


def test_fingerprint_revert_after_delta_does_not_serve_stale_rows(
    spark, tmp_path
):
    """Review-caught round 8: the delta MUTATES the artifact path, so a
    corpus whose fingerprint returns to an earlier value (file
    appended, then removed) must NOT cache-hit the old fingerprint key
    and serve rows for the removed docs."""
    corpus = str(tmp_path / "corpus")
    _stage_corpus(spark, corpus)
    table = os.path.join(corpus, "documents.parquet")
    n0 = tokenized_docs(spark, corpus).count()
    before_files = set(os.listdir(table))
    spark.createDataFrame(
        [(10**7, "transient doc", "en", "unit")],
        "doc_id long, text string, lang string, source string",
    ).write.mode("append").parquet(table)
    assert tokenized_docs(spark, corpus).count() == n0 + 1  # delta seen
    # remove exactly the appended data files -> fingerprint reverts
    for f in set(os.listdir(table)) - before_files:
        os.remove(os.path.join(table, f))
    reverted = tokenized_docs(spark, corpus)
    assert reverted.count() == n0
    assert reverted.filter("doc_id = 10000000").count() == 0


def test_compact_folds_delta_files_and_keeps_delta_path_alive(
    spark, tmp_path
):
    """The lifecycle's merge half: repeated deltas pile up files;
    compaction folds them (rows unchanged), carries the _sources.json
    sidecar through the swap, and a FURTHER corpus append still takes
    the delta path afterwards."""
    from map_reduce_indexing_spark.operators.tokens import (
        compact_tokenized_docs,
    )

    corpus = str(tmp_path / "corpus")
    _stage_corpus(spark, corpus)
    table = os.path.join(corpus, "documents.parquet")
    first = tokenized_docs(spark, corpus)
    art = _artifact_dir(first)
    for i in range(6):
        spark.createDataFrame(
            [(10**7 + i, f"delta number {i}", "en", "unit")],
            "doc_id long, text string, lang string, source string",
        ).write.mode("append").parquet(table)
        tokenized_docs(spark, corpus)
    n = tokenized_docs(spark, corpus).count()
    rows_before = {
        (r["doc_id"], tuple(r["ws"]))
        for r in tokenized_docs(spark, corpus).collect()
    }
    files_before = len(_listing(art))
    assert files_before >= 7  # per-delta files piled up
    compact_tokenized_docs(spark, corpus)
    # folded to the compaction width, independent of how many deltas ran
    assert len(_listing(art)) <= spark.sparkContext.defaultParallelism
    assert len(_listing(art)) < files_before
    after = tokenized_docs(spark, corpus)
    assert _artifact_dir(after) == art
    assert {
        (r["doc_id"], tuple(r["ws"])) for r in after.collect()
    } == rows_before
    # the sidecar survived: one more append is still a delta, not a rebuild
    spark.createDataFrame(
        [(10**7 + 99, "post compact delta", "en", "unit")],
        "doc_id long, text string, lang string, source string",
    ).write.mode("append").parquet(table)
    again = tokenized_docs(spark, corpus)
    assert _artifact_dir(again) == art
    assert again.count() == n + 1


def test_overlapping_delta_doc_ids_force_full_rebuild(spark, tmp_path):
    """Round 9 (ADVICE): the append-only contract — new files hold only
    NEW doc_ids — is now CHECKED, not assumed. A delta file re-adding
    an existing doc_id must fall back to the full rebuild (correct:
    one row per doc) instead of silently double-counting that doc in
    the artifact."""
    corpus = str(tmp_path / "corpus")
    _stage_corpus(spark, corpus)
    base = tokenized_docs(spark, corpus)
    base_dir = _artifact_dir(base)
    some_id = base.select("doc_id").head()["doc_id"]
    dup = spark.createDataFrame(
        [(int(some_id), "sneaky duplicate row", "en", "unit"),
         (10**7, "genuinely new doc", "en", "unit")],
        "doc_id long, text string, lang string, source string",
    )
    dup.write.mode("append").parquet(
        os.path.join(corpus, "documents.parquet")
    )
    after = tokenized_docs(spark, corpus)
    # fell back to a FRESH artifact (new dir), not an in-place append
    assert _artifact_dir(after) != base_dir
    # and the result is the correct full-rebuild content: the
    # re-added doc_id appears the same number of times as in the
    # corpus (2 corpus rows -> 2 artifact rows, never 3)
    corpus_n = (
        load_table(spark, corpus, "documents")
        .filter(F.col("doc_id") == some_id)
        .count()
    )
    assert after.filter(F.col("doc_id") == some_id).count() == corpus_n
    assert after.filter(F.col("doc_id") == 10**7).count() == 1
