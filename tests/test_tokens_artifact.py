"""The session tokens artifact (operators/tokens.py): build parity with
the inline tokenizer, scalar correctness, short-doc gram guards, and
the once-per-session caching contract the text family now rides on."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_indexing_spark.operators.dedup import spark_tokens_expr
from map_reduce_indexing_spark.operators.tokens import (
    BPE_ISH,
    build_tokenized_docs,
    gram_expr,
    gram_rows,
    token_rows,
    tokenized_docs,
)
from map_reduce_indexing_spark.sources.tables import load_table

from .conftest import SF_DIR


def test_artifact_matches_inline_tokenization(spark):
    """Every artifact column equals the expression it replaced, row for
    row, over the real fixture — the artifact may never drift from the
    §0.1 normalization rules the oracles encode."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    art = tokenized_docs(spark, SF_DIR)
    lower = F.lower(F.col("text"))
    expected = docs.select(
        "doc_id",
        F.expr(spark_tokens_expr("text")).alias("ws"),
        F.length("text").cast("long").alias("n_chars"),
        (F.length(lower) - F.length(F.regexp_replace(lower, "[^a-z0-9 ]", "")))
        .cast("long")
        .alias("n_punct"),
        F.expr("size(filter(split(text, ' ', -1), x -> x != ''))")
        .cast("long")
        .alias("n_ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(lower(text), '{BPE_ISH}', 0)"))
        .cast("long")
        .alias("n_bpe_tokens"),
    )
    got = art.select(
        "doc_id", "ws", "n_chars", "n_punct", "n_ws_tokens", "n_bpe_tokens"
    )
    diff = got.exceptAll(expected).unionAll(expected.exceptAll(got))
    assert diff.count() == 0
    # the stored count is the array's size (counting queries skip the array)
    bad = art.filter(F.col("n_norm_tokens") != F.size("ws")).count()
    assert bad == 0


def test_artifact_df_is_cached_per_session(spark):
    """Two lookups return the SAME DataFrame object: partition
    discovery is paid once, and both reads resolve to one artifact."""
    assert tokenized_docs(spark, SF_DIR) is tokenized_docs(spark, SF_DIR)


def test_gram_expr_short_doc_guard(spark):
    """sequence(1, n) DESCENDS for n < 1: a doc with fewer than k
    tokens must produce ZERO k-grams, not garbage slices."""
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "b", "c"]), (3, [])],
        "doc_id long, ws array<string>",
    )
    out = df.select(
        "doc_id", F.expr(gram_expr(3)).alias("g3"), F.expr(gram_expr(2)).alias("g2")
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].g3 == [] and by_id[3].g3 == []
    assert by_id[2].g3 == ["a b c"]
    assert by_id[1].g2 == ["a b"]
    assert by_id[2].g2 == ["a b", "b c"]


def test_gram_rows_matches_window_formulation(spark):
    """The array-comprehension k-grams equal the retired posexplode +
    lead()-window formulation on the fixture corpus — same occurrence
    multiset, same distinct sets (the dedup family's contract)."""
    from pyspark.sql import Window

    k = 3
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    e = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), "[ \n]", -1)).alias("pos", "raw"),
        )
        .withColumn("w0", F.regexp_replace("raw", "[^a-z]", ""))
        .filter(F.col("w0") != "")
        .drop("raw")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    for j in range(1, k):
        e = e.withColumn(f"w{j}", F.lead("w0", j).over(w))
    old = e.filter(F.col(f"w{k-1}").isNotNull()).select(
        "doc_id", F.concat_ws(" ", *[f"w{j}" for j in range(k)]).alias("g")
    )
    new = gram_rows(spark, SF_DIR, k)
    diff = new.exceptAll(old).unionAll(old.exceptAll(new))
    assert diff.count() == 0


def test_token_rows_drop_empty_docs(spark):
    """Explode semantics match functions.text.tokenize: docs whose
    text normalizes to zero tokens contribute no rows."""
    n_docs_with_tokens = (
        tokenized_docs(spark, SF_DIR).filter(F.size("ws") > 0).count()
    )
    assert (
        token_rows(spark, SF_DIR).select("doc_id").distinct().count()
        == n_docs_with_tokens
    )


def test_index_build_chains_on_tokens_artifact(spark):
    """Since round 7 the session index builds FROM the tokens artifact
    (one corpus tokenization per session across all artifacts). The
    nested session_artifact_path call must not deadlock (each artifact
    builds under its own entry lock), and the chained postings must equal
    the direct build path."""
    from map_reduce_indexing_spark.operators.indexing import (
        postings_for,
        postings_from_tokens,
    )

    chained = postings_from_tokens(tokenized_docs(spark, SF_DIR))
    direct = postings_for(spark, SF_DIR)
    diff = chained.exceptAll(direct).unionAll(direct.exceptAll(chained))
    assert diff.count() == 0
    # and the served index agrees (forces the nested artifact build)
    from map_reduce_indexing_spark.operators.indexing import indexed_postings

    n = indexed_postings(spark, SF_DIR).count()
    assert n == direct.count()


def test_build_is_single_map_pass(spark):
    """The build plan is scan -> project: no shuffle, no explode, and
    the tokenizer HOF appears ONCE (the stacked-projection shape —
    inlining size(tokens) next to the tokens expression ran the
    tokenizer twice per row; CollapseProject must keep declining to
    merge the non-cheap expression)."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    plan = (
        build_tokenized_docs(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert plan.count("transform(split(lower") == 1, plan


def test_doclen_scalar_matches_postings_sum(spark):
    """The equivalence q_search_bm25_rank rides on: per-doc sum(cnt)
    over the postings equals the artifact's stored n_norm_tokens, and
    the postings' doc set is exactly the docs with n_norm_tokens > 0
    (postings chain on the artifact, so this is by construction — but
    bm25/tfidf read the scalar INSTEAD of the index, so drift here
    would silently skew scores)."""
    from map_reduce_indexing_spark.operators.indexing import indexed_postings

    dl_from_index = (
        indexed_postings(spark, SF_DIR)
        .groupBy("doc_id")
        .agg(F.sum("cnt").cast("long").alias("dl"))
    )
    dl_from_artifact = (
        tokenized_docs(spark, SF_DIR)
        .filter(F.col("n_norm_tokens") > 0)
        .select("doc_id", F.col("n_norm_tokens").alias("dl"))
    )
    diff = dl_from_index.exceptAll(dl_from_artifact).unionAll(
        dl_from_artifact.exceptAll(dl_from_index)
    )
    assert diff.count() == 0
