"""Session-persisted tokenized-corpus artifact — tokenize ONCE, query many.

The reference's lifecycle is build-then-query: the indexing job writes
its artifact once and every later lookup reads it instead of re-running
the map pipeline (client.c:39 submits the build; helper_reduce.c:238-257
serves lookups from the ./index files). The engine already applies that
discipline to the search tier (operators/indexing.session_index_path)
and the ANN tier (similarity.lsh_store / ivf_store) — this module
extends it to the TEXT-ANALYSIS tier, which until round 7 re-tokenized
`documents` from scratch in every one of its 17 queries (and
`text_pmi_windowed` scanned the corpus 4x by itself).

The artifact is one row per document:

    doc_id, source, lang,
    ws            array<string>  normalized tokens, in order (§0.1 rules)
    n_norm_tokens bigint         size(ws) — stored so counting queries
                                 (token budgets, packing) never read the
                                 array column at all
    n_chars       bigint         length(text)
    n_chars_lower bigint         length(lower(text))
    n_punct       bigint         chars of lower(text) outside [a-z0-9 ]
    n_ws_tokens   bigint         non-empty raw space-split tokens
    n_bpe_tokens  bigint         BPE-ish regex segments of lower(text)

i.e. the ordered token sequence plus every per-doc scalar the text
family derives from RAW text (the regex passes are paid once, at build
time). Downstream, shingles/k-grams/unigrams are per-row array
comprehensions over the MATERIALIZED `ws` column — cheap array access,
unlike array HOFs over an unevaluated tokenize expression, which
Catalyst inlines into every element access (O(tokens^2) per doc; see
dedup.shingle_rows's round-4 measurement). At 100 TB this converts the
text tier from one full corpus pass PER QUERY into one tokenization
pass total plus N column-pruned artifact scans — a query that needs
only `n_punct` reads one bigint column, not the text.

Caching / invalidation / placement semantics: `indexing.
session_artifact_df` (content-fingerprinted per Spark application;
`$SPARK_GRAFT_INDEX_DIR` points it at shared storage on a cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dedup import spark_tokens_expr

# BPE-ish segmentation: letter runs | digit runs | single symbol.
# Shared with the DuckDB oracles in textstats.py.
BPE_ISH = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def build_tokenized_docs(docs: DataFrame) -> DataFrame:
    """One pass over (doc_id, text, lang, source): the token array plus
    every raw-text scalar the text family needs. All built-in JVM
    expressions — this is the single map pass the artifact amortizes.

    Shape note: `n_norm_tokens` is derived in a STACKED projection from
    the `ws` column, not by repeating the tokenizer expression inline —
    CollapseProject declines to merge projections that would duplicate
    a non-cheap (HOF) expression, so the tokenizer runs ONCE per row
    (plan-pinned in tests/test_tokens_artifact.py; the inline form ran
    it twice)."""
    lower = F.lower(F.col("text"))
    tokenized = docs.select(
        "doc_id",
        "source",
        "lang",
        F.expr(spark_tokens_expr("text")).alias("ws"),
        F.length("text").cast("long").alias("n_chars"),
        F.length(lower).cast("long").alias("n_chars_lower"),
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
    return tokenized.select(
        "doc_id",
        "source",
        "lang",
        "ws",
        F.size("ws").cast("long").alias("n_norm_tokens"),
        "n_chars",
        "n_chars_lower",
        "n_punct",
        "n_ws_tokens",
        "n_bpe_tokens",
    )


def _null_fill(docs: DataFrame) -> DataFrame:
    # Minimal corpora (tests, user-built (doc_id, text) tables)
    # may lack the fixture's metadata columns — carry NULLs so the
    # artifact schema is stable either way.
    for c in ("lang", "source"):
        if c not in docs.columns:
            docs = docs.withColumn(c, F.lit(None).cast("string"))
    return docs.select("doc_id", "text", "lang", "source")


def tokenized_docs(
    spark: SparkSession, sf_dir: str, at: int | None = None
) -> DataFrame:
    """The artifact, built once per (Spark application, corpus content)
    and served as a cached partition-discovered read.

    INCREMENTAL maintenance (round 8): when the corpus is a directory
    parquet table that grew append-only (new data files; every
    previously-consumed file byte-identical), the delta path tokenizes
    ONLY the new files and appends them to the existing artifact under
    the index writer flock — the same log-structured append story as
    the letter index (reference helper_reduce.c:241), applied to the
    base artifact 13+ text/dedup queries chain on. A modified or
    removed file still triggers the full fingerprint rebuild.
    Downstream artifacts (lm_counts, minhash signatures, the session
    index) key on the corpus fingerprint and rebuild FROM this
    artifact, so a 1-doc corpus append re-tokenizes 1 doc, then
    re-aggregates counts — never re-runs the regex passes over old
    text.

    `at=` (round 9) pins a published generation — each delta append
    publishes one, so e.g. a classifier can train on snapshot S of
    the tokens while corpus ingest continues (snapshot isolation,
    sources/generations.py)."""
    from ..sources.tables import load_table
    from .indexing import (
        _recover_index_locked,
        index_writer_lock,
        session_artifact_df,
    )

    build, delta_build = _tokens_artifact_spec(spark, sf_dir)
    return session_artifact_df(
        spark,
        sf_dir,
        "session_tokens",
        "documents.parquet",
        build,
        delta_build=delta_build,
        at=at,
    )


def _tokens_artifact_spec(spark: SparkSession, sf_dir: str):
    from ..sources.tables import load_table
    from .indexing import _recover_index_locked, index_writer_lock

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        build_tokenized_docs(_null_fill(docs)).write.parquet(path)

    def delta_build(path: str, new_files: list[str]) -> None:
        # Only the delta files enter the tokenize job (plan-verified in
        # tests/test_tokens_incremental.py via the scan's file count).
        docs = spark.read.parquet(*new_files)
        with index_writer_lock(path):
            _recover_index_locked(path)
            build_tokenized_docs(_null_fill(docs)).write.mode(
                "append"
            ).parquet(path)

    return build, delta_build


def compact_tokenized_docs(spark: SparkSession, sf_dir: str) -> None:
    """Fold the per-delta appended files back to a compact artifact —
    the log-structured merge half of the tokens tier's lifecycle (the
    index tier's compact_index, applied to the base artifact). Runs
    through indexing.compact_artifact (locked read -> staged rewrite ->
    crash-safe swap); the _sources.json consumed-listing sidecar rides
    the swap like the vector store's model sidecars, so later corpus
    appends still take the delta path. The swap changes the artifact's
    directory stat, so the next `tokenized_docs` re-discovers the
    folded file listing."""
    from .indexing import (
        _load_sources,
        _save_sources,
        compact_artifact,
        session_artifact_path,
    )

    build, delta_build = _tokens_artifact_spec(spark, sf_dir)
    path = session_artifact_path(
        spark,
        sf_dir,
        "session_tokens",
        "documents.parquet",
        build,
        delta_build,
    )

    def rewrite(df, staging: str) -> None:
        df.repartition(spark.sparkContext.defaultParallelism).write.mode(
            "overwrite"
        ).parquet(staging)
        listing = _load_sources(path)
        if listing is not None:
            _save_sources(staging, listing)

    compact_artifact(spark, path, rewrite)


def token_rows(spark: SparkSession, sf_dir: str, out_col: str = "w") -> DataFrame:
    """(doc_id, <out_col>): one row per token OCCURRENCE, in-document
    order not preserved (explode of the stored array). Docs with zero
    tokens contribute no rows (explode drops empty arrays), matching
    functions.text.tokenize's empty-token filter."""
    return tokenized_docs(spark, sf_dir).select(
        "doc_id", F.explode("ws").alias(out_col)
    )


def gram_expr(k: int, distinct: bool = False, ws: str = "ws") -> str:
    """SQL expr: the array of space-joined word k-grams of `ws`, in
    order (optionally per-doc distinct). Guarded for short docs:
    sequence(1, n) DESCENDS when n < 1, so the size >= k test is
    load-bearing, not cosmetic."""
    grams = (
        f"transform(sequence(1, size({ws}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({ws}, i, {k})))"
    )
    if distinct:
        grams = f"array_distinct({grams})"
    return f"if(size({ws}) >= {k}, {grams}, array())"


def gram_rows(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    distinct: bool = False,
    out_col: str = "g",
) -> DataFrame:
    """(doc_id, <out_col>): word k-gram occurrences (or per-doc DISTINCT
    k-grams) as a pure per-row comprehension over the stored token
    array — zero shuffle before the explode. Replaces the round-2
    posexplode + lead()-window formulation, which was the right shape
    when tokens were an unevaluated expression (array HOFs would have
    re-tokenized per element access) but pays a doc_id exchange +
    whole-partition sort the materialized array makes unnecessary."""
    return tokenized_docs(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(gram_expr(k, distinct))).alias(out_col)
    )
