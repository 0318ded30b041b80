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

`corpus_artifact` below is the lifecycle every corpus-derived artifact
shares; caching / invalidation / placement semantics are
`sources.artifacts.session_artifact_path`'s (content-fingerprinted per
Spark application; `$SPARK_GRAFT_INDEX_DIR` points it at shared storage
on a cluster).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.artifacts import (
    compact_artifact,
    read_artifact,
    session_artifact_path,
)
from ..sources.tables import load_table

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
    from .dedup import spark_tokens_expr  # dedup imports this module

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


class CorpusArtifact(NamedTuple):
    """One corpus-derived session artifact, declared once: `kind` names
    its directory, `derive(tokenized) -> DataFrame` maps rows of
    `build_tokenized_docs` to the artifact's rows, and
    `write(df, path, mode)` persists them ("overwrite" for the full
    build, "append" for a corpus delta). `corpus_artifact` runs both."""

    kind: str
    derive: Callable[[DataFrame], DataFrame]
    write: Callable[[DataFrame, str, str], None]


def write_parquet(df: DataFrame, path: str, mode: str) -> None:
    df.write.mode(mode).parquet(path)


TOKENS = CorpusArtifact("session_tokens", lambda tokenized: tokenized, write_parquet)


def _tokenize(docs: DataFrame) -> DataFrame:
    return build_tokenized_docs(_null_fill(docs))


def corpus_artifact_path(
    spark: SparkSession, sf_dir: str, art: CorpusArtifact
) -> str:
    """The one lifecycle of every corpus-derived artifact (tokens,
    session index, positional index, MinHash signatures, LM counts,
    classifier statistics), built once per (Spark application, corpus
    content) by `sources.artifacts.session_artifact_path`.

    Full build: `derive` over the session tokens artifact, so one
    session tokenizes the corpus once whichever artifacts it builds
    (the tokens artifact itself derives from the raw tokenization).

    Delta: when the corpus is a directory parquet table that grew
    append-only (new data files; every consumed file byte-identical;
    new doc_ids only), `derive` runs over the tokenization of ONLY the
    new files and its rows are appended under the writer lock — the
    reference's log-structured append (helper_reduce.c:241). That is
    exactly the full rebuild for artifacts keyed by doc_id; the
    mergeable summaries (LM counts, classifier statistics) append
    partial rows their readers sum. A modified or removed file takes
    the full rebuild."""

    def build(path: str) -> None:
        if art is TOKENS:
            tokenized = _tokenize(load_table(spark, sf_dir, "documents"))
        else:
            tokenized = tokenized_docs(spark, sf_dir)
        art.write(art.derive(tokenized), path, "overwrite")

    def delta(path: str, new_files: list[str]) -> None:
        tokenized = _tokenize(spark.read.parquet(*new_files))
        art.write(art.derive(tokenized), path, "append")

    return session_artifact_path(
        spark, sf_dir, art.kind, "documents.parquet", build, delta
    )


def corpus_artifact(
    spark: SparkSession,
    sf_dir: str,
    art: CorpusArtifact,
    at: int | None = None,
) -> DataFrame:
    """`corpus_artifact_path` served as a cached partition-discovered
    read; `at=` pins a published generation (each delta publishes one,
    so e.g. a classifier can train on snapshot S of the tokens while
    corpus ingest continues)."""
    return read_artifact(spark, corpus_artifact_path(spark, sf_dir, art), at=at)


def tokenized_docs(
    spark: SparkSession, sf_dir: str, at: int | None = None
) -> DataFrame:
    """The tokens artifact (`corpus_artifact`): a 1-doc corpus append
    tokenizes 1 doc, and the artifacts chained on it append that doc's
    derivation — never re-running the regex passes over old text."""
    return corpus_artifact(spark, sf_dir, TOKENS, at=at)


def compact_tokenized_docs(spark: SparkSession, sf_dir: str) -> None:
    """Fold the per-delta appended files back to a compact artifact —
    the log-structured merge half of the tokens tier's lifecycle,
    through `compact_artifact` (locked read -> staged rewrite ->
    crash-safe swap, consumed listing carried, so later corpus appends
    still take the delta path). The swap changes the artifact's
    directory stat, so the next `tokenized_docs` re-discovers the
    folded file listing."""
    compact_artifact(
        spark,
        corpus_artifact_path(spark, sf_dir, TOKENS),
        lambda df, staging: df.repartition(
            spark.sparkContext.defaultParallelism
        ).write.mode("overwrite").parquet(staging),
    )


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
