"""The inverted-index pipeline — the reference's entire reason to exist.

Reference topology (SURVEY.md §3.1): client -> master -> worker splits the
file -> k mappers tokenize+count (helper_map.c:166) -> alphabetic range
shuffle (helper_map.c:175-188, 343-364) -> k reducers merge counts
(helper_reduce.c:153) -> 26 letter-bucketed master-index files
(helper_reduce.c:238-257).

Spark expression: ONE declarative chain. Catalyst compiles it to exactly
the same physical topology — scan + partial hash agg (map-side combine,
the reference's `sort | uniq -c`) | shuffle on the group key | final hash
agg (the reference's awk sum) — and the letter-bucketed index is a
Hive-partitioned Parquet write whose commit protocol also fixes the
reference's unlocked concurrent-append race (helper_reduce.c:241-257,
SURVEY.md §2.12).

Scale posture (100 TB): the shuffle key is natural-language words, which
are Zipfian — "the" alone can be ~5% of all tokens. The partial
aggregation collapses each map partition to at most |vocab| rows BEFORE
the shuffle, so the shuffle volume is bounded by vocab x partitions, not
token count; AQE skew handling covers the residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import duckdb_tokens_sql, tokenize
from ..plans.registry import register
from ..sources import commitio
from ..sources.artifacts import compact_artifact, read_live
from ..sources.tables import load_table
from .tokens import CorpusArtifact, corpus_artifact, corpus_artifact_path


def build_postings(docs: DataFrame, doc_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents(doc_id, text) -> postings(word, doc_id, cnt).

    Logical semantics of helper_map.c:166 + helper_reduce.c:153 (and of
    the Hadoop oracle WordCount.java:43-67): COUNT(*) GROUP BY word, doc.
    """
    tokens = tokenize(docs.select(doc_col, text_col), text_col=text_col, out_col="word")
    return tokens.groupBy("word", doc_col).agg(F.count(F.lit(1)).alias("cnt"))


def with_letter(postings: DataFrame) -> DataFrame:
    """Attach the first-letter routing key (helper_reduce.c:255)."""
    return postings.withColumn("letter", F.substring("word", 1, 1))


def write_letter_partitioned(
    df: DataFrame,
    path: str,
    sort_cols: tuple[str, ...],
    mode: str = "overwrite",
    num_files: int = 26,
    max_records_per_file: int | None = None,
) -> None:
    """Scale-bounded letter-partitioned sorted write — the shared layout
    engine for the count index and the positional index.

    The reference's 26 append-only files ./index/a..z
    (helper_reduce.c:238-257) become Hive partitions `letter=a/..`. The
    26-file layout is the reference's *partitioning*, not a
    one-file-per-letter contract: here `repartitionByRange(num_files,
    letter, word)` range-partitions rows over contiguous (letter, word)
    spans, so a Zipf-hot letter ("s", "t") is written by SEVERAL
    parallel tasks — each owning a disjoint word range — while rare
    letters share a task (partitionBy still writes them to their own
    directories). File count scales with data volume, not with the
    alphabet, and no single writer task ever owns a whole hot letter.

    Rows stay sorted by `sort_cols` within every written file — the
    reference's reduce-side `| sort` (helper_reduce.c:153, SURVEY.md
    §2.6 O1/O2) — so parquet word min/max zone maps skip row groups,
    AND the range partitioning makes whole FILES disjoint in word
    range within each letter, so a `word = 'x'` lookup reads one file
    of the letter partition, not all of them.

    `max_records_per_file` (or the session-level
    `spark.sql.files.maxRecordsPerFile`) additionally splits a task's
    sorted output into bounded-size files; the splits inherit the sort,
    so their ranges stay disjoint. At 100 TB, set `num_files` to the
    write parallelism you want and the per-file bound to your target
    file size — same layout, bounded files.
    """
    writer = (
        df.repartitionByRange(num_files, "letter", "word")
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy("letter").parquet(path)


def write_index(
    postings: DataFrame,
    path: str,
    mode: str = "overwrite",
    num_files: int = 26,
    max_records_per_file: int | None = None,
) -> None:
    """Persist the master index, partitioned by first letter; layout
    semantics (range-partitioned parallel writers, in-file word sort,
    bounded file sizes) in `write_letter_partitioned`."""
    write_letter_partitioned(
        with_letter(postings),
        path,
        sort_cols=("letter", "word"),
        mode=mode,
        num_files=num_files,
        max_records_per_file=max_records_per_file,
    )


def read_index(spark: SparkSession, path: str) -> DataFrame:
    """The index artifact's LIVE read (appends visible the moment they
    land — the reference's semantic). If the store's head generation
    carries a deletion vector (IndexSession.delete_docs(mode='dv')),
    it applies here too: the vector names (file, row_index) positions
    in published immutable files, so the live scan anti-joins the same
    broadcast sidecar the generation reader uses; unpublished appended
    files are untouched by construction (a vector can only reference
    files that existed at its publish).

    Each call re-reads the directory (partition discovery, manifest
    load). `IndexSession.postings()` calls it once per index state and
    serves its queries from that frame; it skips its re-aggregation
    only when the head is `compact_index`'s output (`unique_keys`),
    has no deletion vector, and lists exactly the live files."""
    commitio.recover_index(path)
    return read_live(spark, path)


def compact_index(spark: SparkSession, path: str) -> None:
    """Merge appended partial postings: re-aggregate to one row per
    (word, doc) and rewrite the index.

    Append-mode maintenance (batch re-index of changed docs, streaming
    foreachBatch) accumulates one partial-count row per (word, doc)
    PER APPEND — reads stay correct only if they re-aggregate, and file
    counts grow without bound. Compaction is the standard log-structured
    fix. The whole read-merge-swap runs under the writer lock
    (`commitio.IO.writer_lock`), so appends issued mid-compaction wait
    and land on the compacted copy instead of vanishing in the swap
    (`sources.artifacts.compact_artifact`). The rewrite stages to a sibling
    directory, renames the live index ASIDE, moves staging into place,
    then deletes the old copy. A crash at any point leaves a complete
    copy ON DISK — the new one at `path`, or the old one at `path` or
    `path + '.old'` — and `recover_index` (called on entry here and by
    `read_index`) restores a stranded `.old` copy, so the brief
    path-missing window between the two renames self-heals on the next
    call. (POSIX rename gives no two-directory atomic swap; on a
    production object store / HDFS the same pattern runs under a
    metastore pointer swap, which IS atomic.)

    The published head generation records `unique_keys: ["word",
    "doc_id"]` (the rewrite's output has one row per key), which lets
    `IndexSession.postings()` skip its re-aggregation until the next
    publish.
    """
    compact_artifact(
        spark,
        path,
        lambda df, staging: write_index(
            df.groupBy("word", "doc_id").agg(F.sum("cnt").alias("cnt")),
            staging,
            mode="overwrite",
        ),
        entry_extra={"unique_keys": ["word", "doc_id"]},
    )


def postings_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postings computed from the corpus — the BUILD path. Used by the
    `index_postings` flagship query (which measures the reference's
    whole map/shuffle/reduce pipeline); every other index/search query
    reads the persisted artifact via `indexed_postings`."""
    return build_postings(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Session-scoped persisted index: the reference's build-then-query lifecycle
# ---------------------------------------------------------------------------


def postings_from_tokens(tokenized: DataFrame) -> DataFrame:
    """Postings (word, doc_id, cnt) of a `tokens.build_tokenized_docs`
    frame. explode(ws) == tokenize() (property-tested in
    tests/test_tokens_artifact.py / test_tokenizer.py), so this equals
    `build_postings` over the same documents."""
    return (
        tokenized.select("doc_id", F.explode("ws").alias("word"))
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# An append-only corpus delta contributes postings keyed by NEW doc_ids,
# and groupBy(word, doc_id) never merges rows across documents, so
# appending the delta's own postings is exactly the full rebuild — the
# reference's append sink (helper_reduce.c:241). The letter layout is
# unchanged, so consumer pruning is unchanged.
SESSION_INDEX = CorpusArtifact("session_index", postings_from_tokens, write_index)


def session_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Path of the persisted letter-partitioned index for this corpus,
    built ONCE per (Spark application, corpus content) and reused by
    every subsequent index/search query in the session.

    The reference's lifecycle is build-then-query: client.c:39 submits
    an indexing job whose artifact is ./index/a..z, and every later
    lookup scans those files (helper_reduce.c:238-257) — it does not
    re-tokenize the corpus per query. This artifact reproduces that: the
    first index/search query in a session pays the one tokenize +
    aggregate + write build; every later one is a partition-pruned scan
    of the persisted artifact. At 100 TB this is the difference between
    a full corpus pass per query and reading 1/26th of an index.

    Lifecycle (build chained on the tokens artifact, corpus deltas
    appended): `tokens.corpus_artifact_path`.
    """
    return corpus_artifact_path(spark, sf_dir, SESSION_INDEX)


def indexed_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postings (word, doc_id, cnt, letter) served from the persisted
    letter-partitioned index — the artifact-read path every search/index
    consumer query executes against. `letter` is the Hive partition
    column, so `letter = 'x'` predicates prune 25/26 of the files before
    any row is read, and the within-file word sort gives min/max zone
    maps that skip row groups inside the partition."""
    return corpus_artifact(spark, sf_dir, SESSION_INDEX)


# ---------------------------------------------------------------------------
# Registered queries (driver-verified vs DuckDB at sf0.01)
# ---------------------------------------------------------------------------

# Shared oracle fragment: one row per (doc_id, word) token occurrence.
TOKENS_SQL = (
    "SELECT doc_id, word FROM ("
    f"SELECT doc_id, {duckdb_tokens_sql('text')} AS word FROM documents"
    ") WHERE word <> ''"
)

POSTINGS_SQL = (
    "SELECT word, doc_id, CAST(COUNT(*) AS BIGINT) AS cnt "
    f"FROM ({TOKENS_SQL}) GROUP BY word, doc_id"
)


@register(
    "index_postings",
    oracle=POSTINGS_SQL,
    tier="ref",
    doc="Full inverted-index build: normalize (helper_map.c:166) + "
    "COUNT(*) GROUP BY word, doc (helper_reduce.c:153).",
)
def q_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return postings_for(spark, sf_dir).select("word", "doc_id", "cnt")


@register(
    "index_corpus_stats",
    oracle=(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_postings, "
        "CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words, "
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, "
        f"CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM ({POSTINGS_SQL})"
    ),
    tier="implied",
    doc="Corpus statistics over the index (SURVEY.md §2.4 A5/A6); reads "
    "the persisted session index, not the raw corpus.",
)
def q_index_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = indexed_postings(spark, sf_dir)
    return p.agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.countDistinct("word").alias("n_words"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("cnt").alias("n_tokens"),
    )


@register(
    "index_letter_histogram",
    oracle=(
        "SELECT substr(word, 1, 1) AS letter, CAST(COUNT(*) AS BIGINT) AS n_postings, "
        f"CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM ({POSTINGS_SQL}) GROUP BY 1"
    ),
    tier="ref",
    doc="Postings per index partition — the reference's 26-way letter "
    "routing (helper_reduce.c:238-257) as an aggregation. Reads the "
    "persisted index; `letter` here IS the Hive partition column, so "
    "this is a per-partition metadata-cheap count, no re-tokenize.",
)
def q_index_letter_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        indexed_postings(spark, sf_dir)
        .groupBy("letter")
        .agg(F.count(F.lit(1)).alias("n_postings"), F.sum("cnt").alias("n_tokens"))
    )


N_SALT = 16


@register(
    "index_vocabulary_topk_salted",
    export=False,  # pytest-verified variant; kept out of the external window
    oracle=(
        "SELECT word, CAST(SUM(cnt) AS BIGINT) AS total, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs "
        f"FROM ({POSTINGS_SQL}) GROUP BY word "
        "ORDER BY total DESC, word LIMIT 25"
    ),
    tier="implied",
    doc="Salted two-phase variant of index_vocabulary_topk, same oracle: "
    f"phase 1 aggregates (word, salt=hash(doc) % {N_SALT}) so a Zipf-hot "
    "word ('the' ~5% of all tokens) spreads over 16 reducers; phase 2 "
    "merges the 16 partials per word. For plain sums Spark's map-side "
    "partial agg already flattens skew; the salt is the pattern for "
    "aggregates with heavy per-key state (exact distinct sets, "
    "collect_list, percentile buffers) where one reducer would "
    "otherwise hold the hot key's entire state alone.",
)
def q_index_vocabulary_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = indexed_postings(spark, sf_dir)
    phase1 = (
        p.withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(N_SALT)))
        .groupBy("word", "salt")
        .agg(F.sum("cnt").alias("pt"), F.count(F.lit(1)).alias("pd"))
    )
    return (
        phase1.groupBy("word")
        .agg(F.sum("pt").alias("total"), F.sum("pd").alias("n_docs"))
        .orderBy(F.desc("total"), "word")
        .limit(25)
    )


@register(
    "index_vocabulary_topk",
    oracle=(
        "SELECT word, CAST(SUM(cnt) AS BIGINT) AS total, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs "
        f"FROM ({POSTINGS_SQL}) GROUP BY word "
        "ORDER BY total DESC, word LIMIT 25"
    ),
    tier="implied",
    doc="Global top-k words by corpus frequency (SURVEY.md §2.6 O4); "
    "deterministic tie-break on word. Reads the persisted index.",
)
def q_index_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        indexed_postings(spark, sf_dir)
        .groupBy("word")
        .agg(F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("total"), "word")
        .limit(25)
    )


MIN_DF = 3  # drop hapax-ish noise
MAX_DF_FRAC = 0.5  # drop corpus-wide stopwords


@register(
    "index_vocabulary_prune",
    oracle=f"""
        WITH v AS (
            SELECT word, CAST(SUM(cnt) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM ({POSTINGS_SQL}) GROUP BY word),
        d AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS total_docs
              FROM ({POSTINGS_SQL}))
        SELECT word, total, n_docs
        FROM v, d
        WHERE n_docs >= {MIN_DF} AND n_docs <= {MAX_DF_FRAC} * total_docs
    """,
    tier="implied",
    doc=f"Document-frequency vocabulary pruning (the CountVectorizer "
    f"minDF/maxDF stage): keep words appearing in >= {MIN_DF} docs and "
    f"<= {int(MAX_DF_FRAC * 100)}% of the corpus — drops OCR noise at "
    "one end and corpus-wide stopwords at the other. One groupBy(word) "
    "over the postings plus a 1-row doc-count broadcast; output is the "
    "working vocabulary for downstream TF-IDF / n-gram models.",
)
def q_index_vocabulary_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = indexed_postings(spark, sf_dir)
    vocab = p.groupBy("word").agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_docs")
    )
    total_docs = p.agg(F.countDistinct("doc_id").alias("total_docs"))
    return (
        vocab.crossJoin(F.broadcast(total_docs))
        .filter(
            (F.col("n_docs") >= MIN_DF)
            & (F.col("n_docs") <= MAX_DF_FRAC * F.col("total_docs"))
        )
        .select("word", "total", "n_docs")
    )
