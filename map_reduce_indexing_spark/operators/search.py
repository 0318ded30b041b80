"""Query surface over the inverted index (SURVEY.md §2 IMPLIED tier).

The reference builds the index but implements no search (client.c only
submits indexing jobs, SURVEY.md §0); the queryable artifact is the
letter-bucketed file set, where term lookup = scan ./index/<first-letter>.
This module implements the search surface that index implies: term lookup
(partition-pruned), boolean multi-term search (AND = semi join,
OR = union, NOT = anti join — SURVEY.md §2.3 J1/J3, §2.7), ranking
(window functions, §2.5 W1), and per-doc term-frequency vectors (§2.4 A8).

Scale posture: every consumer query here executes against the PERSISTED
session index (`indexed_postings` — built once per session, the
reference's build-then-query lifecycle, client.c:39): term lookup is a
partition-pruned scan (letter = word[0] prunes 25/26) plus a pushed-down
`word =` filter — at 100 TB this touches only the matching partition's
row groups, never re-tokenizing the corpus. Boolean search joins are
doc-keyed; the per-term posting lists are the small side and broadcast
under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..checkpoints import rotating_local_checkpoint
from ..plans.registry import register
from .indexing import POSTINGS_SQL, indexed_postings, write_letter_partitioned
from .tokens import (
    CorpusArtifact,
    corpus_artifact,
    gram_rows,
    tokenized_docs,
)

# Fixed probe terms for registered queries — present in the synthetic
# documents fixture vocabulary at every sf.
TERM_A = "spark"
TERM_B = "query"
TERM_NOT = "slow"


def _letter_aware(postings: DataFrame, word_pred, letters: list[str]):
    """Conjoin the letter partition predicate when the postings frame
    carries the partition column (the persisted index), so Catalyst
    prunes letter directories before reading a row; on a raw postings
    frame (no letter column) the word predicate alone applies."""
    if "letter" in postings.columns:
        lp = (
            F.col("letter") == letters[0]
            if len(letters) == 1
            else F.col("letter").isin(letters)
        )
        return postings.filter(lp & word_pred)
    return postings.filter(word_pred)


def term_lookup(index: DataFrame, word: str) -> DataFrame:
    """Lookup one term. Against the partitioned index this prunes on
    `letter` (the reference's open-one-letter-file, helper_reduce.c:241)
    and pushes the word equality into the Parquet scan."""
    return _letter_aware(index, F.col("word") == word, [word[0]])


def terms_lookup(index: DataFrame, terms: list[str]) -> DataFrame:
    """Posting lists for a term set, with letter-partition pruning."""
    return _letter_aware(
        index, F.col("word").isin(terms), sorted({t[0] for t in terms})
    )


def search_and(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Docs containing ALL terms: iterated left-semi join on doc_id."""
    docs = term_lookup(postings, terms[0]).select("doc_id")
    for t in terms[1:]:
        docs = docs.join(
            term_lookup(postings, t).select("doc_id"), "doc_id", "left_semi"
        )
    return docs


def search_or(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Docs containing ANY term: IN-filter + distinct."""
    return terms_lookup(postings, terms).select("doc_id").distinct()


def search_not(postings: DataFrame, include: str, exclude: str) -> DataFrame:
    """Docs containing `include` but not `exclude`: left-anti join."""
    inc = term_lookup(postings, include).select("doc_id")
    exc = term_lookup(postings, exclude).select("doc_id")
    return inc.join(exc, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "search_term_lookup",
    oracle=(
        f"SELECT doc_id, cnt FROM ({POSTINGS_SQL}) WHERE word = '{TERM_A}'"
    ),
    tier="implied",
    doc="Single-term lookup: the scan of ./index/<letter> the reference "
    "implies (helper_reduce.c:238-257) — a letter-partition-pruned, "
    "word-pushed-down read of the persisted session index.",
)
def q_term_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_lookup(indexed_postings(spark, sf_dir), TERM_A).select(
        "doc_id", "cnt"
    )


@register(
    "search_and",
    oracle=(
        f"SELECT doc_id FROM ({POSTINGS_SQL}) WHERE word = '{TERM_A}' "
        f"AND doc_id IN (SELECT doc_id FROM ({POSTINGS_SQL}) WHERE word = '{TERM_B}')"
    ),
    tier="implied",
    doc="Multi-term AND search = left-semi join of posting lists on doc "
    "(SURVEY.md §2.3 J1/J3).",
)
def q_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    return search_and(indexed_postings(spark, sf_dir), [TERM_A, TERM_B])


@register(
    "search_or",
    oracle=(
        f"SELECT DISTINCT doc_id FROM ({POSTINGS_SQL}) "
        f"WHERE word IN ('{TERM_A}', '{TERM_B}')"
    ),
    tier="implied",
    doc="Multi-term OR search = union of posting lists (SURVEY.md §2.7).",
)
def q_search_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    return search_or(indexed_postings(spark, sf_dir), [TERM_A, TERM_B])


@register(
    "search_not",
    oracle=(
        f"SELECT doc_id FROM ({POSTINGS_SQL}) WHERE word = '{TERM_A}' "
        f"AND doc_id NOT IN (SELECT doc_id FROM ({POSTINGS_SQL}) WHERE word = '{TERM_NOT}')"
    ),
    tier="implied",
    doc="NOT search = left-anti join (SURVEY.md §2.3 J3).",
)
def q_search_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    return search_not(indexed_postings(spark, sf_dir), TERM_A, TERM_NOT)


@register(
    "search_term_topk",
    oracle=(
        f"SELECT doc_id, cnt FROM ({POSTINGS_SQL}) WHERE word = '{TERM_A}' "
        "ORDER BY cnt DESC, doc_id LIMIT 10"
    ),
    tier="implied",
    doc="Top-k documents for a term, ranked by term frequency "
    "(SURVEY.md §2.6 O4); deterministic tie-break on doc_id.",
)
def q_search_term_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        term_lookup(indexed_postings(spark, sf_dir), TERM_A)
        .select("doc_id", "cnt")
        .orderBy(F.desc("cnt"), "doc_id")
        .limit(10)
    )


@register(
    "search_topk_per_term",
    oracle=(
        "SELECT word, doc_id, cnt FROM ("
        "  SELECT word, doc_id, cnt, ROW_NUMBER() OVER ("
        "    PARTITION BY word ORDER BY cnt DESC, doc_id) AS rn "
        f"  FROM ({POSTINGS_SQL}) WHERE word IN ('{TERM_A}', '{TERM_B}', '{TERM_NOT}')"
        ") WHERE rn <= 3"
    ),
    tier="implied",
    doc="Best docs per term via ranking window (SURVEY.md §2.5 W1).",
)
def q_search_topk_per_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("word").orderBy(F.desc("cnt"), "doc_id")
    return (
        terms_lookup(indexed_postings(spark, sf_dir), [TERM_A, TERM_B, TERM_NOT])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("word", "doc_id", "cnt")
    )


PHRASE = ("table", "hash")  # adjacent in the fixture vocabulary at every sf

# One row per token occurrence with its ordinal position (0-based) in the
# normalized token sequence: posexplode over the already-filtered token
# array, so positions are dense ordinals.
POSITIONAL_TOKENS = (
    "posexplode(filter(split(regexp_replace(lower(text), '[^a-z \\n]', ''), "
    "'[ \\n]', -1), t -> t != ''))"
)

DUCK_TOKENS_LIST_POS = (
    "list_filter(list_transform(string_split(lower(replace(text, chr(10), ' ')), ' '), "
    "t -> regexp_replace(t, '[^a-z]', '', 'g')), t -> t <> '')"
)


def positional_postings(docs: DataFrame) -> DataFrame:
    """(word, doc_id, pos): the positional index the phrase query needs.

    The reference's index keeps only counts (helper_reduce.c:149-155);
    positions are the standard extension that unlocks phrase/proximity
    search. Storage doubles per occurrence (pos column) but the layout,
    partitioning, and lookup path are identical to the count index.
    """
    return docs.select(
        "doc_id", F.expr(POSITIONAL_TOKENS).alias("pos", "word")
    ).select("word", "doc_id", "pos")


def positions_from_tokens(tokenized: DataFrame) -> DataFrame:
    """(word, doc_id, pos, letter) of a `tokens.build_tokenized_docs`
    frame. posexplode of the stored token array == POSITIONAL_TOKENS'
    dense ordinals (both enumerate the filtered token sequence), so
    the positional build chains on the session tokens artifact instead
    of re-tokenizing."""
    return tokenized.select(
        "doc_id", F.posexplode("ws").alias("pos", "word")
    ).withColumn("letter", F.substring("word", 1, 1))


def write_positional(df: DataFrame, path: str, mode: str) -> None:
    # Range-partitioned parallel writers + in-file sort + bounded file
    # sizes — layout semantics in write_letter_partitioned.
    write_letter_partitioned(
        df, path, sort_cols=("letter", "word", "doc_id", "pos"), mode=mode
    )


# Positional rows are keyed by doc_id, so a corpus delta appends exactly
# the rows a full rebuild would add.
POS_INDEX = CorpusArtifact("pos_index", positions_from_tokens, write_positional)


def indexed_positional_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional postings (word, doc_id, pos, letter) served from a
    persisted letter-partitioned positional index — built once per
    session alongside the count index, so phrase/proximity lookups are
    partition-pruned scans instead of a corpus re-tokenize per query."""
    return corpus_artifact(spark, sf_dir, POS_INDEX)


@register(
    "search_phrase",
    oracle=f"""
        SELECT doc_id FROM (
            SELECT doc_id, {DUCK_TOKENS_LIST_POS} AS tl FROM documents)
        WHERE len(list_filter(range(1, len(tl)),
                  i -> tl[i] = '{PHRASE[0]}' AND tl[i+1] = '{PHRASE[1]}')) > 0
    """,
    tier="implied",
    doc=f"Phrase search '{PHRASE[0]} {PHRASE[1]}' over the PERSISTED "
    "positional index: per-term position lists equi-join on doc with "
    "pos_b = pos_a + 1. Each side is a letter-partition-pruned, "
    "word-pushed-down scan of the index artifact; the join keys on "
    "doc_id — no corpus re-tokenize per query.",
)
def q_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    pp = indexed_positional_postings(spark, sf_dir)
    a = term_lookup(pp, PHRASE[0]).select("doc_id", F.col("pos").alias("pa"))
    b = term_lookup(pp, PHRASE[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    return (
        a.join(b, (a.doc_id == b.doc_b) & (b.pb == a.pa + 1))
        .select("doc_id")
        .distinct()
    )


PROX_K = 5  # max token distance for proximity search


@register(
    "search_proximity",
    oracle=f"""
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(MIN(dist) AS BIGINT) AS min_dist
        FROM (
            SELECT a.doc_id, abs(a.pos - b.pos) AS dist
            FROM (SELECT doc_id, pos FROM (
                    SELECT doc_id, unnest({DUCK_TOKENS_LIST_POS}) AS word,
                           generate_subscripts({DUCK_TOKENS_LIST_POS}, 1) - 1 AS pos
                    FROM documents) WHERE word = '{TERM_A}') a
            JOIN (SELECT doc_id, pos FROM (
                    SELECT doc_id, unnest({DUCK_TOKENS_LIST_POS}) AS word,
                           generate_subscripts({DUCK_TOKENS_LIST_POS}, 1) - 1 AS pos
                    FROM documents) WHERE word = '{TERM_B}') b
              ON a.doc_id = b.doc_id AND abs(a.pos - b.pos) <= {PROX_K}
        )
        GROUP BY doc_id
    """,
    tier="implied",
    doc=f"Proximity search: docs where '{TERM_A}' and '{TERM_B}' occur "
    f"within {PROX_K} tokens, with pair count and closest distance. "
    "Two letter-pruned scans of the persisted positional index, "
    "equi-join on doc_id with a band predicate on position — the "
    "phrase operator generalized to a window, same artifact, same "
    "pruned access path.",
)
def q_search_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pp = indexed_positional_postings(spark, sf_dir)
    a = term_lookup(pp, TERM_A).select("doc_id", F.col("pos").alias("pa"))
    b = term_lookup(pp, TERM_B).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    return (
        a.join(
            b,
            (a.doc_id == b.doc_b)
            & (F.abs(F.col("pa") - F.col("pb")) <= PROX_K),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.abs(F.col("pa") - F.col("pb"))).cast("long").alias("min_dist"),
        )
    )


@register(
    "search_tfidf_rank",
    oracle=f"""
        WITH p AS ({POSTINGS_SQL}),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM p),
        df AS (SELECT word, COUNT(*) AS df FROM p
               WHERE word IN ('{TERM_A}', '{TERM_B}') GROUP BY word)
        SELECT doc_id,
               ROUND(SUM(p.cnt * ln(CAST(n.n_docs AS DOUBLE) / df.df)), 6) AS score
        FROM p JOIN df ON p.word = df.word CROSS JOIN n
        GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 10
    """,
    tier="implied",
    doc="TF-IDF ranked multi-term search: score(d) = sum_t tf * ln(N/df). "
    "df and N are tiny aggregates (broadcast); the score is one pass "
    "over the matching posting lists. Score rounded to 6 dp on both "
    "engines so the libm ln folding compares exactly.",
)
def q_search_tfidf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = indexed_postings(spark, sf_dir)
    # n_docs from the tokens artifact's stored scalar, not a distinct
    # over the whole index (see q_search_bm25_rank for the equivalence
    # argument — postings chain on the artifact).
    n = (
        tokenized_docs(spark, sf_dir)
        .filter(F.col("n_norm_tokens") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    df = (
        terms_lookup(p, [TERM_A, TERM_B])
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        p.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("cnt") * F.log(F.col("n_docs").cast("double") / F.col("df"))
                ),
                6,
            ).alias("score")
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(10)
    )


@register(
    "search_doc_tf_vector",
    oracle=(
        "SELECT doc_id, array_to_string(list(word || ':' || cnt ORDER BY word), ' ') AS tf "
        f"FROM ({POSTINGS_SQL}) WHERE doc_id < 50 GROUP BY doc_id"
    ),
    tier="implied",
    doc="Per-doc term-frequency vector (SURVEY.md §2.4 A8), encoded as a "
    "single space-joined 'word:count' string: the driver canonicalizer "
    "sorts raw pandas cells, so array-typed outputs are unhashable "
    "there. Shape: a doc's terms all live in one tokens-artifact row, "
    "so the vector is a per-row sorted run-length fold — zero Exchange, "
    "zero Generate (plan-pinned). The former form scanned the ENTIRE "
    "term-partitioned index and shuffled it on doc_id to reassemble "
    "rows the artifact already holds; at index scale that read every "
    "letter partition for a 50-doc answer.",
)
def q_search_doc_tf_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Linear run-length over the sorted token array, in stacked
    # projections (multi-references keep CollapseProject from inlining
    # the non-cheap arrays): `ends` holds each run's last index, so run
    # j's count is ends[j] - ends[j-1] — O(1) element accesses per run,
    # unlike an aggregate() fold that concat-copies its accumulator
    # array per distinct word (O(d^2) per doc). Emits word:count in
    # word order (identical to the oracle's ORDER BY word — ':' sorts
    # below [a-z], so prefix words order the same either way). The
    # n_norm_tokens > 0 filter both matches the oracle (no postings ->
    # no row) and guards sequence(), which DESCENDS for empty arrays.
    sorted_tokens = (
        tokenized_docs(spark, sf_dir)
        .filter((F.col("doc_id") < 50) & (F.col("n_norm_tokens") > 0))
        .select("doc_id", F.expr("array_sort(ws)").alias("s"))
    )
    runs = sorted_tokens.select(
        "doc_id",
        "s",
        F.expr(
            "filter(sequence(0, size(s) - 1), i -> i = size(s) - 1 OR s[i] != s[i + 1])"
        ).alias("ends"),
    )
    tf = (
        "concat_ws(' ', transform(ends, (e, j) -> concat(s[e], ':', "
        "CAST(e - IF(j = 0, -1L, ends[j - 1]) AS STRING))))"
    )
    return runs.select("doc_id", F.expr(tf).alias("tf"))


# BM25 constants (Robertson/Spärck Jones defaults)
BM25_K1 = 1.2
BM25_B = 0.75


@register(
    "search_bm25_rank",
    oracle=f"""
        WITH p AS ({POSTINGS_SQL}),
        stats AS (SELECT COUNT(DISTINCT doc_id) AS n_docs,
                         CAST(SUM(cnt) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avgdl
                  FROM p),
        dl AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS dl FROM p GROUP BY doc_id),
        df AS (SELECT word, COUNT(*) AS df FROM p
               WHERE word IN ('{TERM_A}', '{TERM_B}') GROUP BY word)
        SELECT p.doc_id,
               ROUND(SUM(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (cnt * ({BM25_K1} + 1))
                   / (cnt + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
               ), 6) AS score
        FROM p JOIN df ON p.word = df.word
               JOIN dl ON p.doc_id = dl.doc_id
               CROSS JOIN stats
        GROUP BY p.doc_id
        ORDER BY score DESC, p.doc_id LIMIT 10
    """,
    tier="implied",
    doc=f"BM25-ranked multi-term search (k1={BM25_K1}, b={BM25_B}): "
    "tf saturation + length normalization over the posting lists — the "
    "standard retrieval scorer TF-IDF graduates to. df/N/avgdl are tiny "
    "broadcast aggregates; doc length comes from one groupBy over the "
    "postings that shares the scoring join's doc_id partitioning. With "
    "a two-term query each doc's score sums two doubles (commutative, "
    "order-safe); rounded to 6 dp so libm ln folds compare exactly.",
)
def q_search_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = indexed_postings(spark, sf_dir)
    # Doc lengths and corpus stats come from the tokens artifact's
    # stored n_norm_tokens scalar, not a full-postings scan + shuffle:
    # postings chain on that artifact (indexing.SESSION_INDEX), so
    # sum(cnt) per doc == n_norm_tokens and "docs with postings" ==
    # "docs with n_norm_tokens > 0" BY CONSTRUCTION (equality is
    # property-tested). A 100-TB index is vastly larger than its
    # doc-length column; this reads two bigints per doc instead.
    doclen = (
        tokenized_docs(spark, sf_dir)
        .filter(F.col("n_norm_tokens") > 0)
        .select("doc_id", F.col("n_norm_tokens").alias("dl"))
    )
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dl = doclen
    df = (
        terms_lookup(p, [TERM_A, TERM_B])
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(F.lit(1) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (F.col("cnt") * (BM25_K1 + 1)) / (
        F.col("cnt") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        p.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(10)
    )


PREFIX = "qu"


@register(
    "search_prefix",
    oracle=(
        f"SELECT word, CAST(SUM(cnt) AS BIGINT) AS total, "
        f"CAST(COUNT(*) AS BIGINT) AS n_docs "
        f"FROM ({POSTINGS_SQL}) WHERE word LIKE '{PREFIX}%' GROUP BY word"
    ),
    tier="implied",
    doc=f"Prefix search ('{PREFIX}*'): the sorted letter-bucketed index "
    "makes this a one-partition scan — `substring(word,1,1) = prefix[0]` "
    "prunes 25/26 letter partitions, and the within-file word sort "
    "(SURVEY.md §2.6 O1/O2) gives parquet min/max zone maps that skip "
    "row groups outside the prefix range. The reference's index layout "
    "implies exactly this access path (helper_reduce.c:238-257: scan "
    "./index/<first-letter>).",
)
def q_search_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = indexed_postings(spark, sf_dir)
    # `letter = prefix[0]` hits the Hive partition column -> Catalyst
    # prunes 25/26 letter directories before any row is read; startswith
    # pushes as a StringStartsWith parquet filter within the partition.
    return (
        _letter_aware(p, F.col("word").startswith(PREFIX), [PREFIX[0]])
        .groupBy("word")
        .agg(F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "index_bigram_postings",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, word, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
            FROM (
                SELECT doc_id, unnest(words) AS word,
                       generate_subscripts(words, 1) AS pos
                FROM (
                    SELECT doc_id,
                           list_filter(list_transform(
                               string_split(replace(lower(text), chr(10), ' '), ' '),
                               t -> regexp_replace(t, '[^a-z]', '', 'g')), t -> t <> '') AS words
                    FROM documents)
            )
        )
        SELECT a.word || ' ' || b.word AS bigram,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1
        GROUP BY 1
        HAVING COUNT(*) >= 5
    """,
    tier="implied",
    doc="Corpus bigram counts (>= 5 occurrences): the classic n-gram "
    "language-model MapReduce workload over the reference's token "
    "stream. Since round 7 the adjacent pairs are a per-row array "
    "comprehension over the session tokens artifact (tokens.gram_rows) "
    "— order preserved by the stored array, no doc_id window shuffle; "
    "then the same map-side-combined groupBy as the unigram index.",
)
def q_index_bigram_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        gram_rows(spark, sf_dir, 2, out_col="bigram")
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )


# ---------------------------------------------------------------------------
# Related documents: all-pairs TF-IDF cosine over the inverted index
# ---------------------------------------------------------------------------

RELATED_QUERY_MAX = 20  # query docs: doc_id < this bound
RELATED_TOPK = 5

# Per-term pair partials and per-doc norm terms are quantized to
# DECIMAL(28,12) before their SUMs (exact, order-independent — the
# PageRank/PMI discipline), which also launders any sub-1e-12 libm ln
# disagreement before it can reach the cosine.
_SIM_DEC = "decimal(28,12)"


@register(
    "search_related_docs",
    oracle=f"""
        WITH p AS ({POSTINGS_SQL}),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM p),
        df AS (SELECT word, COUNT(*) AS df FROM p GROUP BY word),
        w AS (SELECT doc_id, p.word,
                     p.cnt * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS wt
              FROM p JOIN df ON p.word = df.word CROSS JOIN n),
        nm AS (SELECT doc_id,
                      sqrt(CAST(SUM(CAST(wt * wt AS {_SIM_DEC.upper()}))
                                AS DOUBLE)) AS nrm
               FROM w GROUP BY doc_id),
        dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        CAST(SUM(CAST(a.wt * b.wt AS {_SIM_DEC.upper()}))
                             AS DOUBLE) AS dot
                 FROM w a JOIN w b ON a.word = b.word
                 WHERE a.doc_id < {RELATED_QUERY_MAX}
                   AND b.doc_id <> a.doc_id
                 GROUP BY a.doc_id, b.doc_id),
        sim AS (SELECT doc_a, doc_b,
                       ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
                FROM dots
                JOIN nm na ON dots.doc_a = na.doc_id
                JOIN nm nb ON dots.doc_b = nb.doc_id
                WHERE na.nrm > 0 AND nb.nrm > 0)
        SELECT doc_a, doc_b, cosine, CAST(rn AS BIGINT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_a
                  ORDER BY cosine DESC, doc_b) AS rn FROM sim)
        WHERE rn <= {RELATED_TOPK}
    """,
    tier="implied",
    doc=f"Related-document retrieval: top-{RELATED_TOPK} most similar "
    "docs per query doc by TF-IDF cosine, computed ENTIRELY from the "
    "persisted inverted index — the sparse-vector complement to the "
    "embedding ANN tier, and the classic MapReduce all-pairs-similarity "
    "workload (Bayardo et al.) in its bounded serving form. Pair dot "
    "products come from the term-partitioned posting self-join (never "
    "materializing doc vectors), per-term partials decimal-summed so "
    "the cosine is order-independent; norms are one per-doc aggregate "
    "over the same weighted postings; ranking is one window per query "
    "doc on the 6-dp-rounded score. At 100 TB the query side is a "
    "pruned bounded posting set, the join fan-out is bounded per term "
    "by the query docs' posting lengths, and the documented lever for "
    "UNBOUNDED all-pairs runs is a df cap / Bayardo prefix filter on "
    "hot terms (inert on this fixture's 31-word vocabulary, where "
    "every term is in ~80% of docs).",
)
def q_search_related_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = indexed_postings(spark, sf_dir).select("word", "doc_id", "cnt")
    n = (
        tokenized_docs(spark, sf_dir)
        .filter(F.col("n_norm_tokens") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    df = p.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    w = (
        p.join(df, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            (
                F.col("cnt")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("wt"),
        )
    )
    # w feeds FOUR consumers (both self-join sides + both norm
    # lookups): materialize it once instead of re-running the
    # posting scan + df aggregation per consumer — the plan drops
    # from 12 parquet scans / ~23 exchanges to one scan chain
    # (r14; the GraphX reuse discipline pagerank already applies).
    # Same values, so the oracle hash is untouched. Rotated (r15):
    # repeat calls unpersist older generations instead of pinning one
    # materialized copy per call for the session's lifetime.
    w = rotating_local_checkpoint(w, "search.related_docs.w")
    nm = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(F.expr(f"cast(wt * wt as {_SIM_DEC})")).cast("double")
        ).alias("nrm")
    )
    a = w.filter(F.col("doc_id") < RELATED_QUERY_MAX).alias("a")
    b = w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("b.doc_id") != F.col("a.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.sum(F.expr(f"cast(a.wt * b.wt as {_SIM_DEC})"))
            .cast("double")
            .alias("dot")
        )
    )
    # Norms: the query side is bounded (RELATED_QUERY_MAX docs) ->
    # broadcast; the candidate side is CORPUS-cardinality -> a plain
    # shuffle join on doc_b (broadcasting nm whole would ship a
    # per-doc table to every executor at 100 TB; AQE still picks
    # broadcast on its own at small SF).
    na = nm.filter(F.col("doc_id") < RELATED_QUERY_MAX).select(
        F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na")
    )
    nb = nm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    sim = (
        dots.join(F.broadcast(na), "doc_a")
        .join(nb, "doc_b")
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_a").orderBy(F.desc("cosine"), "doc_b")
    )
    return (
        sim.withColumn("rank", rn.cast("long"))
        .filter(F.col("rank") <= RELATED_TOPK)
        .select("doc_a", "doc_b", "cosine", "rank")
    )
