"""Text analysis for training-data pipelines (EXT tier).

Per-document quality metrics, language identification (n-gram/stopword
heuristic), token counting (whitespace + BPE-ish regex), and document
fingerprinting — all in built-in expressions over the `documents`
fixture, mirroring the reference's normalization rules where tokens are
involved (SURVEY.md §0.1).

Every metric is a per-row computation (no shuffle) except the final
aggregates — at 100 TB these run as a single map pass over the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.registry import register
from ..sources.artifacts import compact_artifact
from ..sources.tables import load_table
from .dedup import (
    DUCK_TOKENS_LIST,
    SHINGLE_K,
    duck_k_grams,
    duck_shingles,
    shingle_rows,
)
from .tokens import (
    BPE_ISH,
    CorpusArtifact,
    corpus_artifact,
    corpus_artifact_path,
    gram_expr,
    gram_rows,
    tokenized_docs,
)

# Stopword sets for the language-ID vote. [a-z]-only (the tokenizer's
# alphabet). Deterministic priority order breaks ties: en > es > de > fr.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "la", "de", "los", "que", "y", "en", "un"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "des", "que", "une", "dans"],
}
EN_STOP = STOPWORDS["en"]

# BPE_ISH (letters | digits | single symbol) lives in operators/tokens.py,
# next to the artifact build that evaluates it.
FINGERPRINT_K = 5


def _vote(engine: str, lang: str, col: str = "toks") -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    if engine == "spark":
        return f"size(filter({col}, t -> t in ({words})))"
    return f"len(list_filter({col}, t -> t in ({words})))"


@register(
    "text_quality",
    oracle=f"""
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
               CASE WHEN len(toks) > 0
                    THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS type_token_ratio,
               CASE WHEN len(toks) > 0
                    THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS avg_token_len,
               CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS BIGINT)
                 AS n_punct,
               CASE WHEN length(text) > 0
                    THEN CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
                         / length(text)
                    ELSE 0.0 END AS punct_ratio,
               CASE WHEN len(toks) > 0
                    THEN CAST(len(list_filter(toks, t -> t IN ({', '.join(f"'{w}'" for w in EN_STOP)}))) AS DOUBLE)
                         / len(toks)
                    ELSE 0.0 END AS stopword_ratio
        FROM (SELECT doc_id, lower(text) AS text, {DUCK_TOKENS_LIST} AS toks FROM documents)
    """,
    tier="llm",
    doc="Per-doc quality metrics: token/type counts, type-token ratio, "
    "average token length, punctuation ratio, stopword ratio — the "
    "standard pre-training quality-filter signals.",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the session tokens artifact: the token array and the
    # raw-text scalars (n_punct, n_chars_lower) were computed once at
    # artifact build — this query is per-row arithmetic over them.
    t = tokenized_docs(spark, sf_dir)
    n_tok = F.size("ws")
    n_typ = F.size(F.array_distinct("ws"))
    return t.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_typ.cast("long").alias("n_types"),
        F.when(n_tok > 0, n_typ.cast("double") / n_tok).otherwise(0.0).alias("type_token_ratio"),
        F.when(
            n_tok > 0,
            F.expr("aggregate(transform(ws, t -> length(t)), 0L, (a, x) -> a + x)").cast("double") / n_tok,
        )
        .otherwise(0.0)
        .alias("avg_token_len"),
        F.col("n_punct"),
        F.when(F.col("n_chars_lower") > 0, F.col("n_punct").cast("double") / F.col("n_chars_lower"))
        .otherwise(0.0)
        .alias("punct_ratio"),
        F.when(n_tok > 0, F.expr(_vote("spark", "en", "ws")).cast("double") / n_tok)
        .otherwise(0.0)
        .alias("stopword_ratio"),
    )


@register(
    "text_langid",
    oracle=f"""
        SELECT doc_id, lang AS lang_actual,
               CASE WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                    WHEN es >= de AND es >= fr THEN 'es'
                    WHEN de >= fr THEN 'de'
                    ELSE 'fr' END AS lang_pred
        FROM (
            SELECT doc_id, lang,
                   {_vote('duck', 'en')} AS en, {_vote('duck', 'es')} AS es,
                   {_vote('duck', 'de')} AS de, {_vote('duck', 'fr')} AS fr
            FROM (SELECT doc_id, lang, {DUCK_TOKENS_LIST} AS toks FROM documents)
        )
    """,
    tier="llm",
    doc="Language-ID heuristic: stopword voting over four languages with "
    "a fixed tie-break priority. (The fixture's text is synthetic, so "
    "lang_actual is carried for comparison, not asserted.)",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Artifact-served: the stopword votes are filters over the stored
    # token array — a 2-column (lang, ws) pruned scan, no tokenization.
    docs = tokenized_docs(spark, sf_dir).select("doc_id", "lang", "ws")
    for lang in STOPWORDS:
        docs = docs.withColumn(lang, F.expr(_vote("spark", lang, "ws")))
    pred = (
        F.when((F.col("en") >= F.col("es")) & (F.col("en") >= F.col("de")) & (F.col("en") >= F.col("fr")), "en")
        .when((F.col("es") >= F.col("de")) & (F.col("es") >= F.col("fr")), "es")
        .when(F.col("de") >= F.col("fr"), "de")
        .otherwise("fr")
    )
    return docs.select("doc_id", F.col("lang").alias("lang_actual"), pred.alias("lang_pred"))


@register(
    "text_token_counts",
    oracle=f"""
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
               CAST(len({DUCK_TOKENS_LIST}) AS BIGINT) AS n_norm_tokens,
               CAST(len(regexp_extract_all(lower(text), '{BPE_ISH}')) AS BIGINT) AS n_bpe_tokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    """,
    tier="llm",
    doc="Token counting three ways: raw whitespace split, reference-"
    "normalized tokens, and a BPE-ish regex segmentation (letters / "
    "digit runs / single symbols) — the token-budget accounting pass.",
)
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pure artifact read: every figure was pre-computed at build time,
    # so this scans four bigint columns and the array's size — the
    # token-budget accounting pass costs no regex at query time.
    return tokenized_docs(spark, sf_dir).select(
        "doc_id", "n_ws_tokens", "n_norm_tokens", "n_bpe_tokens", "n_chars"
    )


SPLIT_PCT = (80, 10, 10)  # train / val / test


@register(
    "text_train_val_test_split",
    oracle=f"""
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM (
            SELECT n_chars,
                   CASE WHEN bucket < {SPLIT_PCT[0]} THEN 'train'
                        WHEN bucket < {SPLIT_PCT[0] + SPLIT_PCT[1]} THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT n_chars,
                       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                         % 100 AS bucket
                FROM documents))
        GROUP BY split
    """,
    tier="llm",
    doc=f"Deterministic {SPLIT_PCT[0]}/{SPLIT_PCT[1]}/{SPLIT_PCT[2]} "
    "train/val/test split by md5(doc_id) bucket — the eval-split "
    "operator every training-data pipeline needs. Hash-based (not "
    "rand(seed)) so the assignment is stable across engines, runs, "
    "partitionings, and appends: a doc's split never changes when the "
    "corpus grows, which rand-based splits cannot guarantee.",
)
def q_text_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < SPLIT_PCT[0], "train")
        .when(bucket < SPLIT_PCT[0] + SPLIT_PCT[1], "val")
        .otherwise("test")
    )
    return (
        docs.select(F.col("n_chars"), split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


N_SHARDS = 16
SHUFFLE_SEED = 7
_CKSUM_P = 1_000_000_007  # permutation-checksum modulus


def shuffle_hash_col():
    """md5(doc_id:seed) — the export shuffle's position key. The single
    source of the hashing scheme, shared by the registered query and
    the curation example (examples/training_data_pipeline.py): a change
    here changes both in lockstep."""
    return F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":{SHUFFLE_SEED}"))
    )


def shard_id_col(h):
    """Shard of a position key: first 8 hex chars as an int, mod N."""
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % N_SHARDS


@register(
    "text_shuffle_shards",
    oracle=f"""
        SELECT CAST(shard_id AS BIGINT) AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(((rn % {_CKSUM_P}) * (doc_id % {_CKSUM_P}))
                        % {_CKSUM_P}) % {_CKSUM_P} AS BIGINT)
                 AS order_checksum,
               CAST(ARG_MIN(doc_id, h) AS BIGINT) AS first_doc_id
        FROM (
            SELECT shard_id, doc_id, n_chars, h,
                   ROW_NUMBER() OVER (PARTITION BY shard_id
                                      ORDER BY h, doc_id) AS rn
            FROM (
                SELECT doc_id, n_chars, h,
                       CAST('0x' || substr(h, 1, 8) AS BIGINT)
                         % {N_SHARDS} AS shard_id
                FROM (
                    SELECT doc_id, n_chars,
                           md5(CAST(doc_id AS VARCHAR) || ':{SHUFFLE_SEED}')
                             AS h
                    FROM documents)))
        GROUP BY shard_id
    """,
    tier="llm",
    doc=f"Deterministic global shuffle + {N_SHARDS}-way sharding for "
    "training export: every doc gets a pseudo-random but seed-stable "
    f"position — shard = md5(doc_id:seed) mod {N_SHARDS}, within-shard "
    "order = the md5 itself. Hash-based (not rand or a global sort) so "
    "the permutation is reproducible across engines, runs, and cluster "
    "sizes, and sharding is a plain hash partition — no global sort, "
    "one exchange on shard_id, per-shard local sort (exactly the "
    "shuffle-write pattern of repartition + sortWithinPartitions + "
    "partitionBy). Output verifies the permutation itself, not just "
    "membership: order_checksum = SUM(rank * doc_id) mod p over the "
    "within-shard order, so a single swapped pair changes the value.",
)
def q_text_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", shuffle_hash_col().alias("h")
    )
    sharded = docs.withColumn("shard_id", shard_id_col(F.col("h")))
    rn = F.row_number().over(
        Window.partitionBy("shard_id").orderBy("h", "doc_id")
    )
    return (
        sharded.withColumn("rn", rn.cast("long"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            # Reduce BOTH factors mod p before multiplying: Spark's
            # int64 product silently wraps past 2^63 (DuckDB promotes
            # to HUGEINT, so the engines would diverge exactly on the
            # large corpora this checksum exists to verify); with both
            # factors < p ≈ 1e9 the product stays under ~1e18. The SUM
            # itself goes through DECIMAL(38,0): int64 SUM of <1e9
            # terms wraps past ~9.2e9 rows per shard, while DuckDB's
            # SUM is HUGEINT — exact on both engines this way.
            (
                F.sum(
                    (
                        (
                            (F.col("rn") % _CKSUM_P)
                            * (F.col("doc_id") % _CKSUM_P)
                        )
                        % _CKSUM_P
                    ).cast("decimal(38,0)")
                )
                % _CKSUM_P
            )
            .cast("long")
            .alias("order_checksum"),
            F.min_by("doc_id", "h").alias("first_doc_id"),
        )
    )


@register(
    "text_fingerprint",
    oracle=f"""
        SELECT doc_id,
               array_to_string(list_sort(list_distinct(list_transform({duck_shingles('toks')},
                   s -> md5(s))))[1:{FINGERPRINT_K}], ' ') AS fp
        FROM (SELECT doc_id, {DUCK_TOKENS_LIST} AS toks FROM documents)
        WHERE len(toks) >= 3
    """,
    tier="llm",
    doc=f"Document fingerprint: the {FINGERPRINT_K} lexicographically "
    "smallest md5s of word shingles (min-k sketch), space-joined into "
    "one string (scalar output for the driver canonicalizer) — "
    "order-stable, cross-engine-identical, a compact near-dup key.",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A doc's shingles live in one artifact row, so min-k is a per-row
    # reshape: hash each distinct shingle once (single transform pass —
    # no repeated-HOF inlining risk), sort, slice. ZERO exchanges and
    # zero explodes (plan-pinned): the former explode + collect_set
    # shuffled every doc's full md5 set; this ships nothing.
    shingles = tokenized_docs(spark, sf_dir).select(
        "doc_id",
        F.expr(f"array_distinct({gram_expr(SHINGLE_K)})").alias("sh"),
    ).filter(F.size("sh") > 0)  # <SHINGLE_K-token docs have no fingerprint
    return shingles.select(
        "doc_id",
        F.expr(
            "concat_ws(' ', slice(array_sort(transform(sh, s -> md5(s))), "
            f"1, {FINGERPRINT_K}))"
        ).alias("fp"),
    )


# ---------------------------------------------------------------------------
# PII redaction, repetition signals, eval-set decontamination
# ---------------------------------------------------------------------------

# Patterns kept to the Java-regex / RE2 common subset (no lookaround,
# no backrefs) so Spark and DuckDB match identically.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+"
IPV4_RE = "(\\d{1,3}\\.){3}\\d{1,3}"

# The fixture text is clean synthetic prose, so each doc is augmented
# with deterministic doc_id-derived PII — identical string construction
# on both engines — making the redaction genuinely load-bearing.
_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or "
    "admin@mail' || CAST(doc_id % 10 AS VARCHAR) || '.org at 10.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 7 AS VARCHAR)"
)


@register(
    "text_pii_redact",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(aug, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(aug, '{IPV4_RE}')) AS BIGINT) AS n_ips,
               CAST(length(clean) AS BIGINT) AS clean_len,
               md5(clean) AS clean_md5
        FROM (
            SELECT doc_id, aug,
                   regexp_replace(regexp_replace(aug, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{IPV4_RE}', '<IP>', 'g') AS clean
            FROM (SELECT doc_id, text || {_PII_SUFFIX_SQL} AS aug FROM documents))
    """,
    tier="llm",
    doc="PII scrubbing: count and redact emails and IPv4 addresses with "
    "engine-portable regexes (Java-regex/RE2 common subset). A pure "
    "per-row map — zero shuffle, runs at scan speed over 100 TB. The "
    "redacted text is verified cross-engine by md5.",
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), did, F.lit("@example.com or admin@mail"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(".org at 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 7).cast("string"),
    )
    clean = F.regexp_replace(F.regexp_replace(aug, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(IPV4_RE), 0)).cast("long").alias("n_ips"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


# DuckDB k-gram construction: single shared source in dedup.duck_k_grams
# (drift between the three former copies would silently skew oracles).
_duck_k_grams = duck_k_grams


def _gram_occurrences(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """(doc_id, g): every k-gram occurrence (NOT distinct — counts
    matter). A per-row comprehension over the stored token array
    (tokens.gram_rows) — no tokenization, no doc_id window shuffle."""
    return gram_rows(spark, sf_dir, k, distinct=False, out_col="g")


def _bigram_occurrences_with_w1(
    spark: SparkSession, sf_dir: str, with_w2: bool = False
) -> DataFrame:
    """(doc_id, g, w1[, w2]): bigram occurrences with the member words
    taken straight from the token ARRAY during the same per-row
    comprehension that builds g — not split() back out of the g string
    (r15): split re-scanned every bigram string once per word column,
    a bytes-proportional cost at scale. Identity: tokens are [a-z]+
    (tokenizer contract, no embedded spaces), so
    split(concat_ws(' ', slice(ws, i, 2)), ' ') == [ws[i], ws[i+1]] ==
    [element_at(ws, i), element_at(ws, i + 1)] exactly."""
    fields = "concat_ws(' ', slice(ws, i, 2)) AS g, element_at(ws, i) AS w1"
    cols = ["doc_id", "p.g", "p.w1"]
    if with_w2:
        fields += ", element_at(ws, i + 1) AS w2"
        cols.append("p.w2")
    pair = (
        "if(size(ws) >= 2, transform(sequence(1, size(ws) - 1), "
        f"i -> struct({fields})), array())"
    )
    return (
        tokenized_docs(spark, sf_dir)
        .select("doc_id", F.explode(F.expr(pair)).alias("p"))
        .select(*cols)
    )


def _run_stats_expr(a: str) -> str:
    """SQL expr over a SORTED string array `a`: struct('maxr', length of
    the longest run of equal elements, 'dup', total elements in runs of
    length > 1) — i.e. max occurrence count of any value and the count
    of occurrences whose value repeats, computed in ONE per-row linear
    scan with a (cur, maxr, dup) accumulator. This replaces an
    explode + (doc_id, gram) hash aggregation: the grams of one doc
    already live in one row, so grouping them never needed a shuffle.
    Guards: sequence(1, n) DESCENDS for n < 1, so arrays shorter than 2
    take the closed-form branch (size 0 -> maxr 0, size 1 -> maxr 1)."""
    step = (
        f"(acc, i) -> IF({a}[i] = {a}[i-1], "
        "named_struct('cur', acc.cur + 1L, 'maxr', acc.maxr, 'dup', acc.dup), "
        "named_struct('cur', 1L, 'maxr', greatest(acc.maxr, acc.cur), "
        "'dup', acc.dup + IF(acc.cur > 1L, acc.cur, 0L)))"
    )
    finish = (
        "acc -> named_struct('maxr', greatest(acc.maxr, acc.cur), "
        "'dup', acc.dup + IF(acc.cur > 1L, acc.cur, 0L))"
    )
    return (
        f"IF(size({a}) < 2, "
        f"named_struct('maxr', CAST(size({a}) AS BIGINT), 'dup', 0L), "
        f"aggregate(sequence(1, size({a}) - 1), "
        f"named_struct('cur', 1L, 'maxr', 1L, 'dup', 0L), {step}, {finish}))"
    )


@register(
    "text_repetition",
    oracle=f"""
        WITH toks AS (SELECT doc_id, {DUCK_TOKENS_LIST} AS t FROM documents),
             bgc AS (SELECT doc_id, g, COUNT(*) AS c
                     FROM (SELECT doc_id, unnest({_duck_k_grams('t', 2)}) AS g FROM toks)
                     GROUP BY doc_id, g),
             tgc AS (SELECT doc_id, g, COUNT(*) AS c
                     FROM (SELECT doc_id, unnest({_duck_k_grams('t', 3)}) AS g FROM toks)
                     GROUP BY doc_id, g),
             bga AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                       AS top_bigram_frac FROM bgc GROUP BY doc_id),
             tga AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                       / CAST(SUM(c) AS DOUBLE) AS dup_trigram_frac
                     FROM tgc GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(bga.top_bigram_frac, 0.0) AS top_bigram_frac,
               COALESCE(tga.dup_trigram_frac, 0.0) AS dup_trigram_frac
        FROM documents d
        LEFT JOIN bga ON d.doc_id = bga.doc_id
        LEFT JOIN tga ON d.doc_id = tga.doc_id
    """,
    tier="llm",
    doc="Gopher-style repetition signals: fraction of bigram occurrences "
    "taken by the single most frequent bigram, and fraction of trigram "
    "occurrences whose trigram repeats within the doc — the standard "
    "boilerplate/repetition quality filters. Shape: a doc's grams all "
    "live in ONE artifact row, so the per-doc occurrence counts never "
    "need a shuffle — sort the gram array per row and take run-length "
    "stats in one linear scan (_run_stats_expr). ZERO exchanges, zero "
    "explodes, one column-pruned artifact scan (plan-pinned); the "
    "round-6 form exploded every gram occurrence and hash-aggregated "
    "on (doc_id, gram), shuffling ~2x the token stream. At 100 TB "
    "this is embarrassingly parallel: map-only over the corpus.",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stacked projections: sorted gram arrays materialize in the lower
    # projection (multiple references in the run-length aggregate keep
    # CollapseProject from inlining the non-cheap sort/transform).
    sorted_grams = tokenized_docs(spark, sf_dir).select(
        "doc_id",
        F.expr(f"array_sort({gram_expr(2)})").alias("bg"),
        F.expr(f"array_sort({gram_expr(3)})").alias("tg"),
    )
    stats = sorted_grams.select(
        "doc_id",
        F.expr(_run_stats_expr("bg")).alias("bs"),
        F.expr("size(bg)").alias("nb"),
        F.expr(_run_stats_expr("tg")).alias("ts"),
        F.expr("size(tg)").alias("nt"),
    )
    return stats.select(
        "doc_id",
        F.expr(
            "IF(nb = 0, 0.0D, CAST(bs.maxr AS DOUBLE) / CAST(nb AS DOUBLE))"
        ).alias("top_bigram_frac"),
        F.expr(
            "IF(nt = 0, 0.0D, CAST(ts.dup AS DOUBLE) / CAST(nt AS DOUBLE))"
        ).alias("dup_trigram_frac"),
    )


_BUCKET_SQL = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"


@register(
    "text_decontaminate",
    oracle=f"""
        WITH sh AS (SELECT doc_id, bucket, unnest(list_distinct({duck_shingles('toks')})) AS s
                    FROM (SELECT doc_id, {_BUCKET_SQL} AS bucket,
                                 {DUCK_TOKENS_LIST} AS toks FROM documents)),
             train AS (SELECT doc_id, s FROM sh WHERE bucket < {SPLIT_PCT[0]}),
             eval AS (SELECT doc_id AS eval_doc_id, s FROM sh
                      WHERE bucket >= {SPLIT_PCT[0] + SPLIT_PCT[1]})
        SELECT train.doc_id,
               CAST(COUNT(DISTINCT train.s) AS BIGINT) AS n_shared_shingles,
               CAST(COUNT(DISTINCT eval.eval_doc_id) AS BIGINT) AS n_eval_docs
        FROM train JOIN eval ON train.s = eval.s
        GROUP BY train.doc_id
    """,
    tier="llm",
    doc="Train/eval decontamination: flag train-split documents sharing "
    "any word 3-shingle with a test-split document (the n-gram-overlap "
    "contamination check run before every training run). Uses the same "
    "md5 hash buckets as text_train_val_test_split, so the splits are "
    "consistent across operators. Scale: the eval side is a tiny "
    "fraction of the corpus — broadcast its distinct-shingle set and "
    "this is a map-side semi-join over 100 TB; here it runs as a "
    "shuffled equi-join on the uniform high-cardinality shingle key.",
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingle_rows(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    sh = sh.withColumn("bucket", bucket)
    train = sh.filter(F.col("bucket") < SPLIT_PCT[0]).select("doc_id", "s")
    ev = sh.filter(F.col("bucket") >= SPLIT_PCT[0] + SPLIT_PCT[1]).select(
        F.col("doc_id").alias("eval_doc_id"), "s"
    )
    return (
        train.join(ev, "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("n_shared_shingles"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Mixture sampling and sequence packing
# ---------------------------------------------------------------------------

# Per-source sampling rate in basis points, derived from the numeric
# source suffix: src0 -> 1000 (10%), src1 -> 3000, ... src4 -> 9000,
# then cycling. Derived (not a literal map) so it works at any source
# cardinality, identically in both engines.
_RATE_BPS_SQL = "1000 + (CAST(substr(source, 4) AS INTEGER) % 5) * 2000"
_MIX_BUCKET_SQL = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8) AS BIGINT) % 10000"
)


@register(
    "text_sample_mixture",
    oracle=f"""
        SELECT source,
               CAST(any_value({_RATE_BPS_SQL}) AS BIGINT) AS rate_bps,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
               CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS chars_sampled
        FROM (SELECT source, n_chars,
                     {_MIX_BUCKET_SQL} < {_RATE_BPS_SQL} AS keep
              FROM documents)
        GROUP BY source
    """,
    tier="llm",
    doc="Deterministic mixture sampling: each source is downsampled at "
    "its own rate (derived from the source id) by a salted md5 bucket "
    "on doc_id — the data-mixture weighting step of a training "
    "pipeline. Hash-based, so membership is stable across runs, "
    "engines, partitionings, and corpus appends (rand(seed) is none of "
    "those). Pure per-row map + one small agg; at 100 TB the filter "
    "runs at scan speed and the output is one row per source.",
)
def q_text_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    rate = 1000 + (F.substring("source", 4, 10).cast("int") % 5) * 2000
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))), 1, 8), 16, 10)
        .cast("long") % 10000
    )
    keep = bucket < rate
    return docs.groupBy("source").agg(
        F.any_value(rate).cast("long").alias("rate_bps"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep.cast("int")).alias("n_sampled"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).alias("chars_sampled"),
    )


PACK_BUDGET = 256  # tokens per packed training sequence


@register(
    "text_pack_sequences",
    oracle=f"""
        SELECT doc_id, source, n_tokens,
               CAST(cum_excl // {PACK_BUDGET} AS BIGINT) AS pack_id,
               CAST(cum_excl % {PACK_BUDGET} AS BIGINT) AS start_offset,
               cum_excl % {PACK_BUDGET} + n_tokens > {PACK_BUDGET} AS spans_boundary
        FROM (
            SELECT doc_id, source, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                     AS cum_excl
            FROM (SELECT doc_id, source,
                         CAST(len({DUCK_TOKENS_LIST}) AS BIGINT) AS n_tokens
                  FROM documents))
    """,
    tier="llm",
    doc=f"Concat-and-chunk sequence packing: within each source, docs "
    "are concatenated in doc_id order and chunked into "
    f"{PACK_BUDGET}-token training sequences; each doc gets its pack id "
    "and offset (LLM pretraining's standard packing). All integer "
    "arithmetic on an exclusive running sum — bit-identical across "
    "engines. Scale: the window partitions by source, so packing "
    "parallelizes across sources/shards; no global total order is "
    "required.",
)
def q_text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Artifact-served: packing needs only the stored per-doc token
    # count — a 3-scalar-column scan, the array is never read.
    toks = tokenized_docs(spark, sf_dir).select(
        "doc_id", "source", F.col("n_norm_tokens").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    packed = toks.withColumn("cum_excl", cum)
    return packed.select(
        "doc_id", "source", "n_tokens",
        F.expr(f"cum_excl div {PACK_BUDGET}").cast("long").alias("pack_id"),
        (F.col("cum_excl") % PACK_BUDGET).cast("long").alias("start_offset"),
        (F.col("cum_excl") % PACK_BUDGET + F.col("n_tokens") > PACK_BUDGET).alias("spans_boundary"),
    )


# ---------------------------------------------------------------------------
# Corpus-relative quality filtering
# ---------------------------------------------------------------------------

QUALITY_MIN_TOKENS = 10
QUALITY_PCTL = 0.25


@register(
    "text_quality_filter",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CASE WHEN len(toks) > 0
                        THEN CAST(len(list_filter(toks, t -> t IN ({', '.join(f"'{w}'" for w in EN_STOP)}))) AS DOUBLE)
                             / len(toks)
                        ELSE 0.0 END AS score
            FROM (SELECT doc_id, {DUCK_TOKENS_LIST} AS toks FROM documents)
        ),
        t AS (SELECT round(quantile_cont(score, {QUALITY_PCTL}), 6) AS thr FROM s)
        SELECT doc_id, n_tokens, round(score, 9) AS score
        FROM s, t WHERE score >= thr AND n_tokens >= {QUALITY_MIN_TOKENS}
    """,
    tier="llm",
    doc="Corpus-relative quality filter — the 'drop the bottom quartile' "
    "pre-training stage: per-doc stopword-ratio score, threshold = the "
    f"corpus's exact P{int(QUALITY_PCTL * 100)} of that score (1-row "
    "broadcast), keep docs at/above it with a minimum length guard. "
    "Two passes over per-doc scores, one 1-row shuffle for the "
    "threshold; at 100 TB swap the exact percentile for "
    "approx_percentile — same shape. Scores are exact integer ratios, "
    "so both engines compare identical doubles.",
)
def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Artifact-served: both score passes scan (doc_id, ws) — the
    # second pass (the threshold join) re-reads the artifact, not the
    # corpus, and never touches raw text.
    t = tokenized_docs(spark, sf_dir)
    n_tok = F.size("ws")
    scored = t.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.when(
            n_tok > 0,
            F.expr(_vote("spark", "en", "ws")).cast("double") / n_tok,
        )
        .otherwise(0.0)
        .alias("score"),
    )
    thr = scored.agg(
        F.round(F.percentile("score", F.lit(QUALITY_PCTL)), 6).alias("thr")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(
            (F.col("score") >= F.col("thr"))
            & (F.col("n_tokens") >= QUALITY_MIN_TOKENS)
        )
        .select("doc_id", "n_tokens", F.round("score", 9).alias("score"))
    )


# ---------------------------------------------------------------------------
# Bigram language-model scoring (the KenLM-style perplexity quality filter)
# ---------------------------------------------------------------------------


def _lm_count_rows(tokenized: DataFrame) -> DataFrame:
    """(k, g, c) n-gram counts of one tokenized frame — the single
    shared derivation for the full build AND the delta partials, so an
    incremental artifact can never drift from a from-scratch one."""
    ug = (
        tokenized.select(F.explode("ws").alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.lit(1).alias("k"), "g", "c")
    )
    bg = (
        tokenized.select(F.explode(F.expr(gram_expr(2))).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.lit(2).alias("k"), "g", "c")
    )
    return ug.unionAll(bg)


def _write_lm_counts(df: DataFrame, path: str, mode: str) -> None:
    df.write.mode(mode).partitionBy("k").parquet(path)


# Counts are a MERGEABLE summary — C(corpus + delta) = C(corpus) +
# C(delta) per gram — so a corpus delta appends the delta docs' partial
# counts (O(delta) work) and the merge is deferred to read time
# (`lm_slice` sums per gram) and to compaction (`compact_lm_counts`
# folds partials back to one row per gram): the reference's
# log-structured append (helper_reduce.c:241) applied to the model tier,
# the one corpus artifact whose rows are NOT keyed by doc_id.
LM_COUNTS = CorpusArtifact("session_lm_counts", _lm_count_rows, _write_lm_counts)


def lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, g, c): the corpus n-gram count tables the bigram LM scores
    against — k=1 unigram counts, k=2 bigram counts — persisted once
    per (application, corpus content) and partitioned by k so each
    consumer reads a pruned slice. This IS the trained model: scoring
    a document must not re-train it, and before this artifact every
    text_lm_score run re-aggregated the full gram stream twice (plus a
    countDistinct for V, now the k=1 row count). The reference's
    build-then-query lifecycle (helper_reduce.c:238-257) applied to
    the language-model tier.

    RAW artifact rows: after an incremental corpus append (LM_COUNTS
    above) a gram may carry several partial-count rows. Consumers go
    through `lm_slice`, which merges; only code that can prove the
    artifact is compact (or that tolerates partials) reads this
    directly."""
    return corpus_artifact(spark, sf_dir, LM_COUNTS)


def lm_slice(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """(g, c): the merged k-gram slice of the LM model — the read-side
    half of the mergeable-summary lifecycle: partial-count rows from
    incremental appends are summed per gram here. Plan cost over a
    compact artifact is one hash aggregate whose exchange the
    downstream join on `g` REUSES (the agg hash-partitions on exactly
    the join key), so serving a compact model pays the same number of
    exchanges as reading final counts directly did."""
    return (
        lm_counts(spark, sf_dir)
        .filter(F.col("k") == k)
        .groupBy("g")
        .agg(F.sum("c").alias("c"))
    )


def compact_lm_counts(spark: SparkSession, sf_dir: str) -> None:
    """Fold per-delta partial-count files back to one row per (k, g) —
    the merge half of the model tier's log-structured lifecycle, via
    the locked staged swap (`compact_artifact`, which carries the
    consumed listing so later corpus appends still take the delta
    path)."""
    compact_artifact(
        spark,
        corpus_artifact_path(spark, sf_dir, LM_COUNTS),
        lambda df, staging: _write_lm_counts(
            df.groupBy("k", "g").agg(F.sum("c").alias("c")).select("k", "g", "c"),
            staging,
            "overwrite",
        ),
    )


@register(
    "text_lm_score",
    oracle=f"""
        WITH toks AS (SELECT doc_id, {DUCK_TOKENS_LIST} AS t FROM documents),
        occ AS (SELECT doc_id, unnest(t) AS w FROM toks),
        bg AS (SELECT doc_id, g, string_split(g, ' ')[1] AS w1
               FROM (SELECT doc_id, unnest({_duck_k_grams('t', 2)}) AS g FROM toks)),
        bgc AS (SELECT g, COUNT(*) AS cg FROM bg GROUP BY g),
        ugc AS (SELECT w, COUNT(*) AS cw FROM occ GROUP BY w),
        vocab AS (SELECT COUNT(DISTINCT w) AS v FROM occ)
        SELECT bg.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(CAST(SUM(CAST(
                   ln(CAST(cg + 1 AS DOUBLE) / CAST(cw + v AS DOUBLE))
                   AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS avg_logp
        FROM bg
        JOIN bgc ON bg.g = bgc.g
        JOIN ugc ON bg.w1 = ugc.w
        CROSS JOIN vocab
        GROUP BY bg.doc_id
    """,
    tier="llm",
    doc="Bigram language-model document scoring — the KenLM-style "
    "perplexity quality filter: avg log P(w2|w1) over each doc's "
    "bigrams under an add-one-smoothed corpus bigram model, "
    "P = (C(w1 w2)+1) / (C(w1)+V). Low scores flag unnatural text "
    "(boilerplate, shredded OCR, keyword stuffing). The corpus n-gram "
    "tables are ordinary aggregations (map-side combined); per-doc "
    "scoring joins occurrences to the count tables on the gram key; "
    "each ln term is cast to DECIMAL(28,12) before the per-doc SUM so "
    "the sum is order-independent and hash-stable across engines. "
    "Scale: at 100 TB the bigram count table shards on its key "
    "(shuffle join); a pruned 100k-word model would broadcast instead.",
)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    bg = _bigram_occurrences_with_w1(spark, sf_dir)
    # Pruned + merged artifact slices (PartitionFilters on k; partial
    # rows from incremental appends summed per gram), not re-aggregation
    # of the corpus. The merge agg's exchange is on `g` — exactly the
    # join key — so the join reuses it. (An r15 variant folded the
    # 1-row vocab subtree into ugc via a single-partition window —
    # measured ~0.05 s — but the repo's no-global-Window plan pin for
    # the resampler consumer outweighs it; the separate broadcast
    # subtree stays.)
    bgc = lm_slice(spark, sf_dir, 2).select("g", F.col("c").alias("cg"))
    ugc = lm_slice(spark, sf_dir, 1).select(
        F.col("g").alias("w"), F.col("c").alias("cw")
    )
    vocab = lm_slice(spark, sf_dir, 1).agg(F.count(F.lit(1)).alias("v"))
    logp = F.expr(
        "CAST(ln(CAST(cg + 1 AS DOUBLE) / CAST(cw + v AS DOUBLE)) AS DECIMAL(28,12))"
    )
    return (
        bg.join(bgc, "g")
        .join(ugc, bg.w1 == ugc.w)
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(logp).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_logp"),
        )
    )


KN_D = 0.75  # absolute discount (the standard KN default)

# ONE SQL string used verbatim by both engines (F.expr on the Spark
# side, inlined in the DuckDB oracle) — identical text, identical IEEE
# expression tree, so the per-doc decimal sums hash-match.
_KN_TERM = (
    "CAST(ln("
    f"(CAST(cg AS DOUBLE) - {KN_D}) / CAST(cw AS DOUBLE)"
    f" + {KN_D} * (CAST(cont1 AS DOUBLE) / CAST(cw AS DOUBLE))"
    " * (CAST(n1w2 AS DOUBLE) / CAST(b AS DOUBLE))"
    ") AS DECIMAL(28,12))"
)


@register(
    "text_lm_score_kn",
    oracle=f"""
        WITH toks AS (SELECT doc_id, {DUCK_TOKENS_LIST} AS t FROM documents),
        occ AS (SELECT doc_id, unnest(t) AS w FROM toks),
        bg AS (SELECT doc_id, g, string_split(g, ' ')[1] AS w1,
                      string_split(g, ' ')[2] AS w2
               FROM (SELECT doc_id, unnest({_duck_k_grams('t', 2)}) AS g FROM toks)),
        bgc AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cg FROM bg GROUP BY g),
        ugc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM occ GROUP BY w),
        cont AS (SELECT string_split(g, ' ')[1] AS w1c,
                        CAST(COUNT(*) AS BIGINT) AS cont1
                 FROM bgc GROUP BY 1),
        hist AS (SELECT string_split(g, ' ')[2] AS w2c,
                        CAST(COUNT(*) AS BIGINT) AS n1w2
                 FROM bgc GROUP BY 1),
        btypes AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bgc)
        SELECT bg.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(CAST(SUM({_KN_TERM}) AS DOUBLE) / COUNT(*), 6)
                 AS avg_logp_kn
        FROM bg
        JOIN bgc ON bg.g = bgc.g
        JOIN ugc ON bg.w1 = ugc.w
        JOIN cont ON bg.w1 = cont.w1c
        JOIN hist ON bg.w2 = hist.w2c
        CROSS JOIN btypes
        GROUP BY bg.doc_id
    """,
    tier="llm",
    doc=f"Interpolated Kneser-Ney bigram scoring — the smoother KenLM "
    "actually ships (add-one is the teaching baseline): "
    f"P(w2|w1) = (C(w1w2)-D)/C(w1) + D·N1+(w1,·)/C(w1)·Pcont(w2), "
    f"D={KN_D}, where Pcont(w2) = N1+(·,w2)/|bigram types| is the "
    "CONTINUATION probability — how many distinct contexts a word "
    "follows, not how often it occurs (the fix for 'Francisco': "
    "frequent but only ever after 'San'). Every model table derives "
    "from the persisted lm_counts artifact's k=2 slice — continuation "
    "and history counts are vocabulary-sized aggregations over bigram "
    "TYPES, zero corpus scans. Same serving join plan as "
    "text_lm_score plus two type-count joins; same decimal-sum "
    "determinism discipline.",
)
def q_text_lm_score_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    split1 = F.split("g", " ")[0]
    split2 = F.split("g", " ")[1]
    bg = _bigram_occurrences_with_w1(spark, sf_dir, with_w2=True)
    s2 = lm_slice(spark, sf_dir, 2)
    bgc = s2.select("g", F.col("c").alias("cg"))
    ugc = lm_slice(spark, sf_dir, 1).select(
        F.col("g").alias("w"), F.col("c").alias("cw")
    )
    cont = (
        s2.select(split1.alias("w1c"))
        .groupBy("w1c")
        .agg(F.count(F.lit(1)).alias("cont1"))
    )
    hist = (
        s2.select(split2.alias("w2c"))
        .groupBy("w2c")
        .agg(F.count(F.lit(1)).alias("n1w2"))
    )
    btypes = s2.agg(F.count(F.lit(1)).alias("b"))
    return (
        bg.join(bgc, "g")
        .join(ugc, bg.w1 == ugc.w)
        .join(cont, bg.w1 == cont.w1c)
        .join(hist, bg.w2 == hist.w2c)
        .crossJoin(F.broadcast(btypes))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(F.expr(_KN_TERM)).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_logp_kn"),
        )
    )


RESAMPLE_SEED = 13
RESAMPLE_DECILES = 10


_DUCK_LM_SCORED_CTES = f"""
        toks AS (SELECT doc_id, {DUCK_TOKENS_LIST} AS t FROM documents),
        occ AS (SELECT doc_id, unnest(t) AS w FROM toks),
        bg AS (SELECT doc_id, g, string_split(g, ' ')[1] AS w1
               FROM (SELECT doc_id, unnest({_duck_k_grams('t', 2)}) AS g FROM toks)),
        bgc AS (SELECT g, COUNT(*) AS cg FROM bg GROUP BY g),
        ugc AS (SELECT w, COUNT(*) AS cw FROM occ GROUP BY w),
        vocab AS (SELECT COUNT(DISTINCT w) AS v FROM occ),
        scored AS (
            SELECT bg.doc_id,
                   ROUND(CAST(SUM(CAST(
                       ln(CAST(cg + 1 AS DOUBLE) / CAST(cw + v AS DOUBLE))
                       AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS s
            FROM bg
            JOIN bgc ON bg.g = bgc.g
            JOIN ugc ON bg.w1 = ugc.w
            CROSS JOIN vocab
            GROUP BY bg.doc_id)"""

_DUCK_RESAMPLE_TAIL = f"""
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                       || ':{RESAMPLE_SEED}'), 1, 8)
                        AS BIGINT) % 100 < decile * {RESAMPLE_DECILES}
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               ROUND(MIN(s), 6) AS lo_score,
               ROUND(MAX(s), 6) AS hi_score
        FROM bucketed
        GROUP BY decile"""

_RESAMPLE_PCTS = [d / RESAMPLE_DECILES for d in range(1, RESAMPLE_DECILES)]


def _lm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_text_lm_score(spark, sf_dir).select(
        "doc_id", F.col("avg_logp").alias("s")
    )


def _resample_rollup(bucketed: DataFrame) -> DataFrame:
    h = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":{RESAMPLE_SEED}"))
    )
    keep = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 100
        < F.col("decile") * RESAMPLE_DECILES
    )
    return bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep.cast("int")).cast("long").alias("n_kept"),
        F.round(F.min("s"), 6).alias("lo_score"),
        F.round(F.max("s"), 6).alias("hi_score"),
    )


@register(
    "text_lm_resample",
    oracle=f"""
        WITH {_DUCK_LM_SCORED_CTES},
        cuts AS (
            SELECT list_transform(
                       quantile_cont(s, {_RESAMPLE_PCTS}),
                       c -> round(c, 6)) AS cs
            FROM scored),
        bucketed AS (
            SELECT doc_id, s,
                   1 + len(list_filter(cs, c -> s > c)) AS decile
            FROM scored, cuts)
        {_DUCK_RESAMPLE_TAIL}
    """,
    tier="llm",
    doc=f"Perplexity-stratified resampling — the quality-weighted "
    "mixture step of a curation pipeline (DoReMi-style reweighting "
    "reduced to its data-plane half): score every doc under the "
    "corpus bigram LM, stratify the score distribution into "
    f"{RESAMPLE_DECILES} deciles, then keep docs at a per-decile "
    f"rate — decile d keeps d·{RESAMPLE_DECILES}% via the engine's "
    "seed-stable md5 coin, so higher-quality strata are upsampled "
    "relative to lower ones and the sample is reproducible across "
    "engines, runs, and cluster sizes. Scale-safe stratification: "
    "the 9 decile cutpoints are ONE exact-percentile aggregate "
    "(partial+final, 1-row result; swap in approx_percentile at "
    "100 TB — same shape), broadcast back, and decile assignment is "
    "a map-only range lookup (1 + #cutpoints below the score) — no "
    "Window, no global sort, no single-partition stage, "
    "plan-asserted in tests/test_llm_ops.py. Docs tied at a "
    "cutpoint land in the lower stratum in both engines (identical "
    "round-6 doubles). The NTILE form this replaced survives as the "
    "pytest-only contract pin text_lm_resample_ntile below.",
)
def q_text_lm_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _lm_scored(spark, sf_dir)
    cuts = scored.agg(
        F.transform(
            F.percentile("s", F.array(*[F.lit(p) for p in _RESAMPLE_PCTS])),
            lambda c: F.round(c, 6),
        ).alias("cs")
    )
    decile = (
        F.lit(1) + F.size(F.filter("cs", lambda c: F.col("s") > c))
    ).cast("long")
    bucketed = (
        scored.crossJoin(F.broadcast(cuts))
        .select("doc_id", "s", decile.alias("decile"))
    )
    return _resample_rollup(bucketed)


@register(
    "text_lm_resample_ntile",
    oracle=f"""
        WITH {_DUCK_LM_SCORED_CTES},
        bucketed AS (
            SELECT doc_id, s,
                   NTILE({RESAMPLE_DECILES}) OVER (ORDER BY s, doc_id)
                     AS decile
            FROM scored)
        {_DUCK_RESAMPLE_TAIL}
    """,
    tier="llm",
    doc="Contract pin for the stratified resampler: the original "
    "NTILE-over-total-order form (exactly equal-sized strata, "
    "deterministic (score, doc_id) tiebreak). Deliberately NOT the "
    "production path — a global unpartitioned window funnels the "
    "whole corpus through one task; text_lm_resample above is the "
    "scale-safe percentile-cutpoint form. Kept pytest/sweep-only so "
    "the NTILE semantics stay oracle-pinned.",
    export=False,  # pytest-verified variant; kept out of the external window
)
def q_text_lm_resample_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    scored = _lm_scored(spark, sf_dir)
    decile = F.ntile(RESAMPLE_DECILES).over(Window.orderBy("s", "doc_id"))
    bucketed = scored.select(
        "doc_id", "s", decile.cast("long").alias("decile")
    )
    return _resample_rollup(bucketed)


@register(
    "text_langid_eval",
    oracle=f"""
        WITH pred AS (
            SELECT doc_id, lang AS lang_actual,
                   CASE WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                        WHEN es >= de AND es >= fr THEN 'es'
                        WHEN de >= fr THEN 'de'
                        ELSE 'fr' END AS lang_pred
            FROM (
                SELECT doc_id, lang,
                       {_vote('duck', 'en')} AS en, {_vote('duck', 'es')} AS es,
                       {_vote('duck', 'de')} AS de, {_vote('duck', 'fr')} AS fr
                FROM (SELECT doc_id, lang, {DUCK_TOKENS_LIST} AS toks FROM documents)
            ))
        SELECT lang_actual, lang_pred,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER
                     (PARTITION BY lang_actual) AS DOUBLE), 6) AS frac_of_actual
        FROM pred GROUP BY lang_actual, lang_pred
    """,
    tier="llm",
    doc="Language-ID confusion matrix vs the corpus's ground-truth lang "
    "column: per (actual, predicted) cell counts and the row-normalized "
    "fraction — the evaluation pass every classifier-based pipeline "
    "filter runs before being trusted. One groupBy over the per-doc "
    "votes plus a window for row totals; at 100 TB the matrix is "
    "|langs|^2 rows regardless of corpus size.",
)
def q_text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pred = q_text_langid(spark, sf_dir)
    cells = pred.groupBy("lang_actual", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang_actual")
    return cells.select(
        "lang_actual",
        "lang_pred",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6
        ).alias("frac_of_actual"),
    )


# ---------------------------------------------------------------------------
# Co-occurrence / collocation mining (PMI)
# ---------------------------------------------------------------------------

PMI_TOP_K = 50


@register(
    "text_pmi_cooccurrence",
    oracle=f"""
        WITH dw AS (
            SELECT DISTINCT doc_id, unnest({DUCK_TOKENS_LIST}) AS w
            FROM documents
        ),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dw),
        df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS d FROM dw GROUP BY w),
        pairs AS (
            SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS d_pair
            FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
            GROUP BY a.w, b.w
        )
        SELECT w1, w2, d_pair,
               round(ln(CAST(d_pair AS DOUBLE) * n_docs
                        / (CAST(da.d AS DOUBLE) * db.d)), 6) AS pmi
        FROM pairs, n
        JOIN df da ON da.w = w1
        JOIN df db ON db.w = w2
        ORDER BY d_pair DESC, w1, w2 LIMIT {PMI_TOP_K}
    """,
    tier="llm",
    doc="Collocation mining: document-level co-occurrence counts and "
    "pointwise mutual information for the top word pairs — the "
    "distributional-semantics statistic behind phrase detection and "
    "embedding-corpus diagnostics. Shape: per-doc distinct word ARRAY "
    "(array_distinct — shuffle-free, unlike the oracle's exploded "
    "distinct), pairs generated as a JVM array comprehension per row "
    "(bounded by vocab-per-doc^2, NOT corpus-quadratic) and counted "
    "on a tiny pair-key shuffle; document frequencies explode the "
    "same arrays onto a vocab-key shuffle. No self-join, no distinct "
    "shuffle of the token stream. PMI is ln over exact BIGINT "
    "ratios, one identical IEEE expression tree in both engines, "
    "rounded once; top-k ordered by (count, w1, w2) so the LIMIT "
    "boundary is deterministic. SCALE NOTE: per-task pair generation "
    "is O(doc-vocab^2) — fine for bounded docs, hostile for a "
    "book-length one; `text_pmi_windowed` is the O(tokens*k) "
    "production form and this doc-level form is its oracle-checkable "
    "contract (same calibration pattern as WAU exact/HLL).",
)
def q_text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One row per doc with its sorted distinct word array — a per-row
    # reshape of the stored token array, no tokenization, no shuffle.
    ws = (
        tokenized_docs(spark, sf_dir)
        .select(F.sort_array(F.array_distinct("ws")).alias("ws"))
        .filter(F.size("ws") > 0)
    )
    n_docs = ws.agg(F.count(F.lit(1)).alias("n_docs"))
    df_ = (
        ws.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Ordered pairs (w1 < w2 by array sortedness) via array comprehension.
    pair_expr = (
        "flatten(transform(ws, (x, i) -> "
        "transform(slice(ws, i + 2, size(ws)), y -> struct(x AS w1, y AS w2))))"
    )
    pairs = (
        ws.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("d_pair"))
    )
    da = df_.select(F.col("w").alias("w1"), F.col("d").alias("d1"))
    db = df_.select(F.col("w").alias("w2"), F.col("d").alias("d2"))
    # No broadcast hint on the document-frequency sides: |vocab| rows fit
    # in a broadcast at fixture scale but not at web-corpus vocabulary
    # sizes — AQE picks broadcast when the side is actually small.
    return (
        pairs.join(da, "w1")
        .join(db, "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            "d_pair",
            F.round(
                F.log(
                    F.col("d_pair").cast("double")
                    * F.col("n_docs")
                    / (F.col("d1").cast("double") * F.col("d2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("d_pair"), "w1", "w2")
        .limit(PMI_TOP_K)
    )


PMI_WINDOW_K = 4  # co-occurrence window: tokens within +-4 positions


def windowed_pair_expr(k: int = PMI_WINDOW_K) -> str:
    """Spark SQL expr: unordered token pairs co-occurring within a
    forward window of `k` positions, over a token-sequence array `ws`.

    Per-row pair count is sum_i min(k, len-1-i) <= len * k — LINEAR in
    document length, which is the whole point: the doc-level PMI's
    per-row comprehension is O(doc-vocab^2) and a 50k-distinct-word
    book would generate 1.25B structs in one task; this form caps a
    task's work at tokens*k regardless of vocabulary
    (tests/test_llm_ops.py proves the bound on a synthetic long doc).
    """
    return (
        f"flatten(transform(ws, (x, i) -> "
        f"transform(filter(slice(ws, i + 2, {k}), y -> y <> x), "
        f"y -> struct(least(x, y) AS w1, greatest(x, y) AS w2))))"
    )


@register(
    "text_pmi_windowed",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
            FROM (SELECT doc_id, {DUCK_TOKENS_LIST} AS ws FROM documents)
        ),
        pairs AS (
            SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2,
                   CAST(COUNT(*) AS BIGINT) AS d_pair
            FROM t a JOIN t b
              ON a.doc_id = b.doc_id AND b.i > a.i
             AND b.i <= a.i + {PMI_WINDOW_K} AND a.w <> b.w
            GROUP BY 1, 2
        ),
        uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY w),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni),
        ptot AS (SELECT CAST(SUM(d_pair) AS BIGINT) AS n_pairs FROM pairs)
        SELECT w1, w2, d_pair,
               round(ln(CAST(d_pair AS DOUBLE) * n_tokens * n_tokens
                        / (CAST(n_pairs AS DOUBLE) * c1.c * c2.c)), 6) AS pmi
        FROM pairs, tot, ptot
        JOIN uni c1 ON c1.w = w1
        JOIN uni c2 ON c2.w = w2
        ORDER BY d_pair DESC, w1, w2 LIMIT {PMI_TOP_K}
    """,
    tier="llm",
    doc=f"Windowed collocation mining — the PRODUCTION form of PMI pair "
    f"mining: tokens co-occurring within +-{PMI_WINDOW_K} positions, "
    "occurrence-probability PMI over unigram/pair counts. Pair "
    "generation is a per-row array comprehension bounded by "
    f"tokens*{PMI_WINDOW_K} (linear in doc length — a 50k-distinct-"
    "word book is ~200k structs here vs 1.25B under the doc-level "
    "form), counted on a pair-key shuffle. Unigram counts ride the "
    "same token arrays; the count-side joins carry NO broadcast "
    "hint (|vocab| rows — AQE decides), only the two 1-row scalar "
    "totals are broadcast. PMI is one identical IEEE expression "
    "tree on both engines, rounded once; deterministic "
    "(d_pair, w1, w2) top-k boundary. The doc-level "
    "`text_pmi_cooccurrence` stays as the oracle-checkable contract "
    "of the statistic; this is the form you run at 100 TB.",
)
def q_text_pmi_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6 had 4 pinned tokenizing CORPUS scans; r7 round one cut that to
    # 4 artifact scans; this shape trims again: ONE explode total.
    #   pairs : a ws read and the only explode
    #   uni   : the k=1 slice of the persisted LM count table — the
    #           unigram explode+aggregation this query re-ran per call
    #           until the lm_counts artifact existed
    #   totals: n_tokens from one lightweight ws read sizing the token
    #           arrays; n_pairs = SUM(d_pair) over the CHECKPOINTED
    #           grouped pair table (r14 — safe precisely because the
    #           checkpoint materializes the group table once; the r7
    #           form this replaced re-aggregated the lazy exploded
    #           stream, which re-ran the corpus explode per consumer
    #           since exchange reuse provably does not fire across
    #           differing aggregates — plan-audited in
    #           tests/test_llm_ops.py).
    #           (n_pairs is NOT closed-form from n_norm_tokens:
    #           windowed_pair_expr drops same-word pairs — `w1 <> w2` —
    #           so the pair count is data-dependent.)
    ws = (
        tokenized_docs(spark, sf_dir)
        .select("ws")
        .filter(F.size("ws") > 0)
    )
    # The grouped pair table is materialized ONCE (r14) and feeds both
    # the PMI join and the n_pairs total: every exploded pair row lands
    # in exactly one (w1, w2) group, so SUM(d_pair) over the grouped
    # table IS the pair total — the same exact BIGINT the old per-row
    # size(windowed_pair_expr()) sum produced — and the checkpoint
    # guarantees the corpus-sized explode runs once (AQE stage reuse
    # does NOT fire across these consumers — verified in the executed
    # plan: without the checkpoint the explode subtree executes per
    # consumer, exactly the below-the-exchange hazard the note above
    # records). One corpus pass building pair arrays instead of two;
    # the materialized frame is the aggregated pair-count table, the
    # same bytes the shuffle already carried. n_tokens keeps its own
    # lightweight ws pass — sizing token arrays, never building pairs.
    from ..checkpoints import rotating_local_checkpoint

    pairs = rotating_local_checkpoint(
        ws.select(F.explode(F.expr(windowed_pair_expr())).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("d_pair")),
        "textstats.pmi_windowed.pairs",
    )
    uni = lm_slice(spark, sf_dir, 1).select(F.col("g").alias("w"), "c")
    totals = ws.agg(F.sum(F.size("ws")).alias("n_tokens")).crossJoin(
        pairs.agg(F.sum("d_pair").alias("n_pairs"))
    )
    c1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        pairs.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "d_pair",
            F.round(
                F.log(
                    F.col("d_pair").cast("double")
                    * F.col("n_tokens")
                    * F.col("n_tokens")
                    / (
                        F.col("n_pairs").cast("double")
                        * F.col("c1")
                        * F.col("c2")
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("d_pair"), "w1", "w2")
        .limit(PMI_TOP_K)
    )


PRUNED_VOCAB_V = 500  # serving-tier model size (tiny here; ~100k real)


@register(
    "text_lm_score_pruned",
    export=False,  # pytest + sweep-verified serving-path variant
    oracle=f"""
        WITH toks AS (SELECT doc_id, {DUCK_TOKENS_LIST} AS t FROM documents),
        vocab AS (
            SELECT g AS w, c AS cw FROM (
                SELECT g, c FROM (
                    SELECT g, CAST(COUNT(*) AS BIGINT) AS c
                    FROM (SELECT unnest(t) AS g FROM toks) GROUP BY g)
                ORDER BY c DESC, g LIMIT {PRUNED_VOCAB_V})),
        bgc AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS cg
            FROM (SELECT unnest({_duck_k_grams('t', 2)}) AS g FROM toks)
            GROUP BY g),
        model_bg AS (
            SELECT bgc.g, bgc.cg FROM bgc
            JOIN vocab v1 ON string_split(bgc.g, ' ')[1] = v1.w
            JOIN vocab v2 ON string_split(bgc.g, ' ')[2] = v2.w),
        bg AS (SELECT doc_id, g, string_split(g, ' ')[1] AS w1,
                      string_split(g, ' ')[2] AS w2
               FROM (SELECT doc_id, unnest({_duck_k_grams('t', 2)}) AS g FROM toks))
        SELECT bg.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_scored,
               ROUND(CAST(SUM(CAST(
                   ln(CAST(COALESCE(mb.cg, 0) + 1 AS DOUBLE)
                      / CAST(v1.cw + {PRUNED_VOCAB_V} AS DOUBLE))
                   AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS avg_logp
        FROM bg
        JOIN vocab v1 ON bg.w1 = v1.w
        JOIN vocab v2 ON bg.w2 = v2.w
        LEFT JOIN model_bg mb ON bg.g = mb.g
        GROUP BY bg.doc_id
    """,
    tier="llm",
    doc=f"The 100-TB SERVING form of text_lm_score, as code instead of a "
    "docstring claim: prune the model to the top "
    f"{PRUNED_VOCAB_V} unigrams (count-desc, word-asc — a total order, "
    "so the prune boundary is deterministic) plus the bigrams whose "
    "both words survive (at most V^2 rows, broadcastable at ANY corpus "
    "size), then score each doc's in-vocab bigrams against the "
    "BROADCAST model — out-of-vocab bigrams are skipped, unseen "
    "in-vocab pairs smooth to count 0. The scoring joins are "
    "broadcast-hash by construction (plan-asserted: no shuffle of the "
    "gram stream on the model side), which is the shape the full "
    "model's shuffle join cannot keep at 100 TB.",
)
def q_text_lm_score_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = (
        lm_slice(spark, sf_dir, 1)
        .orderBy(F.desc("c"), "g")
        .limit(PRUNED_VOCAB_V)
        .select(F.col("g").alias("w"), F.col("c").alias("cw"))
    )
    split1 = F.split("g", " ")[0]
    split2 = F.split("g", " ")[1]
    v1 = vocab.select(F.col("w").alias("mw1"))
    v2 = vocab.select(F.col("w").alias("mw2"))
    model_bg = (
        lm_slice(spark, sf_dir, 2)
        .select("g", F.col("c").alias("cg"), split1.alias("bw1"), split2.alias("bw2"))
        .join(F.broadcast(v1), F.col("bw1") == F.col("mw1"))
        .join(F.broadcast(v2), F.col("bw2") == F.col("mw2"))
        .select("g", "cg")
    )
    bg = _gram_occurrences(spark, sf_dir, 2).select(
        "doc_id", "g", split1.alias("w1"), split2.alias("w2")
    )
    logp = F.expr(
        f"CAST(ln(CAST(coalesce(cg, 0) + 1 AS DOUBLE) / CAST(cw + {PRUNED_VOCAB_V} AS DOUBLE)) AS DECIMAL(28,12))"
    )
    return (
        bg.join(F.broadcast(vocab.withColumnRenamed("w", "w1")), "w1")
        .join(
            F.broadcast(
                vocab.select(F.col("w").alias("w2")).select("w2")
            ),
            "w2",
        )
        .join(F.broadcast(model_bg), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.round(F.sum(logp).cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_logp"
            ),
        )
    )
