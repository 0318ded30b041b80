"""Deduplication operators — the LLM-training-pipeline tier (EXT).

The reference's data model (documents -> normalized tokens ->
per-doc aggregates, SURVEY.md §1) is exactly the substrate corpus
dedup needs; these operators extend it with the classic family:

- exact dedup: content-hash groupBy (md5)
- near-dedup, exact:  word-shingle Jaccard via shingle equi-join
- near-dedup, sketch: MinHash signatures + LSH banding
- near-dedup, sketch: SimHash (32-bit) + Hamming distance
- near-dedup, dense:  embedding cosine similarity pairs

Scale posture (100 TB): the MinHash/SimHash signatures are computed
entirely in array expressions per row — zero shuffle until the LSH
band join, whose key cardinality (band_idx, band_hash) is high and
uniform, so the join is a well-distributed shuffle of doc_id pairs,
not an n^2 comparison. The exact-Jaccard and cosine pair operators are
the verification/baseline path and are quadratic by design; at scale
they run only on LSH candidate pairs.

Determinism: all hashes derive from md5 (identical in Spark and
DuckDB); permutations use integer modular arithmetic below 2^63 so
both engines compute identical signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.text import duckdb_tokens_sql
from ..plans.registry import register
from ..sources.artifacts import session_artifact_path
from ..sources.tables import load_table
from .tokens import (
    CorpusArtifact,
    _null_fill,
    build_tokenized_docs,
    corpus_artifact,
    gram_expr,
    gram_rows,
    token_rows,
    tokenized_docs,
    write_parquet,
)

# ---- shared deterministic constants (inlined into BOTH engines) -----------

P = 2_147_483_647  # 2^31 - 1; keeps a*h+b below 2^62
K_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = K_MINHASH // N_BANDS
PERMS = [
    ((1103515245 * (i + 1) + 12345) % P, (2654435761 * i + 1) % P)
    for i in range(K_MINHASH)
]
SHINGLE_K = 3  # word shingles
JACCARD_THRESHOLD = 0.3
SIMHASH_BITS = 32
HAMMING_MAX = 3
COSINE_THRESHOLD = 0.95

# Random-hyperplane LSH for embeddings (shared with operators/similarity.py):
# deterministic integer hyperplanes inlined into both engines so Spark and
# DuckDB assign identical buckets.
EMB_DIM = 64
N_PLANES = 8  # -> 256 buckets
HYPERPLANES = [
    [((j * 31 + d * 17) % 13) - 6 for d in range(EMB_DIM)] for j in range(N_PLANES)
]


def _spark_arr(v: list[int]) -> str:
    return "array(" + ", ".join(f"{x}.0d" for x in v) + ")"


def _duck_arr(v: list[int]) -> str:
    return "[" + ", ".join(f"{x}.0" for x in v) + "]::DOUBLE[]"


def spark_lsh_bucket(vec: str) -> str:
    """8-bit bucket id: bit j = sign(dot(vec, plane_j))."""
    terms = [
        f"(case when {SPARK_DOT.format(a=vec, b=_spark_arr(p))} > 0 then {1 << j}L else 0L end)"
        for j, p in enumerate(HYPERPLANES)
    ]
    return " + ".join(terms)


def duck_lsh_bucket(vec: str) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({vec}, {_duck_arr(p)}) > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(HYPERPLANES)
    ]
    return " + ".join(terms)


# ---- shared expression builders -------------------------------------------
# Spark-side SQL expressions (strings, used via F.expr) and DuckDB-side SQL
# are generated from the same constants so the two engines cannot drift.


def spark_tokens_expr(text: str = "text") -> str:
    """Spark SQL expr: normalized token array (same rules as functions.text)."""
    return (
        f"filter(transform(split(lower({text}), '[ \\n]', -1), "
        "t -> regexp_replace(t, '[^a-z]', '')), t -> t != '')"
    )


def shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s): DISTINCT word {SHINGLE_K}-shingles, one row each,
    served from the session tokens artifact (operators/tokens.py).

    Physical shape since round 7: a per-row array comprehension over
    the MATERIALIZED token array (slice + concat_ws + array_distinct),
    then one explode — no tokenization, no doc_id exchange, no
    whole-partition sort, and the former global `.distinct()` shuffle
    is now a per-doc array_distinct inside the row. (The round-2
    posexplode + lead()-window shape this replaces was the right call
    when tokens were an unevaluated expression: array HOFs over that
    would have inlined the tokenizer into every element access,
    O(tokens^2) per doc, ~8x slower measured at sf0.1. A stored array
    column has no such trap — element access is plain memory access.)
    """

    return gram_rows(spark, sf_dir, SHINGLE_K, distinct=True, out_col="s")


def duck_k_grams(tokens: str, k: int) -> str:
    """DuckDB list of in-order word k-grams of `tokens` (short-list
    guarded) — the single source for every oracle's gram construction
    (shingles, passage grams, textstats' bigrams/trigrams)."""
    parts = " || ' ' || ".join(f"{tokens}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len({tokens}) >= {k} THEN "
        f"list_transform(range(1, len({tokens}) - {k - 2}), i -> {parts}) "
        f"ELSE [] END"
    )


def duck_shingles(tokens: str) -> str:
    return duck_k_grams(tokens, SHINGLE_K)


def spark_hash(expr: str) -> str:
    """String -> bigint in [0, P): low 60 bits of md5, mod P."""
    return f"(cast(conv(substr(md5({expr}), 1, 15), 16, 10) as bigint) % {P})"


def duck_hash(expr: str) -> str:
    return f"(CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT) % {P})"


def duck_minhash_sig(hashes: str) -> list[str]:
    return [
        f"list_min(list_transform({hashes}, h -> ({a} * h + {b}) % {P}))"
        for a, b in PERMS
    ]


DUCK_TOKENS_LIST = (
    "list_filter(list_transform(string_split(lower(replace(text, chr(10), ' ')), ' '), "
    "t -> regexp_replace(t, '[^a-z]', '', 'g')), t -> t <> '')"
)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

# The fixtures have no exact duplicates at small sf, so the exact-dedup
# queries run over a dup-injected corpus built inside the query: the
# documents table unioned with a shifted copy of itself. Deterministic
# and identically expressed on both sides.
DUP_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents "
    "WHERE doc_id % 3 = 0"
)


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return docs.unionAll(copies)


@register(
    "dedup_exact",
    oracle=f"""
        SELECT md5(text) AS content_hash,
               CAST(MIN(doc_id) AS BIGINT) AS keep_doc,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM ({DUP_CORPUS_SQL})
        GROUP BY md5(text) HAVING COUNT(*) > 1
    """,
    tier="llm",
    doc="Exact dedup by content hash: groupBy(md5(text)), keep the lowest "
    "doc_id per group. One shuffle on a uniform 128-bit key — no skew.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return (
        corpus.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@register(
    "dedup_exact_kept",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_in,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_kept
        FROM ({DUP_CORPUS_SQL})
    """,
    tier="llm",
    doc="Dedup summary: corpus size before/after exact dedup.",
)
def q_dedup_exact_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return corpus.agg(
        F.count(F.lit(1)).alias("n_in"),
        F.countDistinct(F.md5("text")).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dedup
# ---------------------------------------------------------------------------


DUCK_SHINGLE_SETS = f"""
    SELECT doc_id, shingles, len(shingles) AS n_sh FROM (
        SELECT doc_id, list_distinct({duck_shingles('toks')}) AS shingles
        FROM (SELECT doc_id, {DUCK_TOKENS_LIST} AS toks FROM documents)
    ) WHERE len(shingles) > 0
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH s AS ({DUCK_SHINGLE_SETS}),
        e AS (SELECT doc_id, n_sh, unnest(shingles) AS sh FROM s),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS inter,
                   any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
            FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b,
               CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
        FROM pairs WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
    """,
    tier="llm",
    doc=f"Exact {SHINGLE_K}-word-shingle Jaccard near-dup pairs (>= "
    f"{JACCARD_THRESHOLD}) via shingle equi-join — the ground-truth "
    "baseline LSH recall is judged against. Quadratic in per-shingle "
    "doc frequency; at scale run it only on LSH candidates.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = shingle_rows(spark, sf_dir)
    # per-doc set size via an unordered window over the existing doc_id
    # clustering — no extra shuffle, no join back
    e = rows.select(
        "doc_id",
        F.col("s").alias("sh"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_sh"),
    )
    a = e.alias("a")
    b = e.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.any_value(F.col("a.n_sh")).alias("na"),
            F.any_value(F.col("b.n_sh")).alias("nb"),
        )
    )
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return pairs.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig array<bigint>[K_MINHASH]) of the corpus, computed
    directly (`session_signatures` serves the persisted artifact)."""
    return signatures_from_shingles(shingle_rows(spark, sf_dir))


def shingles_from_tokens(tokenized: DataFrame) -> DataFrame:
    """(doc_id, s): distinct word shingles of a `build_tokenized_docs`
    frame — `shingle_rows` over any tokenized frame."""
    return tokenized.select(
        "doc_id", F.explode(F.expr(gram_expr(SHINGLE_K, True))).alias("s")
    )


def signatures_from_shingles(shingles: DataFrame) -> DataFrame:
    """(doc_id, sig array<bigint>[K_MINHASH]) of a (doc_id, s) frame.

    Physical shape: explode distinct shingles, hash each ONCE (md5 is the
    expensive part), then one hash-aggregate computing all K permutation
    minima as plain agg columns — everything stays in whole-stage codegen.
    (The pure array-expression formulation is semantically identical but
    Catalyst's projection collapse inlines the hash array into every
    permutation lambda, recomputing md5 K times in interpreted HOFs —
    ~20x slower, measured.) Shuffle volume: docs x K longs, minimal.
    """
    exploded = shingles.withColumn("h", F.expr(spark_hash("s")))
    mins = [
        F.min(F.expr(f"({a}L * h + {b}L) % {P}")).alias(f"m{i}")
        for i, (a, b) in enumerate(PERMS)
    ]
    grouped = exploded.groupBy("doc_id").agg(*mins)
    return grouped.select(
        "doc_id", F.array(*[f"m{i}" for i in range(K_MINHASH)]).alias("sig")
    )


# A signature row is keyed by its doc_id, so a corpus delta appends
# exactly the delta docs' signatures (tokenize + shingle + hash over the
# delta only).
SIGNATURES = CorpusArtifact(
    "session_minhash_sigs",
    lambda tokenized: signatures_from_shingles(shingles_from_tokens(tokenized)),
    write_parquet,
)


def session_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig): the MinHash signature table as a session artifact —
    built ONCE per (Spark application, corpus content) through the
    corpus-artifact lifecycle (tokens.corpus_artifact), then served as
    a cached parquet read to every dedup consumer (lsh_pairs, clusters,
    estimate, recall_eval). Before this, each consumer re-ran the
    shingle+hash+min pipeline — and a consumer referencing the
    signatures from several subtrees (dedup_minhash_estimate:
    candidates + both join sides) re-ran it once PER SUBTREE, since
    exchange reuse does not fire across differently-pruned sides. At
    100 TB the signature pass is a full-corpus job; every dedup run
    after the first should read docs x K longs instead. The flagship
    `dedup_minhash_signatures` query keeps the direct pipeline — it
    exists to measure the build."""
    return corpus_artifact(spark, sf_dir, SIGNATURES)


DUCK_MINHASH_SIG = f"""
    SELECT doc_id, [{', '.join(duck_minhash_sig('h'))}] AS sig FROM (
        SELECT doc_id,
               list_transform(list_distinct({duck_shingles('toks')}), s -> {duck_hash('s')}) AS h
        FROM (SELECT doc_id, {DUCK_TOKENS_LIST} AS toks FROM documents)
    ) WHERE len(h) > 0
"""


@register(
    "dedup_minhash_signatures",
    oracle=(
        "SELECT doc_id, array_to_string(list_transform(sig, x -> CAST(x AS VARCHAR)), ',') AS sig "
        f"FROM ({DUCK_MINHASH_SIG}) WHERE doc_id < 100"
    ),
    tier="llm",
    doc=f"MinHash signatures ({K_MINHASH} permutations over {SHINGLE_K}-word "
    "shingles), serialized to one comma-joined string per doc (the driver "
    "canonicalizer can't sort array cells) and verified element-wise "
    "against the oracle.",
)
def q_dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_signatures(spark, sf_dir).filter(F.col("doc_id") < 100)
    return sig.select(
        "doc_id",
        F.concat_ws(",", F.transform("sig", lambda x: x.cast("string"))).alias("sig"),
    )


def _band_exprs(sig_col: str, engine: str) -> str:
    """Explode a signature into N_BANDS (band_idx, band_hash) rows."""
    bands = []
    for b in range(N_BANDS):
        cols = ", ".join(
            f"{'element_at' if engine == 'spark' else 'list_extract'}({sig_col}, {b * ROWS_PER_BAND + r + 1})"
            for r in range(ROWS_PER_BAND)
        )
        bands.append((b, f"md5(concat_ws(',', {cols}))"))
    return bands


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
        WITH sig AS ({DUCK_MINHASH_SIG}),
        bands AS (
            {' UNION ALL '.join(
                f"SELECT doc_id, {b} AS band_idx, {h} AS band_hash FROM sig"
                for b, h in _band_exprs('sig', 'duck')
            )})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """,
    tier="llm",
    doc=f"LSH candidate pairs: {N_BANDS} bands x {ROWS_PER_BAND} rows; docs "
    "agreeing on any full band collide. The band join is the only "
    "shuffle — key space is (band_idx, 128-bit hash), uniform at any scale.",
)
def q_dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(session_signatures(spark, sf_dir))


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    # One pass over the signatures: posexplode an array of band hashes
    # (a per-band union would recompute the whole signature lineage once
    # per band), then GROUP the bucket rows and expand i<j pairs inside
    # each bucket. A self-join formulation is semantically identical but
    # executes the signature pipeline twice (no exchange reuse across
    # differently-pruned sides — measured 2x cost); the group-by needs it
    # once and shuffles only (band, hash, doc_id) triples. Bucket pair
    # expansion is quadratic per bucket by nature of LSH candidate
    # generation — at scale a pathological bucket (thousands of mutual
    # near-dups) is capped upstream by signature distinctness, and the
    # groupBy key space (band_idx x 128-bit hash) stays uniform.
    band_hashes = F.array(*[F.expr(h) for _, h in _band_exprs("sig", "spark")])
    bands = sig.select(
        "doc_id", F.posexplode(band_hashes).alias("band_idx", "band_hash")
    )
    buckets = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_duck_expr() -> str:
    """DuckDB: 32-bit SimHash from the token-hash list (repeats weigh)."""
    bit = "CASE WHEN list_sum(list_transform(h, x -> ((x >> {j}) & 1) * 2 - 1)) > 0 THEN {v} ELSE 0 END"
    return " + ".join(bit.format(j=j, v=1 << j) for j in range(SIMHASH_BITS))


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): weighted per-bit votes as SIMHASH_BITS plain agg
    columns over exploded token hashes — whole-stage codegen end to end,
    one doc_id shuffle (vs interpreted array lambdas: ~5x slower).
    Token occurrences come from the session tokens artifact (repeats
    weigh, so this is the non-distinct explode), not a corpus re-scan."""

    e = token_rows(spark, sf_dir, out_col="t").withColumn(
        "h", F.expr(spark_hash("t"))
    )
    votes = [
        F.sum(F.expr(f"(shiftright(h, {j}) & 1) * 2 - 1")).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    combined = " + ".join(
        f"case when s{j} > 0 then {1 << j}L else 0L end" for j in range(SIMHASH_BITS)
    )
    return (
        e.groupBy("doc_id")
        .agg(*votes)
        .select("doc_id", F.expr(combined).alias("simhash"))
    )


DUCK_SIMHASH = f"""
    SELECT doc_id, {_simhash_duck_expr()} AS simhash FROM (
        SELECT doc_id, list_transform({DUCK_TOKENS_LIST}, t -> {duck_hash('t')}) AS h
        FROM documents
    ) WHERE len(h) > 0
"""


@register(
    "dedup_simhash",
    oracle=f"SELECT doc_id, simhash FROM ({DUCK_SIMHASH})",
    tier="llm",
    doc=f"{SIMHASH_BITS}-bit SimHash per document from weighted token-hash "
    "bits — computed per-row in array expressions, zero shuffle.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_docs(spark, sf_dir)


N_SIMHASH_BLOCKS = HAMMING_MAX + 1  # pigeonhole: <=3 flipped bits can't touch all 4 blocks
SIMHASH_BLOCK_BITS = SIMHASH_BITS // N_SIMHASH_BLOCKS


@register(
    "dedup_simhash_pairs",
    # Oracle stays the (quadratic) ground-truth formulation over the FULL
    # fixture: equality proves the blocked search has perfect recall.
    oracle=f"""
        WITH s AS ({DUCK_SIMHASH})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
    tier="llm",
    doc=f"SimHash near-dup pairs (Hamming <= {HAMMING_MAX}) via pigeonhole "
    f"blocking: the {SIMHASH_BITS}-bit hash splits into "
    f"{N_SIMHASH_BLOCKS} blocks of {SIMHASH_BLOCK_BITS} bits, and any "
    f"pair within Hamming {HAMMING_MAX} must agree EXACTLY on at least "
    "one block — candidates come from an equi SELF-JOIN on (block_idx, "
    "block_value), then an exact bit_count verify. An equi join (not a "
    "bucket collect_list) because block values are only 8-bit: a hot "
    "block at corpus scale must be split across tasks by AQE skew "
    "handling, not collected into one row's array. The signature frame "
    "is localCheckpointed so both join sides reuse one computation.",
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..checkpoints import rotating_local_checkpoint

    s = rotating_local_checkpoint(
        simhash_docs(spark, sf_dir), "dedup.simhash.signatures"
    )
    block_vals = F.array(
        *[
            F.expr(
                f"shiftright(simhash, {b * SIMHASH_BLOCK_BITS}) & {(1 << SIMHASH_BLOCK_BITS) - 1}"
            )
            for b in range(N_SIMHASH_BLOCKS)
        ]
    )
    blocks = s.select(
        "doc_id", "simhash", F.posexplode(block_vals).alias("block_idx", "block_val")
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("long")
    return (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()  # a pair may agree on several blocks
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

SPARK_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)"


def spark_cosine(a: str, b: str) -> str:
    return (
        f"{SPARK_DOT.format(a=a, b=b)} / "
        f"(sqrt({SPARK_DOT.format(a=a, b=a)}) * sqrt({SPARK_DOT.format(a=b, b=b)}))"
    )


def duck_cosine(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


@register(
    "dedup_embedding_pairs",
    # Both engines restrict to same-LSH-bucket pairs with an identical
    # deterministic bucket function, so the oracle hash-matches exactly;
    # bucketed-vs-exhaustive recall is measured separately in
    # tests/test_dedup.py on a bounded slice.
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v, {duck_lsh_bucket('v')} AS bucket FROM e)
        SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
               {duck_cosine('a.v', 'b2.v')} AS cosine
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        WHERE {duck_cosine('a.v', 'b2.v')} >= {COSINE_THRESHOLD}
    """,
    tier="llm",
    doc=f"Embedding near-dup pairs (cosine >= {COSINE_THRESHOLD}) — dense "
    "complement to MinHash, run at FULL fixture scale: candidates come "
    f"from the {2**N_PLANES}-bucket random-hyperplane LSH via an equi "
    "SELF-JOIN on the bucket key (no unbounded theta join; a hot bucket "
    "is AQE-skew-splittable rather than collected into one row), then "
    "the exact left-to-right fold cosine verifies each candidate. At "
    "100 TB the bucket column is also the storage partition key, so the "
    "join is partition-local.",
)
def q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucketed = e.withColumn("bucket", F.expr(spark_lsh_bucket("v")))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.expr(spark_cosine("a.v", "b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over the near-dup pair graph
# ---------------------------------------------------------------------------


# The CTE body (everything up to the final labelling SELECT), reusable
# by composition oracles (operators/curation.py joins quality onto the
# cluster labels).
DUCK_CLUSTERS_CTES = f"""
    WITH RECURSIVE
    sig AS ({DUCK_MINHASH_SIG}),
    bands AS (
        {' UNION ALL '.join(
            f"SELECT doc_id, {b} AS band_idx, {h} AS band_hash FROM sig"
            for b, h in _band_exprs('sig', 'duck')
        )}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id),
    s AS ({DUCK_SHINGLE_SETS}),
    pairs AS (
        SELECT doc_a, doc_b FROM cand
        JOIN s sa ON sa.doc_id = cand.doc_a
        JOIN s sb ON sb.doc_id = cand.doc_b
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / (sa.n_sh + sb.n_sh - len(list_intersect(sa.shingles, sb.shingles)))
              >= {JACCARD_THRESHOLD}),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON e2.dst = r.node)
"""

DUCK_CLUSTERS_ORACLE = f"""{DUCK_CLUSTERS_CTES}
    SELECT node AS doc_id, CAST(MIN(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
"""


def shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh array<string>, n_sh): each doc's DISTINCT shingle
    set as a per-row reshape of the tokens artifact — array comprehension
    + array_distinct, zero Exchange, zero Generate. Replaces the
    explode + groupBy(doc_id).collect_set shape, which shuffled every
    doc's full shingle set just to reassemble rows that already existed."""

    sets = tokenized_docs(spark, sf_dir).select(
        "doc_id", F.expr(f"array_distinct({gram_expr(SHINGLE_K)})").alias("sh")
    )
    # Deliberately NOT checkpointed, although consumers evaluate this
    # twice (both pair sides of the verify join): measured r15, the
    # interleaved A/B of a materialized sets frame LOST (0.99 -> 1.10 s
    # edge build) — the shingle arrays are several times the source
    # bytes, so storing + re-reading them costs more than the second
    # pipelined CPU pass, at this and any scale.
    return sets.select(
        "doc_id", "sh", F.size("sh").cast("long").alias("n_sh")
    ).filter(F.col("n_sh") > 0)


def _verified_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (src, dst) edges of the verified near-dup graph:
    MinHash-LSH candidates filtered by exact Jaccard on just those
    candidates. localCheckpointed so iterative CC reuses it per round
    instead of re-mining. Candidates come from the signature artifact;
    verify sets are a map-only reshape of the tokens artifact."""
    cand = q_dedup_minhash_lsh_pairs(spark, sf_dir)
    sets = shingle_sets(spark, sf_dir)
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"), F.col("n_sh").alias("na"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"), F.col("n_sh").alias("nb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    pairs = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(inter.cast("double") / (F.col("na") + F.col("nb") - inter) >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    # Symmetrize via explode, not union-of-swapped-projection: the
    # union form re-executed the candidate+verify join once per branch
    # (the most expensive subtree in the query, twice); explode emits
    # both directions from ONE evaluation — identical edge multiset
    # (r15; the triangles-tn discipline).
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                ),
                F.struct(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return edges.localCheckpoint(eager=True)  # pair mining runs once, not per round


@register(
    "dedup_clusters",
    oracle=DUCK_CLUSTERS_ORACLE,
    tier="llm",
    doc=f"Duplicate clusters — the full production near-dedup pipeline "
    "composed end-to-end: MinHash-LSH candidate pairs, exact-Jaccard "
    f"verification (>= {JACCARD_THRESHOLD}) on just those candidates "
    "(array_intersect of per-doc shingle sets, never the quadratic "
    "all-pairs shingle join), then connected components labelling every "
    "clustered doc with its component's min doc_id — the keep-one-per-"
    "cluster decision. Spark side is iterative min-label propagation "
    "(converges in graph-diameter rounds; localCheckpoint per round "
    "keeps lineage flat); the oracle is a DuckDB recursive CTE over the "
    "identical edge set. Scale: verification cost is O(candidates), "
    "and dup components are tiny and shallow, so diameter-bound "
    "propagation beats the O(log n) large-star/small-star alternative "
    "in practice; for adversarially deep chains the registered "
    "dedup_clusters_star variant converges in O(log n) rounds.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..checkpoints import release_local_checkpoint

    edges = _verified_dup_edges(spark, sf_dir)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_ckpt = labels  # released once the next round is materialized
    max_rounds, converged = 50, False
    for _ in range(max_rounds):
        neigh = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("lab").alias("nlab"))
        )
        # carry the previous label through the propagation select so the
        # convergence test is a filter over the checkpointed rows (no
        # recompute, no extra join job per round)
        new = (
            labels.alias("l")
            .join(neigh.alias("n"), F.col("l.node") == F.col("n.src"), "left")
            .select(
                F.col("l.node").alias("node"),
                F.least(F.col("l.lab"), F.coalesce(F.col("n.nlab"), F.col("l.lab"))).alias("lab"),
                F.col("l.lab").alias("old"),
            )
            .localCheckpoint(eager=False)
        )
        # ONE job per round (r14; was two — an eager-checkpoint
        # materialization plus a limit(1) probe): the full count over
        # the changed-rows filter computes EVERY partition, which
        # materializes the lazy checkpoint as a side effect, and its
        # result IS the convergence test (count==0 <=> no row passed
        # the limit(1) probe). Same rounds, same labels.
        converged = new.filter(F.col("lab") != F.col("old")).count() == 0
        # `new` is materialized by the count above; the previous round's
        # checkpoint is no longer reachable from it (lineage truncated),
        # so its blocks can be released now — bounded per-call storage
        # instead of one pinned copy per round (r15, guide §5).
        release_local_checkpoint(prev_ckpt)
        prev_ckpt = new
        labels = new.select("node", "lab")
        if converged:
            break
    if not converged:
        # An unconverged result would silently mislabel any component with
        # diameter > max_rounds; fail loudly instead.
        raise RuntimeError(
            f"dedup_clusters: min-label propagation did not converge in "
            f"{max_rounds} rounds (component diameter too large — switch "
            "to the large-star/small-star variant)"
        )
    # the returned labels read only the final round's materialized
    # checkpoint; the verified-edge checkpoint is unreachable from it
    release_local_checkpoint(edges)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lab").alias("cluster_id")
    )


def connected_components_star(edges: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): O(log n) rounds regardless of component diameter, vs the
    diameter-bound rounds of min-label propagation.

    large-star: every node u links each STRICTLY LARGER neighbor to the
    minimum of its closed neighborhood; small-star: u links its smaller-
    or-equal neighbors (and itself) to that minimum. Each phase is one
    groupBy(u) + join — the same shuffle shape as a round of min-label —
    but the tree contracts geometrically, so adversarially deep dup
    chains (diameter >> log n) converge where min-label would exhaust
    its round budget.

    `edges` is the symmetric (src, dst) edge list; returns
    (doc_id, cluster_id = component min).
    """
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    # Undirected canonical edge set (u > v ordering), self-loops dropped.
    e = (
        edges.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def star(e: DataFrame, large: bool) -> DataFrame:
        # both directions from one evaluation of e (the inner star's
        # whole subtree when phases chain) — same multiset as the old
        # union-of-swapped-projection, evaluated once (r15)
        n = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("p")
        ).select("p.u", "p.v")
        m = (
            n.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        if large:
            linked = n.filter(F.col("v") > F.col("u")).join(m, "u").select("v", "m")
        else:
            linked = (
                n.filter(F.col("v") <= F.col("u"))
                .join(m, "u")
                .select("v", "m")
                .union(m.select(F.col("u").alias("v"), "m"))
            )
        return (
            linked.select(
                F.greatest("v", "m").alias("u"), F.least("v", "m").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    from ..checkpoints import release_local_checkpoint

    converged = False
    for _ in range(max_rounds):
        new = star(star(e, large=True), large=False).localCheckpoint(eager=True)
        changed = (
            new.exceptAll(e).limit(1).count() + e.exceptAll(new).limit(1).count()
        ) > 0
        # the convergence probe above was the last reader of the previous
        # round's edge set; release its blocks (r15, bounded per-call
        # storage — the returned labels only reference the FINAL e)
        release_local_checkpoint(e)
        e = new
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} rounds"
        )
    # Fixed point is a forest of stars: every edge is (child u, root v).
    labels = (
        nodes.join(e, nodes.node == e.u, "left")
        .groupBy("node")
        .agg(F.min("v").alias("mv"))
        .select("node", F.least("mv", F.col("node")).alias("lab"))
    )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lab").alias("cluster_id")
    )


@register(
    "dedup_clusters_star",
    export=False,  # pytest-verified variant; kept out of the external window
    oracle=DUCK_CLUSTERS_ORACLE,
    tier="llm",
    doc="dedup_clusters with large-star/small-star connected components "
    "instead of min-label propagation: same verified-pair edge set, same "
    "oracle, O(log n) rounds independent of component diameter — the "
    "variant to reach for when dup chains are adversarially deep.",
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return connected_components_star(_verified_dup_edges(spark, sf_dir))


@register(
    "dedup_minhash_estimate",
    export=False,  # pytest-verified variant; kept out of the external window
    oracle=f"""
        WITH sig AS ({DUCK_MINHASH_SIG}),
        bands AS (
            {' UNION ALL '.join(
                f"SELECT doc_id, {b} AS band_idx, {h} AS band_hash FROM sig"
                for b, h in _band_exprs('sig', 'duck')
            )}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id),
        sets AS ({DUCK_SHINGLE_SETS})
        SELECT doc_a, doc_b,
               ROUND(CAST(len(list_filter(range(1, {K_MINHASH} + 1),
                          i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {K_MINHASH}, 6)
                 AS est_jaccard,
               ROUND(CAST(len(list_intersect(xa.shingles, xb.shingles)) AS DOUBLE)
                     / (xa.n_sh + xb.n_sh - len(list_intersect(xa.shingles, xb.shingles))), 6)
                 AS exact_jaccard
        FROM cand
        JOIN sig sa ON sa.doc_id = cand.doc_a
        JOIN sig sb ON sb.doc_id = cand.doc_b
        JOIN sets xa ON xa.doc_id = cand.doc_a
        JOIN sets xb ON xb.doc_id = cand.doc_b
    """,
    tier="llm",
    doc=f"Sketch-accuracy evaluation: for every LSH candidate pair, the "
    f"MinHash Jaccard estimate (matching positions / {K_MINHASH}) next "
    "to the exact shingle-set Jaccard — the calibration pass that tells "
    "you whether the sketch's bias/variance justifies its threshold "
    "before trusting it at scale. Estimate is per-pair arithmetic on "
    "the signatures; exact runs only on the candidate set, never "
    "all-pairs.",
)
def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = session_signatures(spark, sf_dir)
    cand = lsh_candidate_pairs(sig)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    sets = shingle_sets(spark, sf_dir)
    xa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sha"),
        F.col("n_sh").alias("na"),
    )
    xb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("shb"),
        F.col("n_sh").alias("nb"),
    )
    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda b: b)
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(xa, "doc_a")
        .join(xb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches.cast("double") / K_MINHASH, 6).alias("est_jaccard"),
            F.round(
                inter.cast("double") / (F.col("na") + F.col("nb") - inter), 6
            ).alias("exact_jaccard"),
        )
    )


@register(
    "dedup_lsh_recall_eval",
    oracle=f"""
        WITH s AS ({DUCK_SHINGLE_SETS}),
        e AS (SELECT doc_id, n_sh, unnest(shingles) AS sh FROM s),
        truth AS (
            SELECT doc_a, doc_b FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       CAST(COUNT(*) AS BIGINT) AS inter,
                       any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
                FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
            WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}),
        sig AS ({DUCK_MINHASH_SIG}),
        bands AS (
            {' UNION ALL '.join(
                f"SELECT doc_id, {b} AS band_idx, {h} AS band_hash FROM sig"
                for b, h in _band_exprs('sig', 'duck')
            )}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id)
        SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
               CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
               CAST((SELECT COUNT(*) FROM truth JOIN cand USING (doc_a, doc_b))
                    AS BIGINT) AS hits,
               ROUND(CAST((SELECT COUNT(*) FROM truth JOIN cand USING (doc_a, doc_b))
                     AS DOUBLE) / (SELECT COUNT(*) FROM truth), 6) AS recall
    """,
    tier="llm",
    doc=f"Dedup sketch evaluation: recall of the MinHash-LSH candidate "
    f"set against the exact shingle-Jaccard >= {JACCARD_THRESHOLD} "
    "ground truth, plus the candidate volume the banding admits — THE "
    "two numbers that size an LSH configuration (bands x rows trades "
    "recall against verify cost). Ground truth runs the quadratic "
    "baseline, so this is an offline calibration pass on a sample, "
    "never the production path.",
)
def q_dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    cand = q_dedup_minhash_lsh_pairs(spark, sf_dir)
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    hits = truth.join(cand, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("hits")
    )
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_true",
            "n_candidates",
            "hits",
            F.round(
                F.col("hits").cast("double") / F.col("n_true"), 6
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Edit-distance entity matching (blocked fuzzy join)
# ---------------------------------------------------------------------------

FUZZY_MAX_DIST = 3


@register(
    "dedup_fuzzy_names",
    oracle=f"""
        WITH p AS (SELECT DISTINCT p_name,
                          split_part(p_name, ' ', 2) AS block
                   FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        FROM p a JOIN p b
          ON a.block = b.block AND a.p_name < b.p_name
         AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    """,
    tier="llm",
    doc="Entity resolution by edit distance — the string-similarity "
    "tier the hash/sketch dedup family can't cover (typo'd names "
    "hash apart but sit 1-2 edits away): distinct part names, "
    "blocked on the noun word, pairs within a block at Levenshtein "
    f"<= {FUZZY_MAX_DIST}. Both engines implement the identical "
    "unit-cost edit-distance integer, so the oracle matches exactly. "
    "Scale shape: the quadratic comparison runs only INSIDE blocks "
    "(equi-join on the blocking key, same pattern as LSH banding); "
    "the whole-corpus cost is sum(block^2), not n^2 — with the usual "
    "caveat that a degenerate blocking key needs re-blocking (finer "
    "key or length bucketing), exactly like a hot LSH bucket.",
)
def q_dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        load_table(spark, sf_dir, "part")
        .select("p_name", F.split("p_name", " ").getItem(1).alias("block"))
        .distinct()
    )
    a = p.select(F.col("p_name").alias("name_a"), F.col("block").alias("b1"))
    b = p.select(F.col("p_name").alias("name_b"), F.col("block").alias("b2"))
    return (
        a.join(
            b,
            (F.col("b1") == F.col("b2")) & (F.col("name_a") < F.col("name_b")),
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
        .select("name_a", "name_b", "dist")
    )


# ---------------------------------------------------------------------------
# Passage-level (substring) duplication — cross-doc boilerplate
# ---------------------------------------------------------------------------

PASSAGE_K = 8  # word span long enough that sharing implies copying
PASSAGE_TOP = 100


def _duck_passage_grams(tokens: str) -> str:
    return duck_k_grams(tokens, PASSAGE_K)


DUCK_PASSAGE_GRAMS = f"""
    SELECT doc_id,
           unnest(list_distinct({_duck_passage_grams('toks')})) AS g
    FROM (SELECT doc_id, {DUCK_TOKENS_LIST} AS toks FROM documents)
"""


def _passage_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, g): per-doc DISTINCT word {PASSAGE_K}-grams, a per-row
    comprehension over the tokens artifact (tokens.gram_rows)."""

    return gram_rows(spark, sf_dir, PASSAGE_K, distinct=True, out_col="g")


@register(
    "dedup_common_passages",
    oracle=f"""
        SELECT g AS passage, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM ({DUCK_PASSAGE_GRAMS})
        GROUP BY g HAVING COUNT(*) >= 2
        ORDER BY n_docs DESC, passage
        LIMIT {PASSAGE_TOP}
    """,
    tier="llm",
    doc=f"Cross-document duplicated passages: the top {PASSAGE_TOP} word "
    f"{PASSAGE_K}-grams shared by >= 2 distinct documents, with their "
    "document frequency — SUBSTRING-level duplication (licence headers, "
    "navigation chrome, template boilerplate) that document-level "
    "near-dedup by design cannot see, and the standard pre-training "
    "sweep behind exact-substring dedup (Lee et al. 2021 found ~1% of "
    "C4 tokens in 50+-token repeated passages; cf. reference tokenize "
    "pipeline mapper.c:19-38 which has no cross-doc visibility at all). "
    "Shape: per-doc distinct grams are a per-row comprehension over the "
    "tokens artifact (no tokenization, no doc_id shuffle); the only "
    "exchange is the uniform gram-key count, map-side combined; the "
    "top-k is a deterministic total order (n_docs DESC, passage). At "
    "100 TB the gram space grows with the corpus but partial "
    "aggregation bounds shuffle volume to distinct grams per partition.",
)
def q_dedup_common_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _passage_grams(spark, sf_dir)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "g")
        .limit(PASSAGE_TOP)
        .select(F.col("g").alias("passage"), "n_docs")
    )


@register(
    "dedup_boilerplate_frac",
    oracle=f"""
        WITH g AS ({DUCK_PASSAGE_GRAMS}),
        common AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) >= 2),
        per_doc AS (
            SELECT g.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(COUNT(common.g) AS BIGINT) AS n_common
            FROM g LEFT JOIN common ON g.g = common.g
            GROUP BY g.doc_id)
        SELECT doc_id, n_grams, n_common,
               ROUND(CAST(n_common AS DOUBLE) / n_grams, 6) AS boilerplate_frac
        FROM per_doc
    """,
    tier="llm",
    doc=f"Per-document boilerplate fraction: of each doc's distinct "
    f"{PASSAGE_K}-gram passages, the share that also appears in at "
    "least one OTHER document (doc-frequency >= 2 over per-doc distinct "
    "grams) — the per-doc actionable form of dedup_common_passages, "
    "the score a pipeline thresholds to drop template-heavy pages. "
    "Shape: one gram-key count (map-side combined), one semi-join of "
    "the doc's grams against the common set on the same uniform key, "
    "one doc_id count; per-doc totals ride along. At 100 TB the common "
    "set is the broadcast candidate once pruned to the top template "
    "passages; here it flows through the shuffled equi-join.",
)
def q_dedup_boilerplate_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _passage_grams(spark, sf_dir)
    common = (
        g.groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    n_common = (
        g.join(common, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # Per-doc totals are a PER-ROW size of the distinct gram array —
    # zero exchange, zero explode (the same map-only pattern as
    # text_repetition) — not a third explode + doc_id shuffle. Docs
    # with no grams (< PASSAGE_K tokens) are excluded, matching the
    # oracle, whose per_doc CTE only sees docs with gram rows.
    totals = (
        tokenized_docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(f"size(array_distinct({gram_expr(PASSAGE_K)}))")
            .cast("long")
            .alias("n_grams"),
        )
        .filter(F.col("n_grams") > 0)
    )
    return (
        totals.join(n_common, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            F.round(
                F.coalesce("n_common", F.lit(0)).cast("double")
                / F.col("n_grams"),
                6,
            ).alias("boilerplate_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard: the production form of the quadratic baseline
# ---------------------------------------------------------------------------

# The PRODUCTION near-dup threshold (the 0.8 of Lee et al.-style
# corpus dedup), deliberately HIGHER than the 0.3 calibration
# threshold dedup_ngram_jaccard ground-truths LSH recall against:
# prefix filtering's pruning power is 1 - t of each set, so it is the
# right algorithm exactly in the high-threshold regime (t=0.3 would
# keep 70% of every set as "prefix" — measured barely-2x pruning on
# this fixture — while t=0.8 keeps 20%). Kept as an exact rational for
# the prefix-length integer arithmetic: ceil(0.8 * n) computed in
# floats can round through the representation error and silently
# SHORTEN a prefix (= lose pairs); (4n + 4) // 5 is exact for every n.
JACCARD_PREFIX_T = 0.8
_JAC_NUM, _JAC_DEN = 4, 5
assert _JAC_NUM / _JAC_DEN == JACCARD_PREFIX_T


@register(
    "dedup_jaccard_prefix_pairs",
    # The SAME quadratic ground-truth oracle as dedup_ngram_jaccard:
    # prefix filtering is LOSSLESS (a theorem, not a probability), so
    # the blocked plan must hash-match the exhaustive answer exactly.
    oracle=f"""
        WITH s AS ({DUCK_SHINGLE_SETS}),
        e AS (SELECT doc_id, n_sh, unnest(shingles) AS sh FROM s),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS inter,
                   any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
            FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b,
               CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
        FROM pairs WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_PREFIX_T}
    """,
    tier="llm",
    doc=f"EXACT {SHINGLE_K}-shingle Jaccard near-dup pairs (>= "
    f"{JACCARD_PREFIX_T}, the production dedup threshold) with "
    f"AllPairs/PPJoin-style prefix filtering "
    "(Bayardo et al., Xiao et al.) — the production upgrade of the "
    "declared-quadratic dedup_ngram_jaccard: order every doc's "
    "shingles rarest-first (global df, then shingle), keep only each "
    "doc's length-dependent PREFIX (n - ceil(t*n) + 1 entries, integer "
    "arithmetic so the 0.3 float can't shorten it), and equi-join on "
    "prefix shingles + a length-ratio filter to get candidates; exact "
    "set-intersection verify. The prefix-filter theorem makes the "
    "blocking LOSSLESS — unlike MinHash/SimHash there is no recall "
    "tradeoff, which is why the oracle is the exhaustive quadratic "
    "itself. At 100 TB candidate volume is bounded by RARE-token "
    "posting lengths (the df-ascending order concentrates prefixes on "
    "rare shingles), every join is an equi-join, and the residual hot "
    "prefix token is an AQE skew split. (The fixture's synthetic "
    "31-word vocabulary has no Zipf tail — near-uniform shingle df is "
    "the adversarial case for prefix selectivity — so local wall times "
    "understate the pruning a real corpus gets; the lossless-equality "
    "test is the point here, the scale row tracks the shingle scan.)",
)
def q_dedup_jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = shingle_rows(spark, sf_dir)  # (doc_id, s) distinct shingles
    dfreq = rows.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id")
    ranked = (
        rows.join(dfreq, "s")
        .select(
            "doc_id",
            F.col("s").alias("sh"),
            F.row_number()
            .over(w.orderBy("df", "s"))
            .alias("rk"),
            F.count(F.lit(1)).over(w).alias("n_sh"),
        )
    )
    # prefix length: n - ceil(t*n) + 1, exact integers
    plen = (
        F.col("n_sh")
        - F.floor((_JAC_NUM * F.col("n_sh") + (_JAC_DEN - 1)) / _JAC_DEN)
        + 1
    )
    prefix = ranked.filter(F.col("rk") <= plen).select(
        "doc_id", "sh", "n_sh"
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # length-ratio filter: J >= t forces t*max(na,nb) <= min(na,nb)
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                _JAC_NUM * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
                <= _JAC_DEN * F.least(F.col("a.n_sh"), F.col("b.n_sh"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sets = rows.groupBy("doc_id").agg(
        F.collect_list("s").alias("shingles"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_sh").alias("na"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_sh").alias("nb"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_PREFIX_T)
    )


# ---------------------------------------------------------------------------
# Incremental dedup over a generations store (round 10 third wave)
# ---------------------------------------------------------------------------

# The appended batch in the incremental-dedup demo: every 10th doc_id.
_INCR_DELTA_MOD, _INCR_DELTA_REM = 10, 7


def documents_incremental_store(spark: SparkSession, sf_dir: str) -> str:
    """A generations-managed documents store built once per
    (application, corpus content): 90% of the corpus becomes
    generation 1, the remaining 10% (doc_id % 10 == 7 — 'tonight's
    crawl batch') is appended as generation 2. The incremental-dedup
    query consumes the span via generation_diff, so the demo exercises
    the real store plumbing, not a filter re-derivation."""
    from ..sources.generations import publish_generation

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        is_delta = (
            F.col("doc_id") % _INCR_DELTA_MOD == F.lit(_INCR_DELTA_REM)
        )
        docs.filter(~is_delta).coalesce(4).write.parquet(path)
        publish_generation(path)
        docs.filter(is_delta).coalesce(1).write.mode("append").parquet(path)
        publish_generation(path)

    return session_artifact_path(
        spark, sf_dir, "documents_incremental_store", "documents.parquet", build
    )


def _sig_bands(sig: DataFrame) -> DataFrame:
    band_hashes = F.array(*[F.expr(h) for _, h in _band_exprs("sig", "spark")])
    return sig.select(
        "doc_id", F.posexplode(band_hashes).alias("band_idx", "band_hash")
    )


@register(
    "dedup_incremental_lsh_pairs",
    oracle=f"""
        WITH sig AS ({DUCK_MINHASH_SIG}),
        bands AS (
            {' UNION ALL '.join(
                f"SELECT doc_id, {b} AS band_idx, {h} AS band_hash FROM sig"
                for b, h in _band_exprs('sig', 'duck')
            )})
        SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
                        GREATEST(a.doc_id, b.doc_id) AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id <> b.doc_id
        WHERE (a.doc_id % {_INCR_DELTA_MOD} = {_INCR_DELTA_REM})
           OR (b.doc_id % {_INCR_DELTA_MOD} = {_INCR_DELTA_REM})
    """,
    tier="llm",
    doc="INCREMENTAL corpus dedup — the operation a 100 TB training "
    "pipeline actually runs nightly: LSH candidate pairs touching "
    "ONLY the newly appended batch (new-vs-corpus and new-vs-new), "
    "never re-pairing the settled corpus against itself. The batch "
    "is delivered by generation_diff over the managed documents "
    "store (provably exactly the appended files), its signatures are "
    "computed from the batch alone (shingle+hash work is DELTA-sized), "
    "and the only full-corpus touch is one scan of the maintained "
    "signature artifact on the probe side of the band equi-join — vs "
    "a from-scratch dedup whose band join re-shuffles the whole "
    "corpus and re-emits every old-old pair. The oracle recomputes "
    "the full band join and filters to delta-touching pairs, so the "
    "hash match proves the incremental path finds EXACTLY the pairs "
    "the batch introduced.",
)
def q_dedup_incremental_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import generation_diff

    store = documents_incremental_store(spark, sf_dir)
    batch = generation_diff(spark, store, since=1, until=2)
    delta_bands = _sig_bands(
        SIGNATURES.derive(build_tokenized_docs(_null_fill(batch)))
    )
    corpus_bands = _sig_bands(session_signatures(spark, sf_dir))
    pairs = corpus_bands.alias("a").join(
        F.broadcast(delta_bands.alias("b")),
        on=[
            F.col("a.band_idx") == F.col("b.band_idx"),
            F.col("a.band_hash") == F.col("b.band_hash"),
            F.col("a.doc_id") != F.col("b.doc_id"),
        ],
    )
    return pairs.select(
        F.least("a.doc_id", "b.doc_id").alias("doc_a"),
        F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
    ).distinct()


def docs_pipeline_demo(spark: SparkSession, sf_dir: str) -> str:
    """The chained-ETL lifecycle (sources/pipeline.py), built once per
    (application, corpus content): a source documents store publishes
    90% of the corpus, the per-doc stats destination store runs once
    (full build), the remaining 10% appends, and the pipeline runs
    again — asserted to consume ONLY the delta span. The exported
    query reads the destination; its oracle recomputes the stats from
    the raw table, so the hash match proves two incremental runs ==
    one full transform."""
    from ..sources.generations import publish_generation
    from ..sources.pipeline import run_incremental_pipeline

    def transform(df: DataFrame) -> DataFrame:
        return build_tokenized_docs(_null_fill(df)).select(
            "doc_id", "lang", "n_norm_tokens", "n_chars"
        )

    def build(path: str) -> None:
        import os as _o

        src = _o.path.join(path, "src")
        dst = _o.path.join(path, "stats")
        docs = load_table(spark, sf_dir, "documents")
        is_delta = (
            F.col("doc_id") % _INCR_DELTA_MOD == F.lit(_INCR_DELTA_REM)
        )
        docs.filter(~is_delta).coalesce(4).write.parquet(src)
        publish_generation(src)
        run_incremental_pipeline(spark, src, dst, transform)
        docs.filter(is_delta).coalesce(1).write.mode("append").parquet(src)
        publish_generation(src)
        rep = run_incremental_pipeline(spark, src, dst, transform)
        assert rep["mode"] == "append" and rep["src_from"] == 1, rep

    return session_artifact_path(
        spark, sf_dir, "docs_pipeline_demo", "documents.parquet", build
    )


@register(
    "text_incremental_pipeline",
    oracle=f"""
        SELECT doc_id, lang,
               CAST(len({DUCK_TOKENS_LIST}) AS BIGINT) AS n_norm_tokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    """,
    tier="llm",
    doc="CHAINED INCREMENTAL ETL between generations stores "
    "(sources/pipeline.py): the per-doc stats store is a transform of "
    "the documents store that advanced in two runs — a full first "
    "build, then a run that consumed ONLY the appended batch "
    "(exactly-once bookmarks recorded inside the destination's "
    "generation entries, in the same atomic manifest save that "
    "records the generation). The oracle recomputes the stats from "
    "the raw table, so the hash match proves delta-run composition == "
    "one full transform. At 100 TB this is nightly ETL that reads one "
    "night's files per stage instead of re-reading the lake — the "
    "medallion pattern on the repo's own store primitive, where the "
    "reference regenerates its derived store wholesale per run "
    "(helper_reduce.c).",
)
def q_text_incremental_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _o

    from ..sources.generations import read_generation

    root = docs_pipeline_demo(spark, sf_dir)
    return read_generation(spark, _o.path.join(root, "stats"))
