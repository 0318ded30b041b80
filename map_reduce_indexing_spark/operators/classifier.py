"""Trained linear quality classifier — the model-based filtering stage
of an LLM data pipeline (a fastText/CCNet-style "does this look like
reference text?" scorer), built Spark-first.

Labels use the standard synthetic-negative setup (positives = corpus
documents, negatives = a deterministic vowel-rotated copy of each —
see CLF_NEG_FROM below): the model learns to separate natural text
from letter-shredded text via the same per-doc statistics the
heuristic quality tier computes (EN-stopword fraction, token length,
type/token ratio, punctuation density). Swapping the label source for
any stored 0/1 column (a curated "high quality" flag, a domain tag)
changes nothing structural.

Architecture — ONE corpus pass, then an exact solve:

Squared-loss ridge regression is solved by its normal equations
    (X'X / n + lambda*I) w = X'y / n
so the trainer needs only the sufficient statistics M = X'X (d*d) and
b = X'y (d), computed as ONE map-side-combined aggregation of
exactly-summed integer-quantized terms over the session tokens
artifact (operators/tokens.py — no raw-text scan, no regex at train
time). The solve itself is an unrolled pivot-free LDL^T factorization
— O(d^3) scalar ops, free of corpus size. Contrast k-means
(similarity.train_kmeans), whose nonlinear assignment step forces one
scan per ROUND — this is the other trainer archetype, and at 100 TB
it is the difference between one pass and `iters` passes. The model is
the classic linear probability model (sklearn's RidgeClassifier solves
the same system).

Cross-engine determinism, the hard part of oracle-checked training:
every arithmetic step after the statistics is one of +,-,*,/ on
doubles — correctly-rounded IEEE ops both engines agree on bit-for-bit
(no transcendentals; LDL^T instead of Cholesky so not even sqrt). The
solve's scalar expressions are GENERATED ONCE (_solve_steps) as text
that is simultaneously valid Python and valid SQL, evaluated by the
driver via eval() and by the DuckDB oracle as chained 1-row CTEs — the
two engines literally run the same expression strings, so the trained
weights match bit-for-bit by construction. (Earlier GD drafts showed
why this discipline matters: per-round ROUND() pins diverged by an ulp
— DuckDB's multiply-based double rounding vs Python's correctly-rounded
round() — and CAST(double AS DECIMAL) tie-breaks drifted at ~1e5-cast
volume; the statistics quantization below sidesteps both.)

Serving follows the build-then-query lifecycle the reference applies
to its index artifact (client.c:39 submits the build;
helper_reduce.c:238-257 serves lookups from it): `trained_classifier`
keeps the weights per (application, corpus content) so the eval and
filter queries score with literal weights — a map-only projection over
the artifact — instead of retraining.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import state
from ..localrel import local_rows_df
from ..plans.registry import register
from .dedup import DUCK_TOKENS_LIST
from .textstats import _vote
from .tokens import CorpusArtifact, corpus_artifact, tokenized_docs, write_parquet

CLF_L2 = 0.0009765625  # ridge lambda, 2^-10: exact in binary AND decimal
# Statistic terms are quantized to integers — floor(term * 1e6) — and
# summed exactly. Rationale: CAST(double AS DECIMAL) tie-breaking is
# the one place the engines drift (an ulp per ~1e5 casts, which 40 GD
# rounds amplify; observed at sf0.1), whereas double multiply and
# floor are correctly-rounded IEEE ops both engines agree on bit-for-
# bit. The 1e-6 term quantization costs the trainer ~1e-5 relative
# gradient accuracy — irrelevant to filter quality — and buys a fully
# deterministic cross-engine trajectory. DECIMAL(38,0) sums never
# overflow; they cast to double exactly while below 2^53 (9e9 docs at
# this scale factor — beyond that, lower CLF_SCALE).
CLF_SCALE = 1_000_000.0  # power-of-10 under 2^20: exact as a double
CLF_SUM_DEC = "decimal(38,0)"
CLF_FEATURES = (
    "bias",
    "stopword_frac",
    "avg_token_len",
    "type_token_ratio",
    "punct_frac",
)
_D = len(CLF_FEATURES)


# ---------------------------------------------------------------------------
# Features (identical expressions both engines, artifact-served on Spark)
# ---------------------------------------------------------------------------


# The synthetic-negative letter map: a fixed-point-free vowel CYCLE
# (a->e->i->o->u->a — a true derangement; an earlier draft's
# "aeiou"->"uoiea" silently FIXED 'i', so i-only stopwords like
# 'it'/'is'/'in' survived in negatives and weakened the separation).
# It preserves token lengths and distinct-token counts (so
# avg_token_len and type_token_ratio stay honest controls) while
# defeating the stopword feature — 'the' -> 'thi' — i.e. a
# deterministic proxy for shredded-OCR / non-natural text. Being
# letter-level, it COMMUTES with tokenization, so negatives derive
# from the artifact's token array; raw text is never re-scanned.
# Negative rows live at doc_id' = -doc_id - 1: real ids are
# non-negative, so the two spaces can NEVER collide at any corpus
# size (a fixed +10M offset collided once real ids reached 10M —
# which scale_bench's staged replicas already do).
CLF_NEG_FROM, CLF_NEG_TO = "aeiou", "eioua"


def clf_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, x0..x4) — label + feature vector per training row,
    every column an exact integer ratio (deterministic doubles).

    Training rows = corpus documents (y=1) UNION a vowel-rotated copy
    of each (y=0, doc_id negated) — the standard synthetic-negative
    setup for quality-filter training when no curated negative set
    exists. (The fixtures' lang/source columns are decorative — their
    synthetic text is drawn from one vocabulary regardless, so no
    stored column is a learnable label.) Reads ONLY artifact columns:
    the token array for the token features and the stored
    n_punct/n_chars_lower scalars for punctuation density."""
    return _features_from_tokens(tokenized_docs(spark, sf_dir))


def _features_from_tokens(tokenized: DataFrame) -> DataFrame:
    """Feature derivation over ANY tokenized frame — the single shared
    path for full training, delta-partial statistics, and serving, so
    an incrementally-maintained model can never drift from a
    from-scratch one (the _lm_count_rows discipline)."""
    t = tokenized.filter(
        (F.col("n_norm_tokens") > 0) & (F.col("n_chars_lower") > 0)
    )
    # Positive + negative emitted from ONE artifact scan (inline
    # 2-element explode), not a self-union that reads it twice. The
    # shared scalars (lengths, punct) ride along unchanged — the
    # rotation preserves them by construction.
    base = t.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id"), F.lit(1.0).alias("y"), F.col("ws")
                ),
                F.struct(
                    (-F.col("doc_id") - 1).alias("doc_id"),
                    F.lit(0.0).alias("y"),
                    F.expr(
                        f"transform(ws, t -> translate(t, '{CLF_NEG_FROM}', '{CLF_NEG_TO}'))"
                    ).alias("ws"),
                ),
            )
        ).alias("r"),
        "n_norm_tokens",
        "n_punct",
        "n_chars_lower",
    ).select(
        "r.doc_id", "r.y", "r.ws", "n_norm_tokens", "n_punct", "n_chars_lower"
    )
    n = F.col("n_norm_tokens")
    return base.select(
        "doc_id",
        "y",
        F.lit(1.0).alias("x0"),
        (F.expr(_vote("spark", "en", "ws")).cast("double") / n).alias("x1"),
        (
            (
                F.expr(
                    "aggregate(transform(ws, t -> length(t)), 0L, (a, x) -> a + x)"
                ).cast("double")
                / n
            )
            / F.lit(10.0)
        ).alias("x2"),
        (F.size(F.array_distinct("ws")).cast("double") / n).alias("x3"),
        (F.col("n_punct").cast("double") / F.col("n_chars_lower")).alias(
            "x4"
        ),
    )


def _duck_features_cte() -> str:
    """DuckDB mirror of clf_features (recomputes the artifact scalars
    from raw text the way the text_quality oracle does; the negative
    copy applies the same per-token translate)."""
    return f"""d0 AS (
        SELECT doc_id, lower(text) AS txt, {DUCK_TOKENS_LIST} AS toks
        FROM documents),
    base AS (
        SELECT doc_id, CAST(1 AS DOUBLE) AS y, txt, toks FROM d0
        UNION ALL
        SELECT -doc_id - 1, CAST(0 AS DOUBLE),
               txt,
               list_transform(toks,
                   t -> translate(t, '{CLF_NEG_FROM}', '{CLF_NEG_TO}'))
        FROM d0),
    f AS (
        SELECT doc_id, y,
               CAST(1 AS DOUBLE) AS x0,
               CAST({_vote("duck", "en", "toks")} AS DOUBLE) / len(toks) AS x1,
               (CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                / len(toks)) / CAST(10 AS DOUBLE) AS x2,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS x3,
               CAST(length(txt) - length(regexp_replace(txt, '[^a-z0-9 ]', '', 'g'))
                    AS DOUBLE) / length(txt) AS x4
        FROM base
        WHERE len(toks) > 0 AND length(txt) > 0)"""


# ---------------------------------------------------------------------------
# Training: one statistics pass + exact driver-side LDL^T solve
# ---------------------------------------------------------------------------


def _mname(j: int, k: int) -> str:
    return f"m{min(j, k)}{max(j, k)}"


def _solve_steps() -> list[tuple[str, str]]:
    """The ridge normal-equation solve — (X'X/n + lam*I) w = X'y/n via
    LDL^T factorization — unrolled to an ordered list of scalar
    assignments. Each expression uses only names of earlier steps, the
    statistics columns (n, m{jk}, b{j}) and `lam`, and only the four
    rational operators — text that is simultaneously valid Python and
    valid SQL with identical precedence and associativity. BOTH
    engines evaluate these exact strings (Python eval on the driver,
    chained 1-row CTEs in the DuckDB oracle), so the trained weights
    are bit-identical by construction: there is no second
    implementation to drift. LDL^T rather than Cholesky so no sqrt
    appears — every op is a correctly-rounded IEEE +,-,*,/ . The ridge
    term makes the matrix positive definite, so the fixed
    (pivot-free) elimination order is always valid."""
    steps: list[tuple[str, str]] = []
    for j in range(_D):
        for k in range(j, _D):
            e = f"m{j}{k} / n"
            if j == k:
                e += " + lam"
            steps.append((f"a{j}{k}", e))
        steps.append((f"r{j}", f"b{j} / n"))
    for j in range(_D):  # factorize: pivots p{j}, unit-lower l{i}{j}
        e = f"a{j}{j}"
        for k in range(j):
            e += f" - (l{j}{k} * l{j}{k}) * p{k}"
        steps.append((f"p{j}", e))
        for i in range(j + 1, _D):
            num = f"a{j}{i}"
            for k in range(j):
                num += f" - (l{i}{k} * l{j}{k}) * p{k}"
            steps.append((f"l{i}{j}", f"({num}) / p{j}"))
    for i in range(_D):  # forward solve L z = r
        e = f"r{i}"
        for k in range(i):
            e += f" - l{i}{k} * z{k}"
        steps.append((f"z{i}", e))
    for i in reversed(range(_D)):  # diagonal + back solve L' w = z/p
        e = f"z{i} / p{i}"
        for k in range(i + 1, _D):
            e += f" - l{k}{i} * w{k}"
        steps.append((f"w{i}", e))
    return steps


def _stats_agg_exprs() -> list:
    """The sufficient-statistics aggregation: n, the d*(d+1)/2 distinct
    Gram entries, and the d moment sums as exactly-summed quantized
    integers (map-side combine; the shuffle carries ONE row per
    partition)."""

    def qsum(term, alias):
        return F.sum(
            F.floor(term * F.lit(CLF_SCALE)).cast(CLF_SUM_DEC)
        ).alias(alias)

    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for j in range(_D):
        for k in range(j, _D):
            aggs.append(
                qsum(F.col(f"x{j}") * F.col(f"x{k}"), _mname(j, k))
            )
        aggs.append(qsum(F.col(f"x{j}") * F.col("y"), f"b{j}"))
    return aggs


def _solve_from_row(row) -> list[float]:
    """Evaluate the shared solve expressions against one statistics
    row; returns the d weights (bit-exact deterministic doubles)."""
    env: dict[str, float] = {"n": row["n"], "lam": CLF_L2}
    for j in range(_D):
        for k in range(j, _D):
            env[f"m{j}{k}"] = float(row[_mname(j, k)]) / CLF_SCALE
        env[f"b{j}"] = float(row[f"b{j}"]) / CLF_SCALE
    for name, expr in _solve_steps():
        env[name] = eval(expr, {"__builtins__": {}}, env)  # noqa: S307
    return [env[f"w{j}"] + 0.0 for j in range(_D)]  # normalize -0.0


def train_classifier(spark: SparkSession, sf_dir: str) -> list[float]:
    """One statistics job + the exact driver-side solve (the training
    BENCHMARK form — always recomputes; `trained_classifier` below is
    the serving form, which reads the incrementally-maintained stats
    artifact)."""
    feats = clf_features(spark, sf_dir)
    row = feats.agg(*_stats_agg_exprs()).collect()[0]  # 1-row model fetch
    return _solve_from_row(row)


# ---------------------------------------------------------------------------
# Incremental maintenance: the statistics ARE a mergeable summary
# ---------------------------------------------------------------------------


# The sufficient statistics are integer-quantized SUMS, so they form a
# mergeable summary: stats(corpus + delta) = stats(corpus) + stats(delta)
# EXACTLY (per-row floor quantization happens before the sum, and
# integer addition is associative/commutative). A corpus delta therefore
# appends one partial row computed from the delta docs only, and the
# retrained weights are bit-identical to a from-scratch fit — the
# LM_COUNTS lifecycle (textstats.py) applied to the model-training tier.
CLF_STATS = CorpusArtifact(
    "session_clf_stats",
    lambda tokenized: _features_from_tokens(tokenized).agg(*_stats_agg_exprs()),
    write_parquet,
)


def clf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial sufficient-statistic rows (n, m{jk}, b{j}) — one row per
    full build or corpus-delta append, persisted once per (application,
    corpus content). Consumers merge by summing per column
    (train_classifier_from_stats); no compaction tier is needed — the
    artifact holds ONE ~22-column row per append."""
    return corpus_artifact(spark, sf_dir, CLF_STATS)


def train_classifier_from_stats(spark: SparkSession, sf_dir: str) -> list[float]:
    """Solve from the merged stats artifact: after a corpus append this
    costs one delta tokenize + a few-row read instead of a full corpus
    rescan, and the weights are bit-identical to `train_classifier` by
    the mergeable-sum argument (pinned in tests/test_classifier.py)."""
    merged = [F.sum("n").cast("long").alias("n")]
    for j in range(_D):
        for k in range(j, _D):
            name = _mname(j, k)
            merged.append(F.sum(name).cast(CLF_SUM_DEC).alias(name))
        merged.append(F.sum(f"b{j}").cast(CLF_SUM_DEC).alias(f"b{j}"))
    row = clf_stats(spark, sf_dir).agg(*merged).collect()[0]
    return _solve_from_row(row)


def trained_classifier(spark: SparkSession, sf_dir: str) -> list[float]:
    """The weights, trained once per (application, corpus content):
    serving queries score, they don't retrain. Backed by the stats
    ARTIFACT, so even a retrain after an append-only corpus delta pays
    only the delta statistics, never a corpus rescan."""
    src = os.path.join(sf_dir, "documents.parquet")
    return state.lookup(
        spark.sparkContext,
        "classifier",
        src,
        state.content_fingerprint(src),
        lambda: train_classifier_from_stats(spark, sf_dir),
    )


def _duck_clf_ctes() -> str:
    """The whole trainer unrolled as DuckDB CTEs: the statistics CTE
    once, then one 1-row CTE per _solve_steps scalar — the same
    expression STRINGS the driver evaluates, so there is nothing to
    keep in sync. Ends at `tw` (w0..w4, -0.0 normalized)."""
    scale = f"CAST({CLF_SCALE!r} AS DOUBLE)"

    def qsum(term: str, alias: str) -> str:
        return (
            f"CAST(SUM(CAST(floor(({term}) * {scale}) AS HUGEINT))"
            f" AS DOUBLE) / {scale} AS {alias}"
        )

    sums = []
    for j in range(_D):
        for k in range(j, _D):
            sums.append(qsum(f"x{j} * x{k}", _mname(j, k)))
        sums.append(qsum(f"x{j} * y", f"b{j}"))
    parts = [
        _duck_features_cte(),
        "s AS (SELECT COUNT(*) AS n, " + ", ".join(sums) + " FROM f)",
        f"q0 AS (SELECT *, CAST({CLF_L2!r} AS DOUBLE) AS lam FROM s)",
    ]
    for i, (name, expr) in enumerate(_solve_steps()):
        parts.append(
            f"q{i + 1} AS (SELECT *, ({expr}) AS {name} FROM q{i})"
        )
    n_steps = len(_solve_steps())
    parts.append(
        "tw AS (SELECT "
        + ", ".join(f"w{j} + 0.0 AS w{j}" for j in range(_D))
        + f" FROM q{n_steps})"
    )
    return ",\n".join(parts)


def _duck_score_ctes() -> str:
    """Training CTEs + per-doc scores under the final weights (the
    same left-assoc dot product the Spark side builds from literal
    weights)."""
    dot = " + ".join(
        f"w{j}" if j == 0 else f"w{j} * x{j}" for j in range(_D)
    )
    scale = f"CAST({CLF_SCALE!r} AS DOUBLE)"
    return f"""{_duck_clf_ctes()},
    sc AS (SELECT doc_id, y, ({dot}) AS score
           FROM f CROSS JOIN tw),
    thr AS (SELECT (CAST(SUM(CAST(floor(score * {scale}) AS HUGEINT))
                         AS DOUBLE) / {scale}) / COUNT(*) AS thr
            FROM sc)"""


def _spark_score(feats: DataFrame, w: list[float]) -> DataFrame:
    """(doc_id, y, score): literal-weight dot product, matching the
    oracle's association (w0 + w1*x1 + ... left to right)."""
    dot = F.lit(w[0])
    for j in range(1, _D):
        dot = dot + F.lit(w[j]) * F.col(f"x{j}")
    return feats.select("doc_id", "y", dot.alias("score"))


def _thr_agg():
    """Mean-score threshold via the same exact integer-quantized sum
    the trainer uses (floor(score * 1e6) summed, then /1e6/n) — the
    cut point is bit-identical cross-engine."""
    return (
        (
            F.sum(
                F.floor(F.col("score") * F.lit(CLF_SCALE)).cast(CLF_SUM_DEC)
            ).cast("double")
            / F.lit(CLF_SCALE)
        )
        / F.count(F.lit(1))
    ).alias("thr")


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "text_classifier_train",
    oracle=f"""
        WITH {_duck_clf_ctes()}
        SELECT CAST(p.j AS BIGINT) AS feature_id, p.feature,
               (CASE p.j {' '.join(f"WHEN {j} THEN w{j}" for j in range(_D))}
                END) + 0.0 AS weight
        FROM tw CROSS JOIN (VALUES
            {', '.join(f"({j}, '{f}')" for j, f in enumerate(CLF_FEATURES))}
        ) p(j, feature)
    """,
    tier="llm",
    doc="Model-based quality-filter TRAINING — an exact ridge normal-"
    "equation solve (LDL^T) for a linear scorer over per-doc text statistics; "
    "positives = corpus docs, negatives = vowel-rotated copies (the "
    "synthetic-negative setup real quality filters use when no curated "
    "negative corpus exists). The normal equations need only "
    "X'X and X'y, so the whole trainer is ONE corpus pass: a "
    "map-side-combined aggregation of the Gram/moment statistics (21 "
    "exactly-summed quantized sums at d=5, one row per partition "
    "shuffled, 1-row fetch), then the EXACT ridge solution via an "
    "unrolled pivot-free LDL^T solve whose scalar expressions are "
    "evaluated as the same text by the driver and by the oracle's "
    "1-row CTEs — no transcendentals, no rounding, no second "
    "implementation to drift; weights are bit-identical across "
    "engines by construction. Features read the session "
    "tokens artifact only (stored scalars for punctuation density); "
    "raw text is never scanned.",
)
def q_text_classifier_train(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w = train_classifier(spark, sf_dir)
    return local_rows_df(
        spark,
        [(j, CLF_FEATURES[j], w[j]) for j in range(_D)],
        "feature_id long, feature string, weight double",
    )


@register(
    "text_classifier_eval",
    oracle=f"""
        WITH {_duck_score_ctes()}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN score >= thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN score >= thr AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN score < thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN score < thr AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
               ROUND(CAST(SUM(CASE WHEN (score >= thr) = (y = 1) THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS accuracy
        FROM sc CROSS JOIN thr
    """,
    tier="llm",
    doc="Trained-filter evaluation: score every doc with the memoized "
    "weights (map-only literal-weight projection over the artifact), "
    "threshold at the corpus mean score (1-row broadcast, exact "
    "decimal sum), report the confusion matrix and accuracy against "
    "the ground-truth label. The train->serve composition mirrors "
    "ann_ivf_trained_topk: training runs once per corpus "
    "(trained_classifier memo), serving is a projection.",
)
def q_text_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = trained_classifier(spark, sf_dir)
    sc = _spark_score(clf_features(spark, sf_dir), w)
    thr = sc.agg(_thr_agg())
    kept = F.col("score") >= F.col("thr")
    pos = F.col("y") == 1.0
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        sc.crossJoin(F.broadcast(thr))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            cnt(pos).alias("n_pos"),
            cnt(kept & pos).alias("tp"),
            cnt(kept & ~pos).alias("fp"),
            cnt(~kept & pos).alias("fn"),
            cnt(~kept & ~pos).alias("tn"),
            F.round(
                F.sum(F.when(kept == pos, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
    )


@register(
    "text_classifier_filter",
    oracle=f"""
        WITH {_duck_score_ctes()}
        SELECT doc_id, ROUND(score, 9) AS score
        FROM sc CROSS JOIN thr
        WHERE score >= thr
    """,
    tier="llm",
    doc="The filter itself — the pipeline stage a curation run "
    "executes: keep documents the trained classifier scores at/above "
    "the corpus mean. Map-only scoring over the tokens artifact plus "
    "one 1-row threshold broadcast; at 100 TB this is a single "
    "column-pruned pass, the same shape as the heuristic "
    "text_quality_filter it upgrades.",
)
def q_text_classifier_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w = trained_classifier(spark, sf_dir)
    sc = _spark_score(clf_features(spark, sf_dir), w)
    thr = sc.agg(_thr_agg())
    return (
        sc.crossJoin(F.broadcast(thr))
        .filter(F.col("score") >= F.col("thr"))
        .select("doc_id", F.round("score", 9).alias("score"))
    )
