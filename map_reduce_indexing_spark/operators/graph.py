"""Link-graph analytics: weighted PageRank as a first-class operator.

A new algorithm class for the engine (round 8): damped power iteration
to a fixed point over an edge table — the crawl-graph quality-weighting
step of a web-scale training-data pipeline (page rank as a document
quality prior is the classic pre-filter for crawl corpora), and the
third iterative tier after Lloyd k-means (similarity.train_kmeans) and
BPE merge training (bpe.py). The reference has no graph tier; parity
anchor is the same build-then-query lifecycle discipline
(helper_reduce.c:238-257) — here the "model" is the rank vector.

Execution shape (the part that must survive 100 TB):

- Edge derivation is an ordinary DataFrame pipeline (broadcast dims
  onto the fact table, one groupBy) — Catalyst territory.
- Each iteration is: ranks ⋈ edges on src (shuffle on the join key at
  scale; AQE may broadcast a small rank table) → per-dst partial-agg
  sum of contributions → left join back onto the node set. No driver
  collect of the rank vector anywhere — unlike the k-means model
  (k rows), ranks are node-cardinality data and stay distributed.
- Per-round `localCheckpoint(eager=True)` truncates lineage — without
  it the rank vector is referenced twice per round (contributions +
  dangling mass), so the logical plan doubles per iteration (2^rounds
  subtrees); with it every round starts from a materialized RDD, the
  Pregel/GraphX iteration discipline.

Cross-engine determinism (the oracle contract): per-edge contribution
terms are cast to DECIMAL(28,12) before the per-dst SUM (exact,
order-independent), the dangling mass is a DECIMAL sum likewise, each
round's rank is rounded to 12 dp, and every double expression is the
same IEEE tree on both engines — the discipline proven by the k-means
and LM-score oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.artifacts import session_artifact_df
from ..sources.tables import load_table
from ..plans.registry import register

PR_DAMPING = 0.85
PR_ROUNDS = 6
_TERM_DEC = "decimal(28,12)"


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = PR_ROUNDS,
    damping: float = PR_DAMPING,
    checkpoint: bool = True,
) -> DataFrame:
    """Weighted PageRank over `edges(src, dst, w)` restricted to
    `nodes(node)`: r'(p) = (1-d)/N + d·(dangling_mass/N) +
    d·Σ_{q→p} r(q)·w(q,p)/W(q), run for a fixed `rounds` iterations
    from the uniform vector. Returns (node, r) with r rounded to 12 dp
    per round (the cross-engine determinism contract; callers round
    once more for display). Dangling nodes (no out-edges) redistribute
    their mass uniformly — the standard stochastic-matrix fix.

    Iteration strategy — picked ONCE, from a rank-independent property
    of the graph: the dangling NODE SET is fixed across rounds, so one
    tiny edges-only job decides the loop shape up front.

    - No dangling nodes (every cleaned src-projected graph; the trade
      graph): dm ≡ 0.0 exactly, so the term is dropped (x + 0.0 ≡ x in
      IEEE for positive ranks — bit-identical output) and each round
      references the rank vector ONCE. The whole iteration is then a
      single lazy linear plan — no per-round materialization, no
      per-round job overhead; only the edge table is checkpointed (the
      GraphX edge-cache discipline), because nodes/out/e would
      otherwise re-derive their upstream pipeline once per round.
    - Dangling nodes present: the dm term needs a second pass over the
      ranks each round, which would double the plan per iteration
      (2^rounds subtrees) — each round materializes via
      `localCheckpoint(eager=True)`, the Pregel discipline.

    `checkpoint=False` skips the edge/rank checkpoints (plan
    inspection only — compile cost grows with rounds)."""
    if checkpoint:
        edges = edges.localCheckpoint(eager=False)
        nodes = nodes.localCheckpoint(eager=False)
    out = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    e = edges.join(out, "src").select(
        "src", "dst", (F.col("w").cast("double") / F.col("wout").cast("double")).alias("p")
    )
    if checkpoint:
        # e is referenced every round; without this its edges⋈out
        # normalization subtree re-plans per iteration (3 joins/round
        # instead of 2, measured ~25% of the fixture query's wall)
        e = e.localCheckpoint(eager=False)
    # ONE bounded probe job for BOTH graph scalars (r14; was an
    # anti-join probe job for danglingness plus a per-round
    # crossJoin(broadcast(n1)) 1-row aggregate): N and the dangling
    # count come from a single left-join aggregate, and every rank
    # expression that used the broadcast n column becomes a driver
    # literal — the SAME IEEE double ops on the same operands (1.0/N
    # and (1-d)/N are one correctly-rounded division either side of
    # the driver boundary), so ranks are bit-identical while the plan
    # drops rounds+1 BroadcastNestedLoopJoins and their 1-row
    # broadcast exchanges. N is a single long — the bounded
    # model-fetch discipline (k-means collects k rows; this collects
    # one).
    probe = nodes.join(out, nodes.node == out.src, "left").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.count(F.when(F.col("src").isNull(), F.lit(1))).alias("n_dang"),
    ).collect()[0]
    n_nodes = int(probe["n_nodes"])
    has_dangling = int(probe["n_dang"]) > 0
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias("r"))
    n = float(n_nodes)
    from ..checkpoints import release_local_checkpoint

    ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))
    base = F.lit((1.0 - damping) / n)
    prev_ckpt = None
    for _ in range(rounds):
        if checkpoint and has_dangling:
            ranks = ranks.localCheckpoint(eager=True)
            # this round's checkpoint was materialized FROM the previous
            # one; the previous round's blocks are now unreachable from
            # anything downstream — release them (r15, bounded per-call
            # storage instead of one pinned copy per round)
            if prev_ckpt is not None:
                release_local_checkpoint(prev_ckpt)
            prev_ckpt = ranks
        contrib = (
            ranks.join(e, ranks.node == e.src)
            .select("dst", (F.col("r") * F.col("p")).cast(_TERM_DEC).alias("t"))
            .groupBy("dst")
            .agg(F.sum("t").alias("s"))
        )
        nxt = nodes.join(contrib, nodes.node == contrib.dst, "left")
        if has_dangling:
            dangling = (
                ranks.join(out, ranks.node == out.src, "left_anti")
                .agg(
                    F.coalesce(
                        F.sum(F.col("r").cast(_TERM_DEC)).cast("double"),
                        F.lit(0.0),
                    ).alias("dm")
                )
            )
            new_r = (
                base
                + F.lit(damping) * (F.col("dm") / F.lit(n))
                + F.lit(damping)
                * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
            )
            nxt = nxt.crossJoin(F.broadcast(dangling))
        else:
            new_r = base + F.lit(damping) * F.coalesce(
                F.col("s").cast("double"), F.lit(0.0)
            )
        ranks = nxt.select("node", F.round(new_r, 12).alias("r"))
    return ranks


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w): the customer-nation → supplier-nation trade graph
    — w = lineitem count shipped from dst-nation suppliers to src-nation
    customers. One pass over the fact table with every dimension
    broadcast (nation/customer/supplier are classic broadcast dims),
    then a groupBy on the ≤ N² nation-pair key space with map-side
    partials."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # orders/customer carry NO broadcast hint: orders is a fact table
    # (hinting it broadcast would ship the fact stream at 100 TB) and
    # customer is nation-sized-up — AQE picks broadcast at small SF on
    # its own. supplier/nation are true small dims, hinted.
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("src"))),
            F.col("c_nationkey") == F.col("cnk"),
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("dst"))),
            F.col("s_nationkey") == F.col("snk"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def session_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trade graph served from a once-per-(application, corpus
    content) persisted artifact — the same build-then-query lifecycle
    the tokens/postings/signature artifacts already follow (r15). Both
    graph-analytics queries (PageRank, triangles) consume the SAME
    derived edge set; re-deriving it from the five raw tables per call
    re-ran the star join every time (~40% of each query's wall at
    sf0.1, a full fact-table pass at 100 TB — where a maintained graph
    is an extraction artifact, not a per-query join). The fingerprint
    covers every input table, so any fixture change rebuilds. Values
    identical by construction: the artifact is trade_edges()'s own
    rows round-tripped through parquet (BIGINT/strings, exact)."""

    def build(path: str) -> None:
        # one file: grouped by (source, dest) nation, so <= 25 x 25 rows at any scale
        trade_edges(spark, sf_dir).coalesce(1).write.parquet(path)

    return session_artifact_df(
        spark,
        sf_dir,
        "trade_edges",
        (
            "lineitem.parquet",
            "orders.parquet",
            "customer.parquet",
            "supplier.parquet",
            "nation.parquet",
        ),
        build,
    )


def _duck_pagerank_ctes(rounds: int, damping: float) -> str:
    """The oracle's unrolled power iteration — one CTE per round, the
    same expression tree the Spark side builds (decimal-summed
    contribution terms, decimal-summed dangling mass, 12-dp round per
    iteration)."""
    # Every CTE is MATERIALIZED: round i reads round i-1 twice, and
    # DuckDB otherwise inlines a CTE at each reference, so the chain
    # grows as 2^rounds and exhausts memory. Same rows.
    ctes = [
        """nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        outw AS MATERIALIZED (SELECT src, SUM(w) AS wout FROM edges GROUP BY src),
        e AS MATERIALIZED (SELECT edges.src, dst,
                     CAST(w AS DOUBLE) / CAST(wout AS DOUBLE) AS p
              FROM edges JOIN outw ON edges.src = outw.src),
        nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        r0 AS MATERIALIZED (SELECT node, 1.0 / n AS r FROM nodes CROSS JOIN nn)"""
    ]
    for i in range(1, rounds + 1):
        prev = f"r{i - 1}"
        ctes.append(
            f"""r{i} AS MATERIALIZED (
            SELECT nodes.node,
                   ROUND({1.0 - damping} / n
                         + {damping} * (dm / n)
                         + {damping} * COALESCE(CAST(s AS DOUBLE), 0.0),
                         12) AS r
            FROM nodes
            LEFT JOIN (SELECT dst, SUM(CAST(r * p AS DECIMAL(28,12))) AS s
                       FROM {prev} JOIN e ON {prev}.node = e.src
                       GROUP BY dst) c ON nodes.node = c.dst
            CROSS JOIN nn
            CROSS JOIN (SELECT COALESCE(CAST(SUM(CAST(r AS DECIMAL(28,12)))
                                             AS DOUBLE), 0.0) AS dm
                        FROM {prev} LEFT JOIN outw
                          ON {prev}.node = outw.src
                        WHERE outw.src IS NULL) d)"""
        )
    return ",\n".join(ctes)


@register(
    "rel_pagerank_trade",
    oracle=f"""
        WITH edges AS (
            SELECT cn.n_name AS src, sn.n_name AS dst,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            GROUP BY cn.n_name, sn.n_name
        ),
        {_duck_pagerank_ctes(PR_ROUNDS, PR_DAMPING)}
        SELECT node, ROUND(r, 6) AS rank FROM r{PR_ROUNDS}
    """,
    tier="relational",
    doc=f"Weighted PageRank over the nation trade graph ({PR_ROUNDS} "
    f"damped power-iteration rounds, d={PR_DAMPING}): edge derivation "
    "is one broadcast-dim pass over lineitem; each round is a "
    "rank⋈edges shuffle join on src, a per-dst decimal-summed partial "
    "aggregate, and a left join back onto the node set, with "
    "localCheckpoint truncating lineage per round (the Pregel "
    "discipline — the rank vector is node-cardinality data and never "
    "visits the driver, unlike the k-means model fetch). Dangling-node "
    "mass redistributes uniformly. The crawl-graph quality-prior "
    "computation of a web-scale training pipeline, expressed over the "
    "fixture's trade graph.",
)
def q_rel_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the session trade-edges artifact (r15); the lazy
    # checkpoint still keeps per-round lineage flat so the node-set
    # derivation and every iteration read the materialized ≤ N² rows.
    edges = session_trade_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = edges.select(
        F.explode(F.array("src", "dst")).alias("src")
    ).distinct().select(
        F.col("src").alias("node")
    )
    ranks = pagerank(nodes, edges)
    return ranks.select("node", F.round("r", 6).alias("rank"))


# ---------------------------------------------------------------------------
# Triangle counting / clustering coefficient
# ---------------------------------------------------------------------------

_TRADE_EDGES_SQL = """
        SELECT cn.n_name AS src, sn.n_name AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        GROUP BY cn.n_name, sn.n_name
"""

# Degree-ordered edge orientation — the Suri-Vassilvitskii MapReduce
# triangle-counting discipline: direct each undirected edge from its
# lower-(degree, name) endpoint to the higher one. The orientation is
# acyclic, so every triangle is enumerated EXACTLY once (as the unique
# wedge at its lowest-ranked vertex), and out-degree is bounded by
# O(sqrt(m)) — which bounds the wedge join's fan-out, the property that
# keeps the shuffle sub-quadratic at 100 TB.
_ORIENT = "(du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)"


@register(
    "rel_triangles_trade",
    oracle=f"""
        WITH edges AS ({_TRADE_EDGES_SQL}),
        und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                FROM edges WHERE src <> dst),
        deg AS (SELECT node, COUNT(*) AS deg
                FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
                GROUP BY node),
        oe AS (SELECT CASE WHEN {_ORIENT} THEN u ELSE v END AS a,
                      CASE WHEN {_ORIENT} THEN v ELSE u END AS b
               FROM und
               JOIN deg du ON und.u = du.node
               JOIN deg dv ON und.v = dv.node),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM oe e1
                JOIN oe e2 ON e1.b = e2.a
                JOIN oe e3 ON e3.a = e1.a AND e3.b = e2.b),
        tn AS (SELECT node, COUNT(*) AS t
               FROM (SELECT x AS node FROM tri
                     UNION ALL SELECT y FROM tri
                     UNION ALL SELECT z FROM tri)
               GROUP BY node)
        SELECT deg.node, CAST(deg.deg AS BIGINT) AS degree,
               CAST(COALESCE(tn.t, 0) AS BIGINT) AS triangles,
               ROUND(CASE WHEN deg.deg > 1
                          THEN 2.0 * COALESCE(tn.t, 0)
                               / (CAST(deg.deg AS DOUBLE)
                                  * (CAST(deg.deg AS DOUBLE) - 1.0))
                          ELSE 0.0 END, 9) AS clustering
        FROM deg LEFT JOIN tn ON deg.node = tn.node
    """,
    tier="relational",
    doc="Per-node triangle counts + local clustering coefficient over "
    "the undirected nation trade graph — the second graph-analytics "
    "operator (community-density scoring for link graphs, the "
    "complement to PageRank's centrality prior). Degree-ordered "
    "orientation (each edge directed low->high by (degree, name)) "
    "makes the orientation a DAG, so the wedge self-join enumerates "
    "every triangle exactly once and out-degree — hence wedge fan-out "
    "— is bounded by O(sqrt(m)), the Suri-Vassilvitskii MR bound. "
    "Every join is an equi-join on node keys (shuffle-partitioned, "
    "AQE-skew-splittable; no cartesian, no broadcast of the edge "
    "set); counting is pure integers, and the one double division is "
    "the same expression tree on both engines, rounded once.",
)
def q_rel_triangles_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Checkpoint the derived edge set: und feeds deg, the orientation,
    # and three legs of the wedge join — a lazy frame would re-run the
    # whole lineitem pipeline for each reference.
    und = (
        session_trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    return triangle_counts(und)


def triangle_counts(und: DataFrame) -> DataFrame:
    """(node, degree, triangles, clustering) over an undirected simple
    edge set `und(u, v)` with u < v and no duplicates. Callers should
    checkpoint/cache `und` — it feeds the degree table, the orientation,
    and three legs of the wedge join. (tools/triangles_scale.py drives
    this on synthesized graphs for the scaling curve.)"""
    # One pass over the edge set instead of two: explode([u, v]) feeds
    # the same multiset of endpoints to the SAME count aggregate the
    # unionAll fed (each edge contributes u once and v once either way),
    # so degrees are identical — but the corpus-sized edge scan runs
    # once, not per union branch (r15; guide §2.4).
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    first = (F.col("du.deg") < F.col("dv.deg")) | (
        (F.col("du.deg") == F.col("dv.deg")) & (F.col("u") < F.col("v"))
    )
    # Checkpoint the oriented edge set: it feeds THREE legs of the
    # wedge/closure join — lazy, each leg would re-run the degree
    # derivation joins (measured 47 scans / 25 SortMergeJoins in the
    # un-checkpointed plan vs one orientation pass + 3 RDD re-scans).
    oe = (
        und.join(deg.alias("du"), F.col("u") == F.col("du.node"))
        .join(deg.alias("dv"), F.col("v") == F.col("dv.node"))
        .select(
            F.when(first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = oe.alias("e1"), oe.alias("e2"), oe.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    # The wedge/closure join is the expensive subtree (E^1.5 fan-out at
    # scale): the union-of-three-projections form re-executed it once
    # PER BRANCH (3 SortMergeJoin pairs in the executed plan — the
    # checkpointed `oe` feeds the join, but the join itself is above
    # the checkpoint, so nothing deduplicates it). explode([x, y, z])
    # emits the identical node multiset from ONE evaluation (r15;
    # guide §1.2 "don't compute things you throw away", §2.4).
    tn = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    degd = F.col("deg").cast("double")
    return (
        deg.join(tn, "node", "left")
        .select(
            "node",
            F.col("deg").cast("long").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
            F.round(
                F.when(
                    F.col("deg") > 1,
                    F.lit(2.0)
                    * F.coalesce(F.col("t"), F.lit(0))
                    / (degd * (degd - F.lit(1.0))),
                ).otherwise(F.lit(0.0)),
                9,
            ).alias("clustering"),
        )
    )
