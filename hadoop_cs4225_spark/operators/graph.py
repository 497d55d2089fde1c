"""Graph analytics over relational edges: PageRank.

Complements ``dedup.dedup_clusters`` (connected components — label
propagation to a fixpoint) with the other canonical iterative-graph
shape: damped power iteration over a normalized adjacency.

Graph: the customer↔supplier trade network — an undirected edge
whenever a customer's order contains a lineitem from a supplier
(orders ⋈ lineitem, projected to DISTINCT (custkey, suppkey)).
Undirected means every node has out-degree ≥ 1, so no dangling-mass
redistribution term is needed and the inner contribution join is total.

Node ids live in one bigint space: customer c -> 2c, supplier s ->
2s+1 (collision-free, engine-portable).

Scale: each iteration is ONE shuffle — edges ⋈ ranks on src (both
sides hash-partitioned on node id; the degree factor is pre-merged
into the edge weight so the loop body is join → groupBy(dst) → sum).
|edges| rows move per round, |V|-sized state. The iteration count is
fixed (3), so lineage stays shallow without checkpointing; a
convergence-driven variant would localCheckpoint per round like
``dedup_clusters``. The DuckDB oracle unrolls the same three
iterations as CTEs r1→r3 — the Spark loop IS that recursion,
reformulated for a distributed engine.

No reference analogue; extends the LLM-pipeline/graph surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.numeric import quant, quant_sql
from hadoop_cs4225_spark.registry import register
from hadoop_cs4225_spark.sources.sinks import session_memo
from hadoop_cs4225_spark.sources.tables import load_table

#: Damping factor (the standard 0.85) and fixed iteration count. Both
#: the oracle SQL and the DataFrame body derive their literals from
#: these two constants — editing DAMPING changes both engines in
#: lockstep. TELEPORT is spelled out (not computed as 1 - DAMPING) so
#: the rendered SQL constant stays a clean decimal, float artifacts
#: like 0.15000000000000002 would poison the 9-decimal quantizer.
DAMPING = 0.85
TELEPORT = 0.15
assert DAMPING + TELEPORT == 1.0
N_ITERS = 3
TOP_K = 20

_EDGES_SQL = """
pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg)
"""


def _iter_sql(prev: str, cur: str, materialized: bool = False) -> str:
    # Per-ITERATION quantization (12 dp, the events_daily_ewma
    # recursive-smoothing discipline): each engine sums per-node
    # contributions in its own order, so without a per-step snap the
    # last-ulp difference compounds through the iterations and can
    # land a final value on the 9-dp grid boundary — the rare
    # whole-suite flake this replaced. With inputs re-identical every
    # round, only the FINAL step's reassociation meets the 9-dp grid.
    # The last two rounds are MATERIALIZED: both feed the convergence
    # delta AND their successor/output, and DuckDB's default inlining
    # would re-expand the whole iteration history per consumer (the
    # HITS lesson).
    return f"""
{cur} AS {"MATERIALIZED " if materialized else ""}(
  SELECT e.dst AS node,
         {quant_sql(
             f"{TELEPORT} / (SELECT n FROM nn)"
             f" + {DAMPING} * SUM({prev}.r / deg.d)",
             12,
         )} AS r
  FROM edges e
  JOIN {prev} ON e.src = {prev}.node
  JOIN deg ON e.src = deg.src
  GROUP BY e.dst
)"""




@session_memo("trade_edges", sources=("orders", "lineitem"))
def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized customer↔supplier edge list (src, dst) — session-
    memoized because BOTH PageRank variants (global and personalized)
    iterate over the identical
    frame: the orders⋈lineitem→distinct chain runs once per session,
    not once per query. localCheckpoint stands in for the written
    edge table a cluster deployment would persist."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    return (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .union(
            pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )


@session_memo("trade_deg", upstream=("trade_edges",))
def _trade_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree table ``(src, d)`` of the symmetrized trade graph —
    session-memoized (r13 optimization round): BOTH PageRank variants
    derive it per run, and the global query additionally re-derived it
    inside every iteration's plan. Bounded: |V| short rows."""
    return (
        _trade_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )


@session_memo("trade_edges_deg", upstream=("trade_edges", "trade_deg"))
def _trade_edges_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-annotated edge list ``(src, dst, d)`` — the frame every
    damped power-iteration round actually joins against ranks. Both
    PageRank variants previously re-ran the edges⋈degree join once PER
    ITERATION (3x each per run — guide §2.4); memoized it is one build
    per session. Bounded: |E| short rows, same class as the memoized
    ``_trade_edges`` it annotates."""
    return (
        _trade_edges(spark, sf_dir)
        .join(_trade_deg(spark, sf_dir), "src")
        .select("src", "dst", "d")
        .localCheckpoint(eager=False)
    )


@session_memo("hits_pairs", sources=("orders", "lineitem"))
def _hits_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct bipartite customer→supplier edge list (c, s) — session-
    memoized like :func:`_trade_edges` (VERDICT r12 task 3): HITS's six
    half-rounds all read this one frame, and it was the only iterative-
    graph input not warmed, so the bench
    charged the orders⋈lineitem→distinct build to ``supplier_hits_scores``
    every run."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )


@register(
    "pagerank_trade_network",
    oracle=f"""
WITH {_EDGES_SQL},
r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM deg)
,{_iter_sql("r0", "r1")}
,{_iter_sql("r1", "r2", materialized=True)}
,{_iter_sql("r2", "r3", materialized=True)}
,delta AS MATERIALIZED (
  SELECT r3.node, r3.r, abs(r3.r - r2.r) AS dv
  FROM r3 JOIN r2 ON r3.node = r2.node
), resid AS (
  SELECT CAST(SUM(CAST(floor(dv * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS sgrid
  FROM delta
)
SELECT node, {quant_sql("r", 9)} AS rank_q,
       {quant_sql("dv", 9)} AS delta_q,
       {quant_sql("CAST(sgrid AS DOUBLE) / 1e12", 9)} AS l1_residual
FROM delta CROSS JOIN resid
ORDER BY rank_q DESC, node
LIMIT {TOP_K}
""",
)
def pagerank_trade_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank nodes of the customer↔supplier network after
    three damped power iterations.

    Ranks are quantized to 9 decimals before the final sort: the two
    engines sum per-node contributions in different orders, so raw
    doubles differ in the last ulp; the quantizer absorbs that (same
    policy as functions/numeric.py).

    Convergence honesty (VERDICT r8 task 5): a fixed 3-round unroll
    silently truncates on a graph that hasn't stabilized, so the
    output now carries the evidence — per-node ``delta_q``
    (|r3 - r2|) and the global ``l1_residual`` (sum of |r3 - r2| over
    ALL nodes, snapped per-node to the 1e-12 grid so the sum is an
    order-free BIGINT). A 100x graph whose residual is still large
    shows it in every row instead of hiding behind a converged-looking
    top-20.
    """
    # Materialized edge list shared with the personalized variant via
    # the session memo: everything downstream (degrees, |V|, initial
    # ranks, every iteration's join) reads it, and without the
    # checkpoint the orders⋈lineitem→distinct chain would re-execute
    # per round (same hygiene as dedup_clusters).
    deg = _trade_deg(spark, sf_dir)
    # |V| as a 1-row aggregate joined in (never a driver-side collect).
    nn = deg.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # memoized (src, dst, d): shared with the personalized variant and
    # no longer re-joined inside every iteration's plan
    edges_deg = _trade_edges_deg(spark, sf_dir)
    ranks = deg.crossJoin(F.broadcast(nn)).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).alias("r")
    )
    prev = None
    for i in range(N_ITERS):
        ranks = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .select(F.col("dst"), (F.col("r") / F.col("d")).alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("dst").alias("node"),
                # per-iteration 12-dp snap, mirrored in _iter_sql — see
                # the comment there
                quant(
                    F.lit(TELEPORT) / F.col("n") + F.lit(DAMPING) * F.col("s"),
                    12,
                ).alias("r"),
            )
        )
        if i >= N_ITERS - 2:
            # the last two rounds each feed TWO consumers (successor/
            # output + the convergence delta) — materialize like the
            # oracle's AS MATERIALIZED
            ranks = ranks.localCheckpoint(eager=False)
        if i == N_ITERS - 2:
            prev = ranks
    delta = ranks.join(
        prev.select("node", F.col("r").alias("r_prev")), "node"
    ).select("node", "r", F.abs(F.col("r") - F.col("r_prev")).alias("dv"))
    resid = F.broadcast(
        delta.agg(
            F.sum(F.floor(F.col("dv") * 1e12 + 0.5).cast("long"))
            .cast("long")
            .alias("sgrid")
        )
    )
    return (
        delta.crossJoin(resid)
        .select(
            "node",
            quant("r", 9).alias("rank_q"),
            quant("dv", 9).alias("delta_q"),
            quant(F.col("sgrid").cast("double") / 1e12, 9).alias(
                "l1_residual"
            ),
        )
        .orderBy(F.col("rank_q").desc(), "node")
        .limit(TOP_K)
    )


#: Mutual-top-K partner graph: per-supplier strongest co-suppliers
#: kept (K per node), an edge only when BOTH keep each other. Bounds
#: every node's degree at K whatever the corpus size — the standard
#: trick that keeps triangle enumeration linear-ish at scale.
_TRI_TOPK = 5

#: Shared CTE chain building the mutual-top-K edge list — used by both
#: graph queries' oracles so the two stay on the identical graph.
_EDGES_CTE_SQL = f"""pairs AS (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, COUNT(*) AS w
  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY s1, s2
), directed AS (
  SELECT s1 AS src, s2 AS dst, w FROM pairs
  UNION ALL
  SELECT s2 AS src, s1 AS dst, w FROM pairs
), topk AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
    FROM directed) WHERE rn <= {_TRI_TOPK}
), edges AS (
  SELECT a.src AS a, a.dst AS b FROM topk a
  JOIN topk b ON a.src = b.dst AND a.dst = b.src
  WHERE a.src < a.dst
)"""


@session_memo("mutual_topk_edges", sources=("lineitem",))
def _mutual_topk_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected mutual-top-K co-supply edges (a < b), degree <= K by
    construction; a session memo because BOTH graph queries and all
    their consumers read the identical frame — the pair self-join runs
    once per session, not once per query."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    os_ = li.distinct()
    a, b = os_.alias("a"), os_.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    directed = pairs.select(
        F.col("s1").alias("src"), F.col("s2").alias("dst"), "w"
    ).unionAll(pairs.select(F.col("s2").alias("src"), F.col("s1").alias("dst"), "w"))
    wtop = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    topk = (
        directed.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= _TRI_TOPK)
        .select("src", "dst")
    )
    t2 = topk.select(F.col("src").alias("rsrc"), F.col("dst").alias("rdst"))
    edges = (
        topk.join(
            t2,
            (F.col("src") == F.col("rdst")) & (F.col("dst") == F.col("rsrc")),
        )
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    return edges.localCheckpoint(eager=False)


@register(
    "supplier_triangle_stats",
    oracle=f"""
WITH {_EDGES_CTE_SQL}, deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
  GROUP BY v
), tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM edges e1 JOIN edges e2 ON e1.b = e2.a
  WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.a = e1.a AND e3.b = e2.b)
)
SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
       (SELECT COUNT(*) FROM tri) AS n_triangles,
       (SELECT CASE WHEN SUM(d * (d - 1) / 2) > 0 THEN
          {quant_sql("3.0 * (SELECT COUNT(*) FROM tri)"
                     " / SUM(d * (d - 1) / 2)", 6)} END
        FROM deg) AS global_clustering
""",
)
def supplier_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the supplier
    co-occurrence graph (suppliers co-appearing in an order).

    The raw co-occurrence graph is dense (every frequent supplier pair
    eventually co-occurs), so edges are the MUTUAL top-{K} strongest
    partners per supplier — a degree-<=K graph by construction, making
    the triangle join's fanout bounded at any corpus size (the same
    bucket-cap discipline as the LSH pair join, dedup.py:89).

    Plan: per-order distinct-supplier self-join (fanout bounded by
    order width), one pair aggregate, a per-node top-K window
    (partitioned), a self-equi-join for mutuality, then the classic
    enumerate-wedges + close-with-semi-join triangle count. All joins
    are equi-joins; the window is partitioned by node.

    Triangles are counted once per (a<b, b<c, edge a-c) orientation;
    wedges = sum over nodes of C(deg, 2); global clustering =
    3*triangles / wedges.
    """
    # the mutual-join and the three triangle joins all reuse `edges`;
    # it is tiny (<= K*|V| rows) and localCheckpointed by the helper so
    # the pair aggregate runs once, not four times
    edges = _mutual_topk_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e2 = edges.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    wedges2 = edges.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    tri = wedges2.join(
        edges.select(F.col("a").alias("ta"), F.col("b").alias("tc")),
        (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")),
        "left_semi",
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("n_wedges")
    )
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    out = n_edges.crossJoin(n_wedges).crossJoin(n_tri)
    return out.select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            quant(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
        ).alias("global_clustering"),
    )


#: Synchronous label-propagation rounds (unrolled identically in the
#: oracle's CTE chain).
_LPA_ROUNDS = 3

#: Composite argmax key base: label < 2^31 on TPC-H-scale keys, so
#: ``cnt * 2^32 + (2^31 - label)`` orders by (count, then SMALLEST
#: label) under plain integer MAX — deterministic mode in both engines.
_LPA_BASE = 1 << 32
_LPA_MAXL = 1 << 31


def _lpa_round_sql(labels: str, rnd: int, materialized: bool = False) -> str:
    return f"""lpa{rnd} AS {"MATERIALIZED " if materialized else ""}(
  SELECT m.src AS v,
         CAST({_LPA_MAXL} - (MAX(m.key) % {_LPA_BASE}) AS BIGINT) AS label
  FROM (
    SELECT d.src, COUNT(*) * {_LPA_BASE}::BIGINT
             + ({_LPA_MAXL} - l.label) AS key
    FROM (SELECT a AS src, b AS dst FROM edges
          UNION ALL SELECT b AS src, a AS dst FROM edges) d
    JOIN {labels} l ON d.dst = l.v
    GROUP BY d.src, l.label) m
  GROUP BY m.src
)"""


@register(
    "supplier_communities_lpa",
    oracle=f"""
WITH {_EDGES_CTE_SQL}, nodes AS (
  SELECT a AS v FROM edges UNION SELECT b AS v FROM edges
), lpa0 AS (
  SELECT v, v AS label FROM nodes
), {_lpa_round_sql("lpa0", 1)}, {_lpa_round_sql("lpa1", 2, materialized=True)},
   {_lpa_round_sql("lpa2", 3, materialized=True)}, chg AS (
  SELECT CAST(SUM(CASE WHEN l3.label <> l2.label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_changed_last_round
  FROM lpa3 l3 JOIN lpa2 l2 ON l3.v = l2.v
)
SELECT label AS community, COUNT(*) AS size,
       CAST(MIN(v) AS BIGINT) AS min_member,
       ANY_VALUE(n_changed_last_round) AS n_changed_last_round
FROM lpa{_LPA_ROUNDS} CROSS JOIN chg
GROUP BY label
ORDER BY community
""",
)
def supplier_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (3 rounds)
    on the mutual-top-K co-supply graph (same edge list as
    ``supplier_triangle_stats`` — the shared _EDGES_CTE_SQL / helper
    keeps both queries on the identical graph).

    Each round every node adopts the MODE of its neighbors' labels,
    ties to the smallest label — made deterministic and engine-exact by
    packing (count, smallest-label) into one integer MAX key
    (``cnt * 2^32 + (2^31 - label)``), the same composite-key argmin
    trick as the k-means assignment (clustering.py). Degree <= K bounds
    every per-round message count at K*|V|.

    Scale: one edges⋈labels broadcast-able join + two grouped
    aggregates per round, fixed round count → shallow lineage; a
    convergence-driven variant would localCheckpoint per round like
    dedup_clusters. Round count is deliberately small: on a
    mutual-top-K graph LPA stabilizes fast, and the oracle unrolls the
    IDENTICAL three rounds, so parity checks the whole fixpoint.

    Convergence honesty (VERDICT r8 task 5): ``n_changed_last_round``
    reports how many nodes still switched label in round 3 — 0 means
    the unroll reached the fixpoint; nonzero means a deeper graph
    needs more rounds and SAYS so in the output instead of silently
    truncating.
    """
    edges = _mutual_topk_edges(spark, sf_dir)
    directed = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    directed = directed.localCheckpoint(eager=False)  # reused every round
    labels = directed.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("label")
    )
    prev = None
    for i in range(_LPA_ROUNDS):
        msgs = (
            directed.join(labels, directed.dst == labels.v)
            .groupBy("src", "label")
            .agg(
                (
                    F.count(F.lit(1)) * F.lit(_LPA_BASE).cast("long")
                    + (F.lit(_LPA_MAXL) - F.col("label"))
                ).alias("key")
            )
        )
        labels = msgs.groupBy("src").agg(
            (F.lit(_LPA_MAXL) - F.max("key") % _LPA_BASE)
            .cast("long")
            .alias("label")
        ).select(F.col("src").alias("v"), "label")
        if i >= _LPA_ROUNDS - 2:
            # the last two label frames each feed two consumers (the
            # next round / the rollup AND the change count) — the
            # oracle's AS MATERIALIZED twin
            labels = labels.localCheckpoint(eager=False)
        if i == _LPA_ROUNDS - 2:
            prev = labels
    # convergence honesty (VERDICT r8 task 5): how many nodes still
    # changed label in the final round — 0 means the fixed unroll
    # reached the fixpoint, nonzero means a deeper graph needs more
    # rounds and says so in every output row
    chg = F.broadcast(
        labels.join(
            prev.select("v", F.col("label").alias("label_prev")), "v"
        ).agg(
            F.sum(
                (F.col("label") != F.col("label_prev")).cast("long")
            )
            .cast("long")
            .alias("n_changed_last_round")
        )
    )
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("size"), F.min("v").cast("long").alias("min_member"))
        .crossJoin(chg)
        .select(
            F.col("label").alias("community"),
            "size",
            "min_member",
            "n_changed_last_round",
        )
        .orderBy("community")
    )


#: Adamic-Adar per-common-neighbor terms snap to this integer grid
#: before summation (terms are 1/ln(deg) <= 1/ln(2), so the scaled
#: BIGINTs never overflow); the two engines then sum EXACT integers in
#: any order — same discipline as the pagerank per-iteration snap.
_AA_GRID = 1_000_000_000_000
_AA_TOPK = 20


@register(
    "supplier_adamic_adar_topk",
    oracle=f"""
WITH {_EDGES_CTE_SQL}, dir AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL
  SELECT b AS src, a AS dst FROM edges
), deg AS (
  SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM dir GROUP BY src
), wedge AS (
  SELECT d1.src AS x, d2.dst AS y, d1.dst AS z
  FROM dir d1 JOIN dir d2 ON d1.dst = d2.src
  WHERE d1.src < d2.dst
), cand AS (
  SELECT w.x, w.y,
         CAST(floor(1.0 / LN(CAST(g.d AS DOUBLE)) * {_AA_GRID} + 0.5)
              AS BIGINT) AS t
  FROM wedge w JOIN deg g ON g.v = w.z
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.a = w.x AND e.b = w.y)
), scored AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(t) AS BIGINT) AS s
  FROM cand GROUP BY x, y
)
SELECT x AS s1, y AS s2, n_common,
       {quant_sql(f"CAST(s AS DOUBLE) / {_AA_GRID}", 9)} AS aa_score
FROM scored
ORDER BY aa_score DESC, s1, s2
LIMIT {_AA_TOPK}
""",
)
def supplier_adamic_adar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the mutual-top-K supplier graph: top-20
    non-adjacent pairs by Adamic-Adar score (sum over common
    neighbors z of 1/ln(deg(z)) — rarer shared partners count more).
    The third member of the graph suite: components (LPA), global
    structure (triangles/PageRank), and now edge PREDICTION — "which
    suppliers are likely partners that haven't co-supplied yet", the
    recommender shape.

    Same degree-<=K graph as ``supplier_triangle_stats`` (shared
    memoized ``_mutual_topk_edges``), so the wedge join's fanout is
    bounded by K^2 per node at any corpus size. deg(z) >= 2 for every
    common neighbor by construction (z is adjacent to both endpoints),
    so 1/ln(deg) is always finite. Each term snaps to the 1e-12 grid before
    the per-pair sum (exact BIGINTs in both engines — the snap-before-
    reassociating-sum discipline), then one quantized division; ties
    break on (s1, s2) for a total order.

    Plan: wedge enumeration is one self-equi-join of the checkpointed
    edge list, adjacency exclusion one left-anti join, ranking a
    TakeOrderedAndProject.
    """
    edges = _mutual_topk_edges(spark, sf_dir)
    dirr = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = dirr.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    d2 = dirr.select(F.col("src").alias("z2"), F.col("dst").alias("y"))
    wedge = (
        dirr.join(d2, F.col("dst") == F.col("z2"))
        .where(F.col("src") < F.col("y"))
        .select(F.col("src").alias("x"), "y", F.col("dst").alias("z"))
    )
    nonadj = wedge.join(
        edges,
        (F.col("x") == F.col("a")) & (F.col("y") == F.col("b")),
        "left_anti",
    )
    cand = nonadj.join(deg.select(F.col("src").alias("z"), "d"), "z").select(
        "x",
        "y",
        F.floor(1.0 / F.log(F.col("d").cast("double")) * _AA_GRID + 0.5)
        .cast("long")
        .alias("t"),
    )
    scored = cand.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("t").cast("long").alias("s"),
    )
    return (
        scored.select(
            F.col("x").alias("s1"),
            F.col("y").alias("s2"),
            "n_common",
            quant(F.col("s").cast("double") / _AA_GRID, 9).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "s1", "s2")
        .limit(_AA_TOPK)
    )


# ---------------------------------------------------------------------------
# Round-8 batch 4: HITS hubs & authorities on the bipartite trade graph
# ---------------------------------------------------------------------------

#: Fixed HITS iteration count and per-kind top-k.
_HITS_ITERS = 3
_HITS_TOP_K = 10

_HITS_PAIRS_SQL = """
pairs AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
"""


def _hits_auth_sql(prev_h: str, cur: str) -> str:
    return f"""
{cur}raw AS MATERIALIZED (
  SELECT p.s, SUM(h.v) AS v FROM pairs p JOIN {prev_h} h ON h.c = p.c
  GROUP BY p.s
), {cur} AS MATERIALIZED (
  SELECT s, {quant_sql(f"v / (SELECT MAX(v) FROM {cur}raw)", 12)} AS v
  FROM {cur}raw
)"""


def _hits_hub_sql(prev_a: str, cur: str) -> str:
    return f"""
{cur}raw AS MATERIALIZED (
  SELECT p.c, SUM(a.v) AS v FROM pairs p JOIN {prev_a} a ON a.s = p.s
  GROUP BY p.c
), {cur} AS MATERIALIZED (
  SELECT c, {quant_sql(f"v / (SELECT MAX(v) FROM {cur}raw)", 12)} AS v
  FROM {cur}raw
)"""


@register(
    "supplier_hits_scores",
    oracle=f"""
WITH {_HITS_PAIRS_SQL},
h0 AS (SELECT DISTINCT c, 1.0 AS v FROM pairs)
,{_hits_auth_sql("h0", "a1")}
,{_hits_hub_sql("a1", "h1")}
,{_hits_auth_sql("h1", "a2")}
,{_hits_hub_sql("a2", "h2")}
,{_hits_auth_sql("h2", "a3")}
,{_hits_hub_sql("a3", "h3")}
,da AS MATERIALIZED (
  SELECT a3.s, a3.v, abs(a3.v - a2.v) AS dv FROM a3 JOIN a2 ON a3.s = a2.s
), dh AS MATERIALIZED (
  SELECT h3.c, h3.v, abs(h3.v - h2.v) AS dv FROM h3 JOIN h2 ON h3.c = h2.c
)
SELECT * FROM (
  SELECT 'supplier' AS kind, s AS node, {quant_sql("v", 9)} AS score,
         {quant_sql("dv", 9)} AS delta_q,
         {quant_sql("(SELECT MAX(dv) FROM da)", 9)} AS max_delta
  FROM da ORDER BY score DESC, node LIMIT {_HITS_TOP_K}
)
UNION ALL
SELECT * FROM (
  SELECT 'customer' AS kind, c AS node, {quant_sql("v", 9)} AS score,
         {quant_sql("dv", 9)} AS delta_q,
         {quant_sql("(SELECT MAX(dv) FROM dh)", 9)} AS max_delta
  FROM dh ORDER BY score DESC, node LIMIT {_HITS_TOP_K}
)
ORDER BY kind, score DESC, node
""",
)
def supplier_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (hubs & authorities) on the DIRECTED customer→supplier
    purchase graph: an authoritative supplier is bought from by strong
    hub customers; a hub customer buys from authoritative suppliers —
    the mutually-recursive ranking PageRank's single score can't
    express, and the natural shape for a BIPARTITE graph (PageRank
    here needed the symmetrized union). Three alternating power-
    iteration rounds, max-normalized per round.

    Determinism: the edge list is exact; each round's scores are one
    SUM + one division by the round's MAX, snapped to the 1e-12 grid
    (the pagerank per-iteration discipline — inputs re-identical each
    round, only the final step's reassociation meets the 9-dp output
    grid); top-k ties break on node id.

    Plan: each half-round is ONE equi-join shuffle of edges against a
    node-score table plus a 1-row broadcast max — |E| rows move per
    round, |V| state, fixed depth. Same cost envelope as
    ``pagerank_trade_network``.

    Convergence honesty (VERDICT r8 task 5): ``delta_q`` is the
    per-node score movement in the final round and ``max_delta`` the
    maximum movement over ALL nodes of that kind — a graph whose
    scores are still swinging at round 3 reports it in-band instead of
    presenting a truncated iteration as converged.

    No reference analogue; extends the SURVEY §2 graph family.
    """
    # a warmed session memo: read by all 6 half-rounds (VERDICT r12
    # task 3)
    pairs = _hits_pairs(spark, sf_dir)
    h = pairs.select("c").distinct().withColumn("v", F.lit(1.0))

    def half(scores: DataFrame, key: str, other: str) -> DataFrame:
        # Materialize each half-round: `raw` feeds BOTH the max and the
        # normalization, and rounds nest — without the checkpoint the
        # plan re-evaluates the whole history 2^rounds times (and the
        # shuffle-file fan-out exhausts fds long before it finishes).
        raw = (
            pairs.join(scores, key)
            .groupBy(other)
            .agg(F.sum("v").alias("v"))
            .localCheckpoint(eager=False)
        )
        mx = F.broadcast(raw.agg(F.max("v").alias("mx")))
        return raw.crossJoin(mx).select(
            other, quant(F.col("v") / F.col("mx"), 12).alias("v")
        )

    a = a_prev = h_prev = None
    for i in range(_HITS_ITERS):
        a = half(h, "c", "s")
        h = half(a, "s", "c")
        if i == _HITS_ITERS - 2:
            # penultimate round's scores feed the convergence deltas;
            # they are cheap projections over already-checkpointed raw
            # frames, so keeping the handles costs nothing extra
            a_prev, h_prev = a, h

    def deltas(cur: DataFrame, prev: DataFrame, key: str, kind: str) -> DataFrame:
        d = cur.join(
            prev.select(key, F.col("v").alias("v_prev")), key
        ).select(
            key, "v", F.abs(F.col("v") - F.col("v_prev")).alias("dv")
        )
        mx = F.broadcast(d.agg(F.max("dv").alias("mx")))
        return (
            d.crossJoin(mx)
            .select(
                F.lit(kind).alias("kind"),
                F.col(key).alias("node"),
                quant("v", 9).alias("score"),
                quant("dv", 9).alias("delta_q"),
                quant("mx", 9).alias("max_delta"),
            )
            .orderBy(F.col("score").desc(), "node")
            .limit(_HITS_TOP_K)
        )

    return deltas(a, a_prev, "s", "supplier").unionByName(
        deltas(h, h_prev, "c", "customer")
    ).orderBy("kind", F.col("score").desc(), "node")


# ---------------------------------------------------------------------------
# Round-8 batch 6: k-core decomposition (fixed-round peeling)
# ---------------------------------------------------------------------------

#: Core threshold and fixed peeling rounds (unrolled in the oracle).
_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_round_sql(prev_edges: str, cur: str) -> str:
    return f"""
{cur}keep AS MATERIALIZED (
  SELECT node FROM (
    SELECT a AS node FROM {prev_edges}
    UNION ALL SELECT b FROM {prev_edges}) d
  GROUP BY node HAVING COUNT(*) >= {_KCORE_K}
), {cur} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev_edges} e
  JOIN {cur}keep ka ON ka.node = e.a
  JOIN {cur}keep kb ON kb.node = e.b
)"""


@register(
    "supplier_kcore_peeling",
    oracle=f"""
WITH {_EDGES_CTE_SQL}
, edges_m AS MATERIALIZED (SELECT a, b FROM edges)
,{_kcore_round_sql("edges_m", "p1")}
,{_kcore_round_sql("p1", "p2")}
,{_kcore_round_sql("p2", "p3")}
, c0 AS (
  SELECT (SELECT COUNT(*) FROM (SELECT DISTINCT node FROM
            (SELECT a AS node FROM edges_m UNION ALL SELECT b FROM edges_m) u) v)
           AS n_nodes,
         (SELECT COUNT(*) FROM edges_m) AS n_edges
), c1 AS (
  SELECT (SELECT COUNT(*) FROM (SELECT DISTINCT node FROM
            (SELECT a AS node FROM p1 UNION ALL SELECT b FROM p1) u) v)
           AS n_nodes,
         (SELECT COUNT(*) FROM p1) AS n_edges
), c2 AS (
  SELECT (SELECT COUNT(*) FROM (SELECT DISTINCT node FROM
            (SELECT a AS node FROM p2 UNION ALL SELECT b FROM p2) u) v)
           AS n_nodes,
         (SELECT COUNT(*) FROM p2) AS n_edges
), c3 AS (
  SELECT (SELECT COUNT(*) FROM (SELECT DISTINCT node FROM
            (SELECT a AS node FROM p3 UNION ALL SELECT b FROM p3) u) v)
           AS n_nodes,
         (SELECT COUNT(*) FROM p3) AS n_edges
)
SELECT r.rnd,
       CAST(r.n_nodes AS BIGINT) AS n_nodes,
       CAST(r.n_edges AS BIGINT) AS n_edges,
       CAST(r.prev_nodes - r.n_nodes AS BIGINT) AS n_dropped_nodes,
       (r.prev_nodes = r.n_nodes AND r.prev_edges = r.n_edges) AS converged
FROM (
  SELECT 1 AS rnd, c1.n_nodes, c1.n_edges,
         c0.n_nodes AS prev_nodes, c0.n_edges AS prev_edges
  FROM c1 CROSS JOIN c0
  UNION ALL
  SELECT 2, c2.n_nodes, c2.n_edges, c1.n_nodes, c1.n_edges
  FROM c2 CROSS JOIN c1
  UNION ALL
  SELECT 3, c3.n_nodes, c3.n_edges, c2.n_nodes, c2.n_edges
  FROM c3 CROSS JOIN c2
) r
ORDER BY r.rnd
""",
)
def supplier_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=3) of the mutual-top-K co-supply graph: each
    round drops every node with fewer than k surviving neighbors and
    the edges touching it, reporting (nodes, edges) after each of 3
    unrolled rounds. The k-core is the standard "dense backbone"
    extraction — community detection and graph-embedding pipelines
    peel to a core first so peripheral tendrils don't dominate — and
    peeling is THE iterative-deletion shape (monotone shrinking state,
    like ``dedup_clusters``' label propagation but subtractive).

    Exactness: pure integer degree counting on the SAME memoized edge
    list the triangle/Adamic-Adar queries use; a fixed round count
    keeps the oracle an unrolled CTE chain (MATERIALIZED — each round
    feeds the degree count AND the edge filter, the HITS lesson).
    Convergence is typically reached before round 3 (rounds 2 and 3
    then report identical counts — the pytest pins monotonicity, not
    convergence).

    Plan per round: one degree aggregate over the current edge list +
    two semi-join filters — |E| bounded by K*|V| from the mutual-top-K
    construction, shrinking monotonically.

    No reference analogue; extends the SURVEY §2 graph family.
    """
    edges = _mutual_topk_edges(spark, sf_dir)
    rows = []
    cur = edges.select("a", "b")

    def counts(frame: DataFrame) -> DataFrame:
        n_edges = frame.agg(
            F.count(F.lit(1)).cast("long").alias("n_edges")
        )
        n_nodes = (
            frame.select(F.col("a").alias("node"))
            .unionAll(frame.select(F.col("b").alias("node")))
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        )
        return n_nodes.crossJoin(n_edges)

    prev_counts = counts(cur)
    for rnd in range(1, _KCORE_ROUNDS + 1):
        deg = (
            cur.select(F.col("a").alias("node"))
            .unionAll(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= _KCORE_K).select("node")
        cur = (
            cur.join(keep.withColumnRenamed("node", "a"), "a")
            .join(keep.withColumnRenamed("node", "b"), "b")
            .select("a", "b")
            .localCheckpoint(eager=False)  # feeds next round's degree + filter
        )
        cur_counts = counts(cur)
        rows.append(
            cur_counts.crossJoin(
                prev_counts.select(
                    F.col("n_nodes").alias("prev_nodes"),
                    F.col("n_edges").alias("prev_edges"),
                )
            ).select(
                F.lit(rnd).alias("rnd"),
                "n_nodes",
                "n_edges",
                # convergence honesty (VERDICT r8 task 5): the peel's
                # per-round shrinkage; a final round that still drops
                # nodes means the fixed unroll has NOT reached the
                # k-core and reports it in-band
                (F.col("prev_nodes") - F.col("n_nodes"))
                .cast("long")
                .alias("n_dropped_nodes"),
                (
                    (F.col("prev_nodes") == F.col("n_nodes"))
                    & (F.col("prev_edges") == F.col("n_edges"))
                ).alias("converged"),
            )
        )
        prev_counts = cur_counts
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("rnd")


# ---------------------------------------------------------------------------
# Round-9: degree assortativity + local clustering (Watts-Strogatz)
# ---------------------------------------------------------------------------

#: Local clustering coefficients snap to this grid before averaging.
_LCC_GRID = 1_000_000_000


@register(
    "graph_degree_assortativity",
    oracle=f"""
WITH {_EDGES_CTE_SQL}, dir AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL SELECT b, a FROM edges
), deg AS (
  SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM dir GROUP BY src
), de AS (
  SELECT da.d AS dx, db.d AS dy
  FROM dir JOIN deg da ON da.v = dir.src JOIN deg db ON db.v = dir.dst
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dx) AS BIGINT) AS sx,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy
  FROM de
)
SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       {quant_sql("CAST(sx AS DOUBLE) / n", 6)} AS mean_degree,
       {quant_sql(
           "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)"
           " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)",
           6)} AS assortativity
FROM m
""",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the mutual-top-K co-supply graph: the
    Pearson correlation of endpoint degrees over all directed edge
    instances. Positive = hubs partner with hubs (assortative, robust
    core), negative = hub-and-spoke (disassortative, fragile to hub
    loss) — the one-number structural summary that tells you WHICH
    failure mode the supply network has, complementing the density
    (``supplier_triangle_stats``) and centrality (``pagerank``/HITS)
    views. Both endpoint marginals are identical on a symmetrized edge
    list, so r = (n*Sxy - Sx^2) / (n*Sxx - Sx^2) in exact integers.

    Determinism: degrees are bounded (<= K = {_TRI_TOPK}) integers;
    every moment is an exact BIGINT from one shuffle; the correlation
    is ONE quantized expression.

    Plan: degree count + two degree joins on the degree-bounded edge
    list (each broadcastable: |V| rows), one 4-number fold.

    No reference analogue; extends the SURVEY §2 graph family.
    """
    edges = _mutual_topk_edges(spark, sf_dir)
    dirx = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = dirx.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    de = (
        dirx.join(
            F.broadcast(deg.select(F.col("v").alias("src"), F.col("d").alias("dx"))),
            "src",
        )
        .join(
            F.broadcast(deg.select(F.col("v").alias("dst"), F.col("d").alias("dy"))),
            "dst",
        )
        .select("dx", "dy")
    )
    m = de.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
    )
    n, sx, sxx, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sxy"))
    return m.select(
        F.expr("n DIV 2").alias("n_edges"),
        quant(sx.cast("double") / n, 6).alias("mean_degree"),
        quant(
            (n.cast("double") * sxy - sx.cast("double") * sx)
            / (n.cast("double") * sxx - sx.cast("double") * sx),
            6,
        ).alias("assortativity"),
    )


@register(
    "supplier_local_clustering",
    oracle=f"""
WITH {_EDGES_CTE_SQL}, dir AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL SELECT b, a FROM edges
), deg AS (
  SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM dir GROUP BY src
), wedge AS (
  SELECT d1.src AS v, d1.dst AS u, d2.dst AS w
  FROM dir d1 JOIN dir d2 ON d1.src = d2.src AND d1.dst < d2.dst
), tri AS (
  SELECT w.v, CAST(COUNT(*) AS BIGINT) AS t
  FROM wedge w JOIN edges e ON e.a = w.u AND e.b = w.w
  GROUP BY w.v
), lcc AS (
  SELECT deg.v, deg.d, COALESCE(tri.t, 0) AS t,
         CAST(floor(2.0 * COALESCE(tri.t, 0) / (deg.d * (deg.d - 1))
                    * {_LCC_GRID} + 0.5) AS BIGINT) AS cc_grid
  FROM deg LEFT JOIN tri ON tri.v = deg.v
  WHERE deg.d >= 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes_deg2,
       CAST(SUM(t) AS BIGINT) AS n_closed_wedges,
       {quant_sql(
           f"CAST(SUM(cc_grid) AS DOUBLE) / {_LCC_GRID} / COUNT(*)",
           6)} AS mean_local_cc,
       CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_open_nodes
FROM lcc
""",
)
def supplier_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watts-Strogatz AVERAGE local clustering of the co-supply graph:
    per node, the share of its neighbor pairs that are themselves
    connected, averaged over nodes of degree >= 2. Deliberately a
    different number from ``supplier_triangle_stats``' global
    transitivity — transitivity weights hubs by their wedge count,
    while the local average weights every node equally, and the GAP
    between the two is the classic signature of degree-correlated
    clustering. ``n_open_nodes`` (degree >= 2, zero closed wedges)
    counts pure brokers.

    Determinism: triangles-per-node and degrees are exact integers on
    the degree-<= K mutual-top-K graph; each node's coefficient snaps
    to the 1e-9 grid before the order-free BIGINT mean.

    Plan: the wedge join's fanout is <= C(K,2) per node by the graph
    construction — linear in |V| at any corpus size; the closure probe
    is one equi-join against the (a < b) edge list.

    No reference analogue; extends the SURVEY §2 graph family.
    """
    edges = _mutual_topk_edges(spark, sf_dir)
    dirx = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = dirx.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    w1 = dirx.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    w2 = dirx.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    wedge = w1.join(w2, "v").where(F.col("u") < F.col("w"))
    tri = (
        wedge.join(
            edges.select(F.col("a").alias("u"), F.col("b").alias("w")),
            ["u", "w"],
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    lcc = (
        deg.where(F.col("d") >= 2)
        .join(tri, "v", "left")
        .na.fill({"t": 0})
        .select(
            "v",
            "t",
            F.floor(
                2.0
                * F.col("t")
                / (F.col("d") * (F.col("d") - 1))
                * _LCC_GRID
                + 0.5
            )
            .cast("long")
            .alias("cc_grid"),
        )
    )
    return lcc.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes_deg2"),
        F.sum("t").cast("long").alias("n_closed_wedges"),
        quant(
            F.sum("cc_grid").cast("double") / _LCC_GRID / F.count(F.lit(1)),
            6,
        ).alias("mean_local_cc"),
        F.sum((F.col("t") == 0).cast("long"))
        .cast("long")
        .alias("n_open_nodes"),
    )


# ---------------------------------------------------------------------------
# Round-10 backlog: personalized PageRank from a nation seed set
# ---------------------------------------------------------------------------

#: Seed nation for the personalized teleport set: the nation of
#: supplier 1 — data-derived so the seed set is nonempty at EVERY SF
#: (a fixed nation id is empty at sf0.001, which would make the whole
#: PPR vector vacuously zero in both engines).
_PPR_SEED_SUPP = 1


def _ppr_iter_sql(prev: str, cur: str, materialized: bool = False) -> str:
    return f"""
{cur} AS {"MATERIALIZED " if materialized else ""}(
  SELECT n.node,
         {quant_sql(
             f"COALESCE(s.contrib, 0.0)"
             f" + CASE WHEN n.is_seed THEN {TELEPORT} / (SELECT k FROM ks)"
             f"   ELSE 0.0 END", 12)} AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, {DAMPING} * SUM({prev}.r / deg.d) AS contrib
    FROM edges e
    JOIN {prev} ON e.src = {prev}.node
    JOIN deg ON e.src = deg.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)"""


@register(
    "supplier_personalized_pagerank",
    oracle=f"""
WITH {_EDGES_SQL},
seed_nation AS (
  SELECT s_nationkey AS nk FROM supplier WHERE s_suppkey = {_PPR_SEED_SUPP}
),
nodes AS (
  SELECT src AS node,
         (src % 2 = 1 AND EXISTS (
            SELECT 1 FROM supplier sp
            WHERE sp.s_suppkey * 2 + 1 = src
              AND sp.s_nationkey = (SELECT nk FROM seed_nation))) AS is_seed
  FROM deg
),
ks AS (SELECT CAST(SUM(CASE WHEN is_seed THEN 1 ELSE 0 END) AS DOUBLE) AS k
       FROM nodes),
p0 AS (
  SELECT node, CASE WHEN is_seed THEN 1.0 / (SELECT k FROM ks)
               ELSE 0.0 END AS r
  FROM nodes
)
,{_ppr_iter_sql("p0", "p1")}
,{_ppr_iter_sql("p1", "p2", materialized=True)}
,{_ppr_iter_sql("p2", "p3", materialized=True)}
,delta AS MATERIALIZED (
  SELECT p3.node, p3.r, abs(p3.r - p2.r) AS dv
  FROM p3 JOIN p2 ON p3.node = p2.node
), resid AS (
  SELECT CAST(SUM(CAST(floor(dv * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS sgrid
  FROM delta
)
SELECT d.node, {quant_sql("d.r", 9)} AS ppr_q,
       n.is_seed,
       {quant_sql("CAST(r2.sgrid AS DOUBLE) / 1e12", 9)} AS l1_residual
FROM delta d JOIN nodes n ON n.node = d.node CROSS JOIN resid r2
ORDER BY ppr_q DESC, d.node
LIMIT {TOP_K}
""",
)
def supplier_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: random walks that TELEPORT only to the
    seed nation's suppliers (the nation of supplier 1 — data-derived
    so the seed set is nonempty at every SF), three damped rounds on the same
    customer↔supplier graph as ``pagerank_trade_network``. Global
    PageRank answers "who is central to everyone"; PPR answers "who is
    central FROM this seed set's point of view" — the
    locality-sensitive ranking behind related-entity recommendation
    and trust propagation, and the zero-mass-start case the global
    query never exercises (non-seed nodes begin at 0; mass spreads
    outward through the LEFT join + COALESCE, so unreached nodes hold
    honest zeros instead of vanishing).

    Determinism: the pagerank per-iteration 1e-12 snap; the seed set
    is an exact key predicate; convergence columns follow the round-9
    discipline (delta grid-snapped into an order-free BIGINT
    l1_residual).

    Plan: per round one edges⋈ranks shuffle + a LEFT join back to the
    |V| node table; same cost envelope as the global query plus the
    node-table join (broadcastable: |V| rows).

    No reference analogue; extends the SURVEY §2 graph family.
    """
    supplier = load_table(spark, sf_dir, "supplier")
    deg = _trade_deg(spark, sf_dir)  # shared with the global query
    seed_nation = supplier.where(
        F.col("s_suppkey") == _PPR_SEED_SUPP
    ).select(F.col("s_nationkey").alias("nk"))
    seeds = F.broadcast(
        supplier.join(F.broadcast(seed_nation), F.col("s_nationkey") == F.col("nk"))
        .select(
            (F.col("s_suppkey") * 2 + 1).alias("node"),
            F.lit(True).alias("is_seed"),
        )
    )
    nodes = (
        deg.select(F.col("src").alias("node"))
        .join(seeds, "node", "left")
        .na.fill({"is_seed": False})
        .localCheckpoint(eager=False)  # read every round + output join
    )
    ks = F.broadcast(
        nodes.agg(
            F.sum(F.col("is_seed").cast("long")).cast("double").alias("k")
        )
    )
    edges_deg = _trade_edges_deg(spark, sf_dir)  # memoized (src, dst, d)
    ranks = nodes.crossJoin(ks).select(
        "node",
        F.when(F.col("is_seed"), 1.0 / F.col("k")).otherwise(0.0).alias("r"),
    )
    prev = None
    for i in range(N_ITERS):
        contrib = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .select(F.col("dst"), (F.col("r") / F.col("d")).alias("cv"))
            .groupBy("dst")
            .agg((F.lit(DAMPING) * F.sum("cv")).alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(ks)
            .select(
                "node",
                quant(
                    F.coalesce(F.col("contrib"), F.lit(0.0))
                    + F.when(
                        F.col("is_seed"), F.lit(TELEPORT) / F.col("k")
                    ).otherwise(0.0),
                    12,
                ).alias("r"),
            )
        )
        if i >= N_ITERS - 2:
            ranks = ranks.localCheckpoint(eager=False)
        if i == N_ITERS - 2:
            prev = ranks
    delta = ranks.join(
        prev.select("node", F.col("r").alias("r_prev")), "node"
    ).select("node", "r", F.abs(F.col("r") - F.col("r_prev")).alias("dv"))
    resid = F.broadcast(
        delta.agg(
            F.sum(F.floor(F.col("dv") * 1e12 + 0.5).cast("long"))
            .cast("long")
            .alias("sgrid")
        )
    )
    return (
        delta.join(nodes, "node")
        .crossJoin(resid)
        .select(
            "node",
            quant("r", 9).alias("ppr_q"),
            "is_seed",
            quant(F.col("sgrid").cast("double") / 1e12, 9).alias(
                "l1_residual"
            ),
        )
        .orderBy(F.desc("ppr_q"), "node")
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# Round-10: k-truss peeling (edge-support decomposition)
# ---------------------------------------------------------------------------

#: Truss order: an edge survives a round iff it participates in at
#: least _KTRUSS_K - 2 triangles among the CURRENT edges. Two peel
#: rounds unrolled (the supplier_kcore_peeling discipline).
_KTRUSS_K = 4
_KTRUSS_ROUNDS = 2

_KTRUSS_ROUND_SQL = """
, adj_{r} AS (
  SELECT a AS u, b AS v FROM e_{r} UNION ALL SELECT b AS u, a AS v FROM e_{r}
), sup_{r} AS MATERIALIZED (
  SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS sup
  FROM e_{r} e
  JOIN adj_{r} na ON na.u = e.a
  JOIN adj_{r} nb ON nb.u = e.b AND nb.v = na.v
  GROUP BY e.a, e.b
), e_{r1} AS MATERIALIZED (
  SELECT a, b FROM sup_{r} WHERE sup >= {kk}
), cnt_{r1} AS (
  SELECT CAST({r1} AS BIGINT) AS round,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e_{r}) AS n_edges_in,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e_{r})
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM e_{r1}) AS n_removed,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e_{r1}) AS n_edges_out
)"""


@register(
    "supplier_ktruss_peeling",
    oracle=(
        f"WITH {_EDGES_CTE_SQL}, e_0 AS MATERIALIZED (SELECT a, b FROM edges)"
        + "".join(
            _KTRUSS_ROUND_SQL.format(r=r, r1=r + 1, kk=_KTRUSS_K - 2)
            for r in range(_KTRUSS_ROUNDS)
        )
        + f"""
SELECT round, n_edges_in,
       CAST(n_removed AS BIGINT) AS n_removed, n_edges_out
FROM (SELECT * FROM cnt_1 UNION ALL SELECT * FROM cnt_2)
ORDER BY round
"""
    ),
)
def supplier_ktruss_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KTRUSS_K}-truss peeling of the mutual-top-K co-supply graph:
    each round recomputes every surviving edge's SUPPORT (triangles it
    closes among current edges) and removes edges with support <
    {_KTRUSS_K} - 2, reporting per-round edge counts. The truss is the
    edge-wise strengthening of the k-core (``supplier_kcore_peeling``
    removes weak NODES; this removes weak TIES): surviving edges are
    embedded in triangle-dense cohesion, the standard community-core
    primitive (Cohen 2008).

    Determinism: pure integer counting — supports, removals and edge
    counts are exact BIGINTs in both engines; rounds are unrolled
    identically in the oracle's CTE chain (MATERIALIZED, since each
    round's frame is consumed by three successors).

    Scale: the support join fans out through the adjacency list of a
    degree-<= {_TRI_TOPK} graph (the mutual-top-K construction bounds
    it), so per-edge work is O(K) per round; each round's edge frame is
    localCheckpointed before reuse (the iterative-frame discipline).

    No reference analogue; extends the SURVEY §2 graph family.
    """
    e = _mutual_topk_edges(spark, sf_dir)
    rows = []
    for r in range(_KTRUSS_ROUNDS):
        adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        na = adj.select(F.col("u").alias("ua"), F.col("v").alias("c"))
        nb = adj.select(F.col("u").alias("ub"), F.col("v").alias("cb"))
        sup = (
            e.join(na, F.col("a") == F.col("ua"))
            .join(
                nb,
                (F.col("b") == F.col("ub")) & (F.col("cb") == F.col("c")),
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("sup"))
        )
        e_next = (
            sup.where(F.col("sup") >= _KTRUSS_K - 2)
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        n_in = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges_in"))
        n_out = e_next.agg(
            F.count(F.lit(1)).cast("long").alias("n_edges_out")
        )
        rows.append(
            n_in.crossJoin(n_out).select(
                F.lit(r + 1).cast("long").alias("round"),
                "n_edges_in",
                (F.col("n_edges_in") - F.col("n_edges_out")).alias(
                    "n_removed"
                ),
                "n_edges_out",
            )
        )
        e = e_next
    out = rows[0]
    for fr in rows[1:]:
        out = out.unionByName(fr)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Round-11: multi-round BFS hop histogram from the min-id seed node
# ---------------------------------------------------------------------------

#: BFS depth bound — unrolled rounds in Spark, the recursion depth
#: guard in the oracle's recursive CTE. The bipartite trade network's
#: effective diameter is tiny (hub customers), so 6 saturates it; at
#: 100 TB the SAME bound holds because reachability saturates, not
#: because the data is small.
_BFS_MAX_HOPS = 6


@register(
    "trade_bfs_hop_histogram",
    oracle=f"""
WITH RECURSIVE {_EDGES_SQL},
seed AS (SELECT MIN(src) AS s FROM edges),
bfs(node, dist) AS (
  SELECT s, CAST(0 AS BIGINT) FROM seed
  UNION
  SELECT e.dst, b.dist + 1
  FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.dist < {_BFS_MAX_HOPS}
), best AS (
  SELECT node, CAST(MIN(dist) AS BIGINT) AS hop FROM bfs GROUP BY node
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg
)
SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       {quant_sql(
           "CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(tot.n_nodes)", 6)}
         AS frac_nodes
FROM best CROSS JOIN tot
GROUP BY hop
ORDER BY hop
""",
)
def trade_bfs_hop_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first-search hop histogram of the customer↔supplier
    trade network from the minimum-id seed node: how many nodes sit at
    shortest-path distance 0, 1, ... {_BFS_MAX_HOPS}, and what
    fraction of the graph each shell covers — the reachability /
    effective-diameter profile that complements PageRank (importance),
    LPA (communities) and k-core (density) over the SAME memoized edge
    list. The frontier recursion is the canonical iterative-graph
    shape a recursive SQL CTE states declaratively and Spark runs as
    bounded unrolled frontier joins.

    Spark strategy: {_BFS_MAX_HOPS} unrolled rounds of frontier ⋈
    edges (equi-join on src) with a left-anti join against the
    visited set (first-visit = shortest distance, since rounds ARE
    distance levels), per-round localCheckpoint to truncate lineage
    (the dedup label-propagation discipline). The DuckDB oracle states
    the same search as WITH RECURSIVE ... UNION (distinct), min-dist
    per node — a genuinely DIFFERENT algorithm (path enumeration +
    dedup vs frontier anti-join), so parity checks semantics.

    Scale: each round is one keyed equi-join + one anti-join on the
    frontier — work proportional to edges touched, never all-pairs;
    the visited set only grows by new nodes. Hop counts are exact
    BIGINTs; the fraction is one quantized division by |V|.

    No reference analogue; extends the SURVEY §2 graph family.
    """
    edges = _trade_edges(spark, sf_dir)
    deg = _trade_deg(spark, sf_dir)  # shared memoized degree table
    tot = F.broadcast(
        deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    seed = edges.agg(F.min("src").alias("node")).select(
        "node", F.lit(0).cast("long").alias("hop")
    )
    visited = seed.localCheckpoint(eager=False)
    frontier = visited
    for h in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(h).cast("long").alias("hop"))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return (
        visited.groupBy("hop")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .crossJoin(tot.withColumnRenamed("n_nodes", "nv"))
        .select(
            "hop",
            "n_nodes",
            quant(
                F.col("n_nodes").cast("double") / F.col("nv"), 6
            ).alias("frac_nodes"),
        )
        .orderBy("hop")
    )


# ---------------------------------------------------------------------------
# Round-11: neighbor-set Jaccard similarity on the mutual-top-K graph
# ---------------------------------------------------------------------------

_NJ_TOPK = 20


@register(
    "supplier_neighbor_jaccard_topk",
    oracle=f"""
WITH {_EDGES_CTE_SQL}, dir AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL
  SELECT b AS src, a AS dst FROM edges
), deg AS (
  SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM dir GROUP BY src
), wedge AS (
  SELECT d1.src AS x, d2.dst AS y,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM dir d1 JOIN dir d2 ON d1.dst = d2.src
  WHERE d1.src < d2.dst
  GROUP BY x, y
), scored AS (
  SELECT w.x, w.y, w.n_common, ga.d AS dx, gb.d AS dy,
         EXISTS (SELECT 1 FROM edges e
                 WHERE e.a = w.x AND e.b = w.y) AS is_adjacent
  FROM wedge w
  JOIN deg ga ON ga.v = w.x
  JOIN deg gb ON gb.v = w.y
)
SELECT x AS s1, y AS s2, n_common, is_adjacent,
       {quant_sql(
           "CAST(n_common AS DOUBLE) / (dx + dy - n_common)", 9)}
         AS jaccard
FROM scored
ORDER BY jaccard DESC, s1, s2
LIMIT {_NJ_TOPK}
""",
)
def supplier_neighbor_jaccard_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 supplier pairs by NEIGHBOR-SET Jaccard on the mutual-
    top-K co-supply graph: |N(x) ∩ N(y)| / |N(x) ∪ N(y)|, with the
    union size from the inclusion-exclusion identity d(x) + d(y) -
    common (never a second join). ``supplier_adamic_adar_topk`` ranks
    NON-adjacent pairs for link prediction with rarity weighting;
    neighbor Jaccard is the unweighted STRUCTURAL-ROLE similarity over
    ALL pairs sharing a neighbor (adjacent ones flagged) — the
    SimRank-lite signal role-mining and dedup-by-structure use.

    Determinism: wedge counts and degrees are exact BIGINTs; Jaccard
    is one quantized division; (jaccard desc, s1, s2) is total.

    Scale: the same degree-<= K wedge join as triangles/Adamic-Adar
    over the shared memoized edge list (fan-out <= K^2 per node at any
    corpus size), one degree join on each side, TakeOrderedAndProject.

    No reference analogue; extends the SURVEY §2 graph family.
    """
    edges = _mutual_topk_edges(spark, sf_dir)
    dirr = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    deg = dirr.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    d2 = dirr.select(F.col("src").alias("z2"), F.col("dst").alias("y"))
    wedge = (
        dirr.join(d2, F.col("dst") == F.col("z2"))
        .where(F.col("src") < F.col("y"))
        .groupBy(F.col("src").alias("x"), "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    adj = edges.select(
        F.col("a").alias("x"), F.col("b").alias("y"), F.lit(True).alias("adj")
    )
    scored = (
        wedge.join(deg.select(F.col("src").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("src").alias("y"), F.col("d").alias("dy")), "y")
        .join(adj, ["x", "y"], "left")
    )
    return (
        scored.select(
            F.col("x").alias("s1"),
            F.col("y").alias("s2"),
            "n_common",
            F.coalesce(F.col("adj"), F.lit(False)).alias("is_adjacent"),
            quant(
                F.col("n_common").cast("double")
                / (F.col("dx") + F.col("dy") - F.col("n_common")),
                9,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "s1", "s2")
        .limit(_NJ_TOPK)
    )


# ---------------------------------------------------------------------------
# Round-11: degree-distribution heavy-tail fit per node kind
# ---------------------------------------------------------------------------

#: Hill-estimator tail threshold (degree) — well inside both kinds'
#: tails at every test SF.
_DEG_XMIN = 4


@register(
    "trade_degree_powerlaw",
    oracle=f"""
WITH {_EDGES_SQL},
kinds AS (
  SELECT src,
         CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         d
  FROM deg
), fit AS (
  SELECT kind,
         CAST(COUNT(*) AS BIGINT) AS n_tail,
         SUM(LN(CAST(d AS DOUBLE) / {_DEG_XMIN}.0)) AS s_ln
  FROM kinds WHERE d >= {_DEG_XMIN} GROUP BY kind
), tot AS (
  SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(MAX(d) AS BIGINT) AS max_degree
  FROM kinds GROUP BY kind
)
SELECT t.kind, t.n_nodes, f.n_tail, t.max_degree,
       {quant_sql("1.0 + CAST(f.n_tail AS DOUBLE) / f.s_ln", 4)}
         AS alpha_hill
FROM tot t JOIN fit f ON t.kind = f.kind
ORDER BY t.kind
""",
)
def trade_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail fit of the trade network's degree distribution, per
    node kind (customer / supplier): the Hill estimator alpha = 1 +
    n / sum(ln(d/dmin)) over nodes with degree >= {_DEG_XMIN}, plus
    the max degree. The degree-tail exponent is what decides the
    SKEW-handling strategy for every graph query on this network — a
    low alpha (fat tail) says hub nodes exist and the wedge/message
    bounds (degree caps, salting) are load-bearing, not paranoia.
    Complements ``graph_degree_assortativity`` (degree CORRELATION)
    with the marginal-distribution shape, on the same memoized edges
    as PageRank/BFS. ``source_length_powerlaw``'s estimator, applied
    to graph degrees.

    Plan: one degree aggregate over the checkpointed edge list, a
    pushed-down tail filter, one (kind) fold each side, a 2-row join.
    ln() of identical doubles is engine-stable; the 4-dp quantizer
    absorbs summation-order ulps (the source_length_powerlaw
    discipline).

    No reference analogue; extends the SURVEY §2 graph family.
    """
    deg = _trade_deg(spark, sf_dir).select(
        "src", F.col("d").cast("long").alias("d")
    )  # shared memoized degree table
    kinds = deg.select(
        F.when(F.col("src") % 2 == 0, "customer")
        .otherwise("supplier")
        .alias("kind"),
        "d",
    )
    fit = (
        kinds.where(F.col("d") >= _DEG_XMIN)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tail"),
            F.sum(
                F.log(F.col("d").cast("double") / float(_DEG_XMIN))
            ).alias("s_ln"),
        )
    )
    tot = kinds.groupBy("kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.max("d").cast("long").alias("max_degree"),
    )
    return (
        tot.join(fit, "kind")
        .select(
            "kind",
            "n_nodes",
            "n_tail",
            "max_degree",
            quant(
                1.0 + F.col("n_tail").cast("double") / F.col("s_ln"), 4
            ).alias("alpha_hill"),
        )
        .orderBy("kind")
    )
