"""Iterative distributed algorithms (fixed-point loops as unrolled
dataflow), with integer-exact arithmetic so every iteration is
bit-deterministic under ANY partitioning and the DuckDB oracle can
replay the identical fixed number of steps.

- q216: PageRank over the part<->supplier bipartite graph. Ranks are
  integers scaled by 1e12; per-edge contributions use integer
  division, so partial-sum order can never perturb a result bit. The
  loop is unrolled in the LOGICAL plan (3 joined stages) — Catalyst
  sees one DAG, there is no driver-side collect between iterations.
- q217: Lloyd k-means over integer-quantized embeddings. Distances,
  argmin assignment (deterministic tie-break on centroid id), and
  centroid updates (sum DIV count) are all integer ops; the centroid
  "broadcast" between iterations is a relational crossJoin of an
  8-row table, never a driver round trip.

At 100 TB each iteration is the classic join+groupBy shuffle pair;
unrolling K fixed iterations costs K such stages and AQE coalesces
between them. Convergence-driven variants would gate the loop on a
driver-side scalar (the threshold-gated pattern of
operators/dedup.py); the fixed-K form here keeps the whole computation
a single declarative plan.

Reference basis: the reference's consumer is itself a fixed-point
state machine updated per tick against remembered state
(src/modules/dd/consumer.cpp:241-268); these are the batch-graph and
batch-clustering forms of iterate-to-stability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table

_PR_SCALE = 1_000_000_000_000  # 1e12: rank fixed-point scale
_PR_ITERS = 3
_PR_TOPK = 20


def _pr_oracle() -> str:
    """Unrolled 3-iteration PageRank in DuckDB SQL, mirroring the Spark
    plan stage for stage (integer division everywhere)."""
    steps = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f"""it{i} AS (
  SELECT n.node,
         {15 * _PR_SCALE // 100} + (85 * coalesce(s.s, 0)) // 100 AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank // d.deg) AS s
    FROM edges e
    JOIN {prev} r ON r.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)"""
        )
        prev = f"it{i}"
    return f"""
WITH edges AS (
  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
  UNION
  SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst FROM lineitem
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS rank FROM nodes),
{",".join(steps)}
SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       CAST(node // 2 AS BIGINT) AS entity_id,
       CAST(rank AS BIGINT) AS rank_scaled
FROM {prev}
ORDER BY rank_scaled DESC, node
LIMIT {_PR_TOPK}
"""


@register(
    "q216_pagerank_integer",
    category="analytics",
    oracle=_pr_oracle(),
)
def q216_pagerank_integer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 unrolled iterations) over the
    part<->supplier supply graph, in integer fixed-point so the result
    is bit-identical under any partitioning or shuffle order.

    Scale design: each iteration is one equi-join of the edge list
    with the current rank vector plus one groupBy(dst) — the textbook
    two-shuffle PageRank step; edges and per-node degree are computed
    once and reused across all iterations. No driver-side loop state:
    the 3 iterations unroll into a single Catalyst DAG, so AQE can
    coalesce every intermediate shuffle. Integer contributions
    (rank DIV deg, then (85*sum) DIV 100) make partial-aggregation
    order irrelevant — the float-PageRank nondeterminism that breaks
    differential testing at scale is designed out.

    Reference basis: iterate-to-stability against remembered state is
    the reference consumer's own loop shape
    (src/modules/dd/consumer.cpp:241-268).
    """
    li = load_table(spark, "lineitem", sf_dir)
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"), (F.col("l_suppkey") * 2 + 1).alias("dst")
    )
    rev = li.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"), (F.col("l_partkey") * 2).alias("dst")
    )
    # the edge list, degrees, and node set are loop INVARIANTS read by
    # every iteration; without pinning them Spark re-derives each from
    # the parquet scan per iteration (observed: 20 scans, 0 reused
    # exchanges in the unrolled plan). Persisting the invariants is
    # how every cluster PageRank runs — state per executor is the edge
    # partition, exactly what a graph engine would hold.
    edges = fwd.union(rev).distinct().persist()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    ranks = nodes.select("node", F.lit(_PR_SCALE).cast("bigint").alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select("dst", F.expr("rank DIV deg").alias("c"))
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = nodes.join(sums, nodes.node == sums.dst, "left").select(
            "node",
            (
                F.lit(15 * _PR_SCALE // 100)
                + F.expr(f"(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100")
            ).cast("bigint").alias("rank"),
        )
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, F.lit("part")).otherwise(F.lit("supplier")).alias("node_type"),
            F.expr("node DIV 2").cast("bigint").alias("entity_id"),
            F.col("rank").alias("rank_scaled"),
            F.col("node").alias("_node"),
        )
        .orderBy(F.col("rank_scaled").desc(), F.col("_node"))
        .limit(_PR_TOPK)
        .drop("_node")
    )


_KM_K = 8
_KM_ITERS = 2


def _km_assign_sql(centroids_cte: str) -> str:
    """Assignment step: integer squared-L2 to each centroid, argmin
    with deterministic tie-break via lexicographic list-min.
    min([dist,cid])[1] is the assigned distance, [2] the centroid."""
    return f"""(
  SELECT vec_id, min([dist, cid])[2] AS cid, min([dist, cid])[1] AS dist
  FROM (
    SELECT q.vec_id, c.cid,
           list_sum(list_transform(range(1, len(q.qv)+1),
                    i -> (q.qv[i] - c.cvec[i]) * (q.qv[i] - c.cvec[i]))) AS dist
    FROM q, {centroids_cte} c
  )
  GROUP BY vec_id
)"""


def _km_update_sql(assign_cte: str) -> str:
    """Update step: per-dimension integer mean (sum // count — DuckDB
    // truncates toward zero on integers, same as Spark DIV). Empty
    clusters simply drop out on both engines."""
    return f"""(
  SELECT cid, list(s // n ORDER BY pos) AS cvec FROM (
    SELECT cid, pos, sum(v) AS s, count(*) AS n FROM (
      SELECT a.cid AS cid,
             unnest(range(1, len(q.qv)+1)) AS pos,
             unnest(q.qv) AS v
      FROM {assign_cte} a JOIN q ON q.vec_id = a.vec_id
    )
    GROUP BY cid, pos
  )
  GROUP BY cid
)"""


def _km_oracle() -> str:
    parts = [
        """q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127) AS BIGINT)) AS qv
  FROM embeddings
)""",
        f"c0 AS (SELECT vec_id AS cid, qv AS cvec FROM q WHERE vec_id < {_KM_K})",
    ]
    prev = "c0"
    for i in range(1, _KM_ITERS + 1):
        parts.append(f"a{i} AS {_km_assign_sql(prev)}")
        parts.append(f"c{i} AS {_km_update_sql(f'a{i}')}")
        prev = f"c{i}"
    parts.append(f"af AS {_km_assign_sql(prev)}")
    return f"""
WITH {",".join(parts)}
SELECT CAST(cid AS BIGINT) AS cid,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(dist) AS BIGINT) AS inertia
FROM af
GROUP BY cid
ORDER BY cid
"""


@register(
    "q217_kmeans_quantized",
    category="similarity",
    oracle=_km_oracle(),
)
def q217_kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=8, 2 unrolled iterations) over integer-
    quantized embeddings, fully relational and bit-deterministic:
    squared-L2 distances, argmin assignment (tie-break on centroid
    id via lexicographic struct-min), and per-dimension integer-mean
    centroid updates (sum DIV count) are all exact integer ops, so no
    float partial-sum order can flip an assignment.

    Scale design: the per-iteration cost is one broadcast of the k-row
    centroid table against the vector corpus (map-only scoring via
    zip_with/aggregate inside codegen), one groupBy(vec_id) argmin,
    and one posexplode+groupBy((cid, dim)) for the update — the
    canonical distributed Lloyd step; nothing driver-side between
    iterations, the whole loop is one Catalyst DAG. This is the
    trainer for q66's IVF index: its centroids come from exactly this
    computation at a higher k.

    Reference basis: iterate-against-remembered-state, as q216.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    # the quantized corpus is read by every assign (k centroids) and
    # every update — pin it once, as a cluster k-means would
    q = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double") * 127, 0).cast("bigint")).alias("qv"),
    ).persist()
    cent = q.filter(F.col("vec_id") < _KM_K).select(F.col("vec_id").alias("cid"), F.col("qv").alias("cvec"))

    def assign(centroids: DataFrame) -> DataFrame:
        dist = F.aggregate(
            F.zip_with("qv", "cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        scored = q.crossJoin(F.broadcast(centroids)).select("vec_id", "cid", dist.alias("dist"))
        return (
            scored.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cid")).alias("m"))
            .select("vec_id", F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist"))
        )

    for _ in range(_KM_ITERS):
        assigned = assign(cent)
        cent = (
            assigned.join(q, "vec_id")
            .select("cid", F.posexplode("qv").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .select("cid", "pos", F.expr("s DIV n").alias("d"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "d"))), lambda s: s["d"]
                ).alias("cvec")
            )
        )
    final = assign(cent)
    return (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum("dist").cast("bigint").alias("inertia"),
        )
        .select(F.col("cid").cast("bigint").alias("cid"), "n_points", "inertia")
        .orderBy("cid")
    )


_BFS_HOPS = 3


def _bfs_oracle() -> str:
    """Unrolled 3-level BFS in DuckDB SQL: level sets via EXCEPT, which
    is exactly min-distance semantics for breadth-first layers."""
    levels = ["d0 AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_suppkey % 100 = 1)"]
    seen = "SELECT node FROM d0"
    for i in range(1, _BFS_HOPS + 1):
        # parenthesize the seen-set union: EXCEPT and UNION share
        # precedence left-to-right, so an unparenthesized chain would
        # re-add earlier layers after the EXCEPT
        levels.append(
            f"""r{i} AS (
  SELECT DISTINCT eu.b AS node
  FROM eu JOIN d{i - 1} ON eu.a = d{i - 1}.node
),
d{i} AS (SELECT node FROM r{i} EXCEPT (({seen})))"""
        )
        seen += f" UNION SELECT node FROM d{i}"
    unions = "\nUNION ALL\n".join(
        f"SELECT {i} AS dist, count(*) AS n, sum(node) AS chk FROM d{i}"
        for i in range(_BFS_HOPS + 1)
    )
    return f"""
WITH e AS (
  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b FROM lineitem
),
eu AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
{",".join(levels)}
SELECT CAST(dist AS BIGINT) AS dist,
       CAST(n AS BIGINT) AS n_nodes,
       CAST(chk AS BIGINT) AS node_checksum
FROM ({unions})
WHERE n > 0
ORDER BY dist
"""


@register(
    "q269_bfs_khop",
    category="graph",
    oracle=_bfs_oracle(),
)
def q269_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first k-hop reachability over the part<->supplier
    bipartite graph (nodes encoded part*2 / supplier*2+1, edges =
    distinct lineitem pairs): which nodes sit 0, 1, 2, 3 hops from the
    seed suppliers (s_suppkey % 100 = 1) — the frontier-expansion
    primitive behind contamination blast-radius and lineage-reach
    questions. Like q216, the loop is UNROLLED into one Catalyst DAG:
    each hop is a frontier-edges hash join plus a min-distance
    aggregation, and the distinct edge list is the loop invariant a
    real cluster keeps partitioned by source once (here it feeds both
    hop joins from the same exchange). Min-distance via groupBy-min
    makes layer assignment partitioning-invariant; the oracle computes
    the same layers as EXCEPT level sets, which is the same semantics.
    Per layer: node count and an id checksum, so a single misplaced
    frontier node flips the hash.

    Pins are lazy, as in q302: the hops run as one composed action
    instead of 5 driver-blocking jobs (sf0.1 best-of-N 2.90s ->
    2.45s), and every consumer reads all partitions."""
    li = load_table(spark, "lineitem", sf_dir)
    sup = load_table(spark, "supplier", sf_dir)
    e = (
        li.select(
            (F.col("l_partkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    # the symmetrized edge list is the loop invariant: every hop joins
    # it, so pin it once instead of re-deriving distinct edges per hop
    eu = e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).transform(pin, lazy=True)
    dist = (
        sup.filter(F.col("s_suppkey") % 100 == 1)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
        .withColumn("d", F.lit(0))
    )
    for i in range(1, _BFS_HOPS + 1):
        frontier = (
            dist.filter(F.col("d") == i - 1)
            .join(eu, F.col("node") == F.col("a"))
            .select(F.col("b").alias("node"), F.lit(i).alias("d"))
        )
        # each hop's distance table feeds BOTH the next frontier filter
        # and the next min-union — unpinned, the logical plan doubles
        # per hop (2^k re-execution); checkpointing per iteration is
        # exactly the per-superstep materialization a real BFS does
        dist = (
            dist.unionAll(frontier)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .transform(pin, lazy=True)
        )
    return (
        dist.groupBy(F.col("d").cast("bigint").alias("dist"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("node").cast("bigint").alias("node_checksum"),
        )
        .orderBy("dist")
    )


# ---------------------------------------------------------------------------
# q302 — Bellman-Ford bounded-hop shortest paths
# ---------------------------------------------------------------------------

_BF_ROUNDS = 6
_BF_SOURCE = 1


def _bf_oracle() -> str:
    rounds = []
    prev = "d0"
    for i in range(1, _BF_ROUNDS + 1):
        rounds.append(
            f"""d{i} AS (
  SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
    SELECT node, d FROM {prev}
    UNION ALL
    SELECT e.dst, {prev}.d + e.w FROM {prev} JOIN edges e ON e.src = {prev}.node
  ) GROUP BY node
)"""
        )
        prev = f"d{i}"
    return f"""
WITH pairs AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
e0 AS (
  SELECT DISTINCT a.s AS src, b.s AS dst
  FROM pairs a JOIN pairs b ON a.ok = b.ok AND a.s < b.s
),
edges AS (
  SELECT src, dst, (src + dst) % 20 + 1 AS w FROM e0
  UNION ALL
  SELECT dst, src, (src + dst) % 20 + 1 FROM e0
),
d0 AS (SELECT CAST({_BF_SOURCE} AS BIGINT) AS node, CAST(0 AS BIGINT) AS d),
{",".join(rounds)}
SELECT node, d AS dist FROM {prev} ORDER BY node
"""


@register(
    "q302_bellman_ford",
    category="graph",
    oracle=_bf_oracle(),
)
def q302_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths by 6 unrolled Bellman-Ford
    relaxation rounds over the co-supply graph (suppliers sharing an
    order, symmetric deterministic integer weights): each round joins
    the frontier distances to the edge list and min-combines — the
    weighted generalization of q269's BFS k-hop. Every round's result
    is pinned (the repo's loop-invariant rule: unpinned, round k
    re-executes rounds 1..k-1, a 2^k lineage blowup), and so is the
    6-times-consumed edge list. Distances are exact BIGINTs. The
    oracle replays the identical rounds as chained min-relaxation CTEs
    (NOT a recursive path enumeration, which explodes on dense graphs).
    At 100 TB: per round one hash join shuffle on src + one min
    combine — the standard Pregel-as-joins layout; rounds bound hops,
    and a real cluster would switch to delta-frontier joins once the
    active set shrinks.

    The pins are lazy: all 6 rounds and the edge build run as ONE
    composed action instead of 8 driver-blocking jobs (sf0.1 best-of-N
    4.29s -> 3.97s). Every consumer (groupBy per round, final orderBy)
    reads all partitions, so no pin needs a fill-in job."""
    li = load_table(spark, "lineitem", sf_dir)
    # the (order, supplier) incidence list feeds both sides of the
    # co-supply self-join, and the symmetric edge union doubles that
    # again: unpinned, the edge build scans lineitem 4x per run
    pairs = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s"))
        .distinct()
        .transform(pin, lazy=True)
    )
    a = pairs.select("ok", F.col("s").alias("src"))
    b = pairs.select("ok", F.col("s").alias("dst"))
    e0 = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    w = (F.col("src") + F.col("dst")) % 20 + 1
    # consumed by all 6 rounds. Unkeyed: a pin keyed on src (a static
    # build) ran 1.1-1.2x slower at sf0.1 than this AQE build
    edges = (
        e0.select("src", "dst", w.alias("w"))
        .unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"), w.alias("w")))
        .transform(pin, lazy=True)
    )
    dist = (
        li.sparkSession.range(_BF_SOURCE, _BF_SOURCE + 1)
        .select(F.col("id").cast("bigint").alias("node"), F.lit(0).cast("bigint").alias("d"))
    )
    for _ in range(_BF_ROUNDS):
        relax = (
            dist.join(edges, dist["node"] == edges["src"])
            .select(edges["dst"].alias("node"), (dist["d"] + edges["w"]).alias("d"))
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("d").cast("bigint").alias("d"))
            .transform(pin, lazy=True)
        )
    return dist.select("node", F.col("d").alias("dist")).orderBy("node")
