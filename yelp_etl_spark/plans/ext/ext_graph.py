"""Extension catalog — graph queries."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yelp_etl_spark.sources.readers import load_table

from yelp_etl_spark.plans.ext._shared import (  # noqa: F401
    EXTRA_QUERIES,
    _t,
)



# --------------------------------------------------------------------------
# Recursive CTE hierarchy traversal (Spark 4 WITH RECURSIVE)
# --------------------------------------------------------------------------


def q_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy traversal through Spark 4's native WITH RECURSIVE
    (SPARK-24497): parts form a synthetic BOM tree (parent = key div
    10), the recursive anchor seeds the roots and each step joins the
    frontier to the part table on the parent key — the declarative
    form of the frontier loop functions/graph.py:bfs_distances runs by
    hand. Catalyst executes it as an iterated keyed join + union, so
    each round shuffles only the frontier, and the explicit depth
    guard bounds the iteration exactly like bfs's max_hops. Output is
    the per-depth rollup (tiny, deterministic)."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        WITH RECURSIVE chain (p_partkey, depth) AS (
          SELECT p_partkey, CAST(0 AS BIGINT) AS depth
          FROM part WHERE p_partkey < 10
          UNION ALL
          SELECT p.p_partkey, c.depth + 1
          FROM part p JOIN chain c ON p.p_partkey DIV 10 = c.p_partkey
          WHERE p.p_partkey >= 10 AND c.depth < 10
        )
        SELECT c.depth, COUNT(*) AS n_parts,
               ROUND(SUM(p.p_retailprice), 2) AS subtree_price
        FROM chain c JOIN part p ON p.p_partkey = c.p_partkey
        GROUP BY c.depth
        """
    )


ORACLE_RECURSIVE_HIERARCHY = """
WITH RECURSIVE chain (p_partkey, depth) AS (
  SELECT p_partkey, CAST(0 AS BIGINT) AS depth
  FROM part WHERE p_partkey < 10
  UNION ALL
  SELECT p.p_partkey, c.depth + 1
  FROM part p JOIN chain c ON p.p_partkey // 10 = c.p_partkey
  WHERE p.p_partkey >= 10 AND c.depth < 10
)
SELECT c.depth, CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(SUM(p.p_retailprice), 2) AS subtree_price
FROM chain c JOIN part p ON p.p_partkey = c.p_partkey
GROUP BY c.depth
"""


EXTRA_QUERIES.update(
    {
        "recursive_hierarchy": (
            q_recursive_hierarchy,
            ORACLE_RECURSIVE_HIERARCHY,
            "ext:recursive CTE hierarchy",
        ),
    }
)


_SSSP_ROUNDS = 4


def q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (functions/graph.sssp_weighted) on the
    supplier↔customer order graph (edge weight = min quantity ever
    shipped on the pair), seeded at nation-0 suppliers, 4 Bellman-Ford
    rounds. Integer weights keep every tentative distance an exact
    BIGINT; the oracle replays the identical unrolled relaxation
    sweeps. Output: nodes bucketed by final distance (bounded rows)."""
    from yelp_etl_spark.functions.graph import sssp_weighted

    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    edges = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .agg(F.min(F.floor("l_quantity")).alias("w"))  # floor: Spark cast
        # truncates but DuckDB's rounds; fixture quantities are integral
        # so either works TODAY — floor keeps it exact on any data
    )
    seeds = supplier.filter(F.col("s_nationkey") == 0).select(
        (F.col("s_suppkey") * 2).alias("id")
    )
    dist = sssp_weighted(edges, seeds, rounds=_SSSP_ROUNDS)
    return (
        dist.groupBy(
            F.floor(F.col("dist") / F.lit(10)).cast("long").alias("dist_bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.min("dist").cast("long").alias("min_dist"),
            F.max("dist").cast("long").alias("max_dist"),
        )
        .orderBy("dist_bucket")
    )


def _sssp_oracle(rounds: int) -> str:
    steps = [
        """edges AS MATERIALIZED (
  SELECT CAST(l_suppkey * 2 AS BIGINT) AS src,
         CAST(o_custkey * 2 + 1 AS BIGINT) AS dst,
         CAST(MIN(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
)""",
        """sym AS MATERIALIZED (
  SELECT src, dst, w FROM edges
  UNION ALL
  SELECT dst AS src, src AS dst, w FROM edges
)""",
        """d0 AS MATERIALIZED (
  SELECT DISTINCT CAST(s_suppkey * 2 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
  FROM supplier WHERE s_nationkey = 0
)""",
    ]
    for k in range(1, rounds + 1):
        steps.append(
            f"""d{k} AS MATERIALIZED (
  SELECT id, CAST(MIN(dist) AS BIGINT) AS dist
  FROM (
    SELECT id, dist FROM d{k - 1}
    UNION ALL
    SELECT e.dst AS id, d.dist + e.w AS dist
    FROM d{k - 1} d JOIN sym e ON e.src = d.id
  )
  GROUP BY id
)"""
        )
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
SELECT CAST(dist // 10 AS BIGINT) AS dist_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(dist) AS BIGINT) AS min_dist,
       CAST(MAX(dist) AS BIGINT) AS max_dist
FROM d{rounds}
GROUP BY 1
ORDER BY dist_bucket
"""
    )


EXTRA_QUERIES.update(
    {
        "sssp_weighted": (
            q_sssp_weighted,
            _sssp_oracle(_SSSP_ROUNDS),
            "ext:Bellman-Ford weighted shortest paths (unrolled oracle)",
        ),
    }
)


_PPR_ITERS = 5


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (functions/graph.pagerank with a seed
    set): random walk with restart to the five lowest-id suppliers on the
    supplier↔customer order graph — the standard label/quality
    propagation primitive. Output: top 25 non-seed nodes by proximity
    rank (rounded 9, id tiebreak); the oracle replays the identical
    unrolled iterations with the seed-only teleport."""
    from yelp_etl_spark.functions.graph import pagerank

    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    edges = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # seed rule non-empty at EVERY fixture scale (supplier keys start
    # at 0): the five lowest supplier ids. nation-0 suppliers — the
    # BFS seed rule — vanish at sf0.001 and would divide by zero.
    seeds = supplier.filter(F.col("s_suppkey") < 5).select(
        (F.col("s_suppkey") * 2).alias("id")
    )
    ranks = pagerank(
        edges,
        iterations=_PPR_ITERS,
        skip_symmetric_dedup=True,
        personalization=seeds,
    )
    return (
        ranks.join(seeds.withColumnRenamed("id", "sid"),
                   F.col("id") == F.col("sid"), "left_anti")
        .select("id", F.round("rank", 9).alias("rank"))
        .orderBy(F.desc("rank"), "id")
        .limit(25)
    )


def _ppr_oracle(iters: int) -> str:
    sql = """WITH edges AS (
  SELECT DISTINCT CAST(l_suppkey * 2 AS BIGINT) AS src,
                  CAST(o_custkey * 2 + 1 AS BIGINT) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), sym AS (
  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
), deg AS (
  SELECT src, CAST(1 AS DOUBLE) / COUNT(*) AS w FROM sym GROUP BY src
), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg
), seeds AS (
  SELECT DISTINCT CAST(s_suppkey * 2 AS BIGINT) AS id
  FROM supplier WHERE s_suppkey < 5
), ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_seeds FROM seeds
), r0 AS (
  SELECT src AS id, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM deg
)"""
    for i in range(iters):
        sql += f""", r{i + 1} AS (
  SELECT m.id,
         COALESCE(CASE WHEN se.id IS NOT NULL
                       THEN (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                            / (SELECT n_seeds FROM ns) END, 0.0)
         + CAST(0.85 AS DOUBLE) * m.mass AS rank
  FROM (
    SELECT s.dst AS id, SUM(r.rank * d.w) AS mass
    FROM sym s JOIN r{i} r ON s.src = r.id JOIN deg d ON s.src = d.src
    GROUP BY s.dst
  ) m
  LEFT JOIN seeds se ON se.id = m.id
)"""
    return (
        sql
        + f"""
SELECT id, ROUND(rank, 9) AS rank
FROM r{iters}
WHERE id NOT IN (SELECT id FROM seeds)
ORDER BY rank DESC, id
LIMIT 25
"""
    )


EXTRA_QUERIES.update(
    {
        "personalized_pagerank": (
            q_personalized_pagerank,
            _ppr_oracle(_PPR_ITERS),
            "ext:personalized PageRank (random walk with restart)",
        ),
    }
)


# --------------------------------------------------------------------------
# Label-propagation community detection (functions/graph.py)
# --------------------------------------------------------------------------


def q_label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes after 4 synchronous label-propagation rounds
    (graph.py label_propagation) on the thin supplier↔part graph
    (namespaced long ids: 2·suppkey even, 2·partkey+1 odd — the
    pagerank convention). Deterministic smallest-label tie-break makes
    the rounds exactly reproducible as unrolled SQL. Per round: one
    labels join + two keyed aggs, no windows, no collects — the
    1B-node-safe shape."""
    from yelp_etl_spark.functions.graph import label_propagation

    lineitem = _t(spark, sf_dir, "lineitem")
    edges = lineitem.filter(F.col("l_quantity") <= 2).select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    labels = label_propagation(edges, iterations=4)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").cast("long").alias("n_members"))
        .orderBy("community")
    )


def _lpa_round_sql(prev: str, out: str) -> str:
    return f"""{out} AS MATERIALIZED (
  SELECT dst AS id, label FROM (
    SELECT s.dst, l.label,
           ROW_NUMBER() OVER (PARTITION BY s.dst
                              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
    FROM sym s JOIN {prev} l ON s.src = l.id
    GROUP BY s.dst, l.label
  ) WHERE rn = 1
)"""


def _lpa_oracle(iterations: int = 4) -> str:
    sql = """WITH raw AS (
  SELECT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
  FROM lineitem WHERE l_quantity <= 2
),
sym AS MATERIALIZED (
  SELECT src, dst FROM raw UNION SELECT dst, src FROM raw
),
l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM sym)"""
    prev = "l0"
    for i in range(iterations):
        sql += ",\n" + _lpa_round_sql(prev, f"r{i + 1}")
        prev = f"r{i + 1}"
    return sql + f"""
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM {prev} GROUP BY 1 ORDER BY 1"""


ORACLE_LABEL_PROP = _lpa_oracle(4)


EXTRA_QUERIES.update(
    {
        "label_prop_communities": (
            q_label_prop_communities,
            ORACLE_LABEL_PROP,
            "ext:label-propagation communities (4 unrolled rounds)",
        ),
    }
)


# --------------------------------------------------------------------------
# First-order Markov transition model over the event stream
# --------------------------------------------------------------------------


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: per-user
    event sequences (ts order, event_id tiebreak) yield (state → next
    state) pairs via one LEAD window, counted and row-normalized to
    FLOOR-ppm probabilities (the exact cross-engine division
    convention). The behavioral-model complement to funnel_conversion
    (fixed path) and event_path_pattern (CEP regex): a transition
    matrix is the whole directed behavior graph at once. Scale: the
    window partitions per user (bounded by a user's event count);
    everything after is keyed aggs over |states|² ≤ tiny cells."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "event_id", "ts", "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count("*").alias("n"))
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("long").alias("n"),
            F.floor(F.lit(1000000) * F.col("n") / F.col("row_total"))
            .cast("long")
            .alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


ORACLE_MARKOV_TRANSITIONS = """
WITH pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       CAST(FLOOR(1000000 * n / SUM(n) OVER (PARTITION BY from_type))
            AS BIGINT) AS p_ppm
FROM counts ORDER BY 1, 2
"""


EXTRA_QUERIES.update(
    {
        "markov_transitions": (
            q_markov_transitions,
            ORACLE_MARKOV_TRANSITIONS,
            "ext:first-order Markov transition matrix (floor-ppm rows)",
        ),
    }
)


# --------------------------------------------------------------------------
# k-core decomposition (functions/graph.py k_core)
# --------------------------------------------------------------------------


def q_kcore_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution after 4 peeling rounds of the 3-core on the
    thin supplier↔part graph (graph.k_core): one keyed degree agg +
    two semi-joins per round over a monotonically shrinking edge list,
    stopping early once a peel removes nothing (later peels would
    return the same edges). The oracle unrolls the same 4 peels as
    chained CTEs."""
    from yelp_etl_spark.functions.graph import k_core

    lineitem = _t(spark, sf_dir, "lineitem")
    edges = lineitem.filter(F.col("l_quantity") <= 3).select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    nodes, _ = k_core(edges, k=3, rounds=4)
    return (
        nodes.groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy("degree")
    )


def _kcore_oracle(k: int = 3, rounds: int = 4) -> str:
    sql = """WITH raw AS (
  SELECT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
  FROM lineitem WHERE l_quantity <= 3
),
e0 AS MATERIALIZED (
  SELECT src, dst FROM raw UNION SELECT dst, src FROM raw
)"""
    prev = "e0"
    for i in range(1, rounds + 1):
        sql += f""",
k{i} AS MATERIALIZED (
  SELECT src FROM {prev} GROUP BY src HAVING COUNT(*) >= {k}
),
e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {prev} e
  JOIN k{i} a ON e.src = a.src
  JOIN k{i} b ON e.dst = b.src
)"""
        prev = f"e{i}"
    return sql + f"""
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
      FROM {prev} GROUP BY src)
GROUP BY degree ORDER BY degree"""


ORACLE_KCORE = _kcore_oracle(3, 4)


EXTRA_QUERIES.update(
    {
        "kcore_degrees": (
            q_kcore_degrees,
            ORACLE_KCORE,
            "ext:k-core decomposition (4 unrolled peeling rounds)",
        ),
    }
)


# --------------------------------------------------------------------------
# Time-respecting reachability (functions/graph.py temporal_reachability)
# --------------------------------------------------------------------------


def q_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival diffusion over the timestamped customer↔supplier
    interaction graph (graph.temporal_reachability): seeds are every
    97th customer at t0 = 0; each hop must use an edge dated at or
    after the arrival at its source — the contact-tracing semantics
    static BFS gets wrong. Timestamps are integer days so every min is
    exact; 3 unrolled rounds, sssp-shaped keyed shuffles only."""
    from yelp_etl_spark.functions.graph import temporal_reachability

    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    base = lineitem.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        "l_suppkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("ts"),
    )
    edges = base.select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
        "ts",
    ).unionByName(
        base.select(
            (F.col("l_suppkey") * 2 + 1).alias("src"),
            (F.col("o_custkey") * 2).alias("dst"),
            "ts",
        )
    )
    seeds = customer.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") * 2).alias("id"), F.lit(0).alias("t0")
    )
    return temporal_reachability(edges, seeds, rounds=3).orderBy("id")


def _temporal_reach_oracle(rounds: int = 3) -> str:
    sql = """WITH base AS MATERIALIZED (
  SELECT l_suppkey, o_custkey,
         DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS ts
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS MATERIALIZED (
  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst, ts FROM base
  UNION ALL
  SELECT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst, ts FROM base
),
a0 AS MATERIALIZED (
  SELECT c_custkey * 2 AS id, CAST(0 AS BIGINT) AS arrival
  FROM customer WHERE c_custkey % 97 = 0
)"""
    prev = "a0"
    for i in range(1, rounds + 1):
        sql += f""",
a{i} AS MATERIALIZED (
  SELECT id, MIN(arrival) AS arrival FROM (
    SELECT id, arrival FROM {prev}
    UNION ALL
    SELECT e.dst AS id, e.ts AS arrival
    FROM e JOIN {prev} p ON e.src = p.id AND e.ts >= p.arrival
  ) GROUP BY id
)"""
        prev = f"a{i}"
    return sql + f"""
SELECT id, CAST(arrival AS BIGINT) AS arrival FROM {prev} ORDER BY id"""


ORACLE_TEMPORAL_REACH = _temporal_reach_oracle(3)


EXTRA_QUERIES.update(
    {
        "temporal_reachability": (
            q_temporal_reachability,
            ORACLE_TEMPORAL_REACH,
            "ext:earliest-arrival time-respecting reachability (3 rounds)",
        ),
    }
)


# --------------------------------------------------------------------------
# Markov removal-effect attribution (functions/attribution.py)
# --------------------------------------------------------------------------

_ATTRIB_CHANNELS = ["click", "error", "signup", "view"]


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven channel attribution by Markov removal effects
    (attribution.markov_removal_attribution): user journeys truncate
    at the first purchase ('conv'), non-converters close with 'null';
    each channel's credit is the ppm drop in 6-step absorption
    probability when its transitions are deleted. Transition counting
    is fully distributed; the value iteration runs on the collected
    ≤(|channels|+3)²-row matrix in exact integer ppm (the k-means
    bounded-model-collect discipline), so the oracle replays the
    entire trajectory."""
    from yelp_etl_spark.functions.attribution import (
        markov_removal_attribution,
    )

    events = _t(spark, sf_dir, "events")
    return markov_removal_attribution(
        events, _ATTRIB_CHANNELS, absorber="purchase", steps=6
    ).orderBy("channel")


def _attrib_chain_sql(tag: str, where: str, steps: int) -> str:
    sql = f""",
v0_{tag} AS (SELECT 'conv' AS state, CAST(1000000 AS BIGINT) AS v)"""
    prev = f"v0_{tag}"
    for i in range(1, steps + 1):
        sql += f""",
v{i}_{tag} AS MATERIALIZED (
  SELECT frm AS state, CAST(SUM((p * v) // 1000000) AS BIGINT) AS v
  FROM t JOIN {prev} ON t.two = {prev}.state{where}
  GROUP BY 1
)"""
        prev = f"v{i}_{tag}"
    return sql


def _attrib_oracle(channels: list[str], steps: int = 6) -> str:
    states = sorted(set(channels) | {"start", "conv", "null"})
    state_lits = ", ".join(f"'{s}'" for s in states)
    sql = f"""WITH s1 AS MATERIALIZED (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS seq
  FROM events
),
s2 AS MATERIALIZED (
  SELECT *,
         MIN(CASE WHEN event_type = 'purchase' THEN seq END)
           OVER (PARTITION BY user_id) AS fp,
         MAX(seq) OVER (PARTITION BY user_id) AS last_seq
  FROM s1
),
kept AS MATERIALIZED (
  SELECT user_id, seq, fp, last_seq,
         CASE WHEN event_type = 'purchase' THEN 'conv'
              ELSE event_type END AS state
  FROM s2 WHERE fp IS NULL OR seq <= fp
),
trans AS MATERIALIZED (
  SELECT frm, two, COUNT(*) AS n FROM (
    SELECT COALESCE(LAG(state) OVER (PARTITION BY user_id ORDER BY seq),
                    'start') AS frm,
           state AS two
    FROM kept
    UNION ALL
    SELECT state AS frm, 'null' AS two
    FROM kept WHERE fp IS NULL AND seq = last_seq
  )
  WHERE frm IN ({state_lits}) AND two IN ({state_lits})
  GROUP BY 1, 2
),
t AS MATERIALIZED (
  SELECT frm, two,
         CAST(FLOOR(1000000 * n / SUM(n) OVER (PARTITION BY frm))
              AS BIGINT) AS p
  FROM trans
  UNION ALL
  SELECT 'conv', 'conv', CAST(1000000 AS BIGINT)
)"""
    sql += _attrib_chain_sql("full", "", steps)
    for c in sorted(channels):
        sql += _attrib_chain_sql(
            f"no_{c}", f"\n  WHERE t.frm <> '{c}' AND t.two <> '{c}'", steps
        )
    blocks = []
    for c in sorted(channels):
        blocks.append(f"""SELECT '{c}' AS channel,
       pf.v AS p_full_ppm, pc.v AS p_removed_ppm,
       CAST(CASE WHEN pf.v > 0
                 THEN (1000000 * (pf.v - pc.v)) // pf.v
                 ELSE 0 END AS BIGINT) AS removal_effect_ppm
FROM (SELECT COALESCE((SELECT v FROM v{steps}_full WHERE state = 'start'),
                      0) AS v) pf,
     (SELECT COALESCE((SELECT v FROM v{steps}_no_{c} WHERE state = 'start'),
                      0) AS v) pc""")
    return sql + "\n" + "\nUNION ALL\n".join(blocks) + "\nORDER BY channel"


ORACLE_MARKOV_ATTRIBUTION = _attrib_oracle(_ATTRIB_CHANNELS, 6)


EXTRA_QUERIES.update(
    {
        "markov_attribution": (
            q_markov_attribution,
            ORACLE_MARKOV_ATTRIBUTION,
            "ext:Markov removal-effect attribution (full unrolled trajectory)",
        ),
    }
)


# --------------------------------------------------------------------------
# Local clustering coefficients + degree assortativity (graph health)
# --------------------------------------------------------------------------


def _copurchase_edges_thin(spark: SparkSession, sf_dir: str):
    """Thinned part co-purchase edges (every 3rd order) — the shared
    one-mode graph for the per-node structure metrics below."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 3 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )


_COPURCHASE_THIN_SQL = """
edges AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_orderkey % 3 = 0) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_orderkey % 3 = 0) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient, bucketed into deciles:
    cc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)) — how clique-like each
    node's neighborhood is, the standard community-structure health
    metric above the global triangle count. Triangles enumerate once
    from degree-ordered oriented edges (the triangle_count discipline)
    with the common neighbor EXPLODED so all three corners get
    credit; zero-triangle nodes stay in bucket 0 via the left join.
    FLOOR-ppm coefficient, decile = ppm div 100000."""
    from yelp_etl_spark.functions.checkpoint import truncate_lineage

    undirected = _copurchase_edges_thin(spark, sf_dir)
    degrees = truncate_lineage(
        undirected.select(F.col("u").alias("node"))
        .unionAll(undirected.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg")),
        eager=True,
    )
    du = degrees.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = degrees.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    edges = truncate_lineage(
        undirected.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        ),
        eager=True,
    )
    adj = edges.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    corners = (
        edges.join(
            adj.select(F.col("src"), F.col("nbrs").alias("sn")), "src"
        )
        .join(
            adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("dn")),
            "dst",
        )
        .select(
            "src",
            "dst",
            F.explode(F.array_intersect("sn", "dn")).alias("w"),
        )
    )
    node_tri = (
        corners.select(F.col("src").alias("node"))
        .unionAll(corners.select(F.col("dst").alias("node")))
        .unionAll(corners.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("tri"))
    )
    cc_ppm = F.floor(
        F.lit(2_000_000) * F.coalesce(F.col("tri"), F.lit(0))
        / (F.col("deg") * (F.col("deg") - 1))
    )
    return (
        degrees.filter(F.col("deg") >= 2)
        .join(node_tri, "node", "left")
        .select(cc_ppm.alias("cc_ppm"))
        .select(F.expr("cc_ppm div 100000").alias("cc_decile"))
        .groupBy("cc_decile")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy("cc_decile")
    )


ORACLE_CLUSTERING_COEFF = f"""
WITH {_COPURCHASE_THIN_SQL.strip()},
deg AS MATERIALIZED (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY 1
),
tri AS MATERIALIZED (
  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z FROM (
    SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
           CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst
    FROM edges
    JOIN deg a ON a.node = edges.u
    JOIN deg b ON b.node = edges.v,
    LATERAL (SELECT a.deg AS du, b.deg AS dv)
  ) e1
  JOIN (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END
               AS src,
               CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END
               AS dst
        FROM edges
        JOIN deg a ON a.node = edges.u
        JOIN deg b ON b.node = edges.v,
        LATERAL (SELECT a.deg AS du, b.deg AS dv)) e2
    ON e2.src = e1.dst
  JOIN (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END
               AS src,
               CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END
               AS dst
        FROM edges
        JOIN deg a ON a.node = edges.u
        JOIN deg b ON b.node = edges.v,
        LATERAL (SELECT a.deg AS du, b.deg AS dv)) e3
    ON e3.src = e1.src AND e3.dst = e2.dst
),
node_tri AS MATERIALIZED (
  SELECT node, COUNT(*) AS tri FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY 1
)
SELECT CAST(FLOOR(2000000 * COALESCE(tri, 0)
                  / (deg * (deg - 1))) AS BIGINT) // 100000 AS cc_decile,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg LEFT JOIN node_tri USING (node)
WHERE deg >= 2
GROUP BY 1 ORDER BY 1
"""


EXTRA_QUERIES.update(
    {
        "clustering_coefficient": (
            q_clustering_coefficient,
            ORACLE_CLUSTERING_COEFF,
            "ext:local clustering-coefficient deciles (oriented triangles)",
        ),
    }
)


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees across edges — positive means hubs attach to hubs
    (social-graph shape), negative means hub-and-spoke (typical for
    co-purchase). Each undirected edge contributes both orientations,
    so Σx = Σy and Σxx = Σyy and the correlation is ONE closed-form
    expression over exact BIGINT moments (the zipf_slope discipline —
    engine corr() accumulations are not bit-portable). Bounds: with
    degree d ≤ ~1e5 and m edges, n·Σxy ~ 2m²d² needs DECIMAL past
    ~1e18 — fine at any fixture scale, documented for beyond."""
    edges = _copurchase_edges_thin(spark, sf_dir)
    degrees = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = degrees.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = degrees.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    pts = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(F.col("du").alias("x"), F.col("dv").alias("y"))
    )
    both = pts.unionAll(pts.select(F.col("y").alias("x"), F.col("x").alias("y")))
    s = both.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.round(r, 6).alias("assortativity"),
    )


ORACLE_ASSORTATIVITY = f"""
WITH {_COPURCHASE_THIN_SQL.strip()},
deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY 1
),
pts AS MATERIALIZED (
  SELECT a.deg AS x, b.deg AS y
  FROM edges JOIN deg a ON a.node = edges.u JOIN deg b ON b.node = edges.v
),
pts2 AS (SELECT x, y FROM pts UNION ALL SELECT y AS x, x AS y FROM pts),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts2
)
SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       ROUND((n * sxy - sx * sx) / (n * sxx - sx * sx), 6) AS assortativity
FROM s
"""


EXTRA_QUERIES.update(
    {
        "degree_assortativity": (
            q_degree_assortativity,
            ORACLE_ASSORTATIVITY,
            "ext:degree assortativity (exact BIGINT moments, closed form)",
        ),
    }
)


# --------------------------------------------------------------------------
# Deterministic random-walk corpus (functions/graph.random_walks)
# --------------------------------------------------------------------------

_WALK_STEPS = 4


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style walk corpus over the supplier↔customer order
    graph (functions/graph.random_walks): one 4-step walk per sampled
    supplier (every third key — present at every SF), the next hop chosen by the portable md5 hash mod degree
    over the dst-sorted adjacency — i.i.d.-uniform for embedding
    training, bit-reproducible in any engine (the property that makes
    a 100 TB walk corpus auditable). The unrolled oracle replays every
    hop. Output: per-step walk census (alive walks, distinct nodes,
    node-id sum)."""
    from yelp_etl_spark.functions.graph import random_walks

    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    edges = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = supplier.filter(F.col("s_suppkey") % 3 == 0).select(
        (F.col("s_suppkey") * 2).alias("id")
    )
    walks = random_walks(sym, seeds, steps=_WALK_STEPS)
    return (
        walks.groupBy("step")
        .agg(
            F.count("*").cast("long").alias("n_walks"),
            F.countDistinct("node").cast("long").alias("n_distinct_nodes"),
            F.sum("node").cast("long").alias("sum_node_ids"),
        )
        .orderBy("step")
    )


def _walk_choice_sql(t: int) -> str:
    return (
        "CAST(concat('0x', substr(md5(CAST(w.start AS VARCHAR) || '|' || "
        f"CAST(w.node AS VARCHAR) || '|{t}'), 18, 15)) AS BIGINT) "
        "% r.deg + 1"
    )


def _walks_oracle(steps: int) -> str:
    ctes = [
        """edges AS MATERIALIZED (
  SELECT DISTINCT CAST(l_suppkey * 2 AS BIGINT) AS src,
         CAST(o_custkey * 2 + 1 AS BIGINT) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        """sym AS MATERIALIZED (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
)""",
        """ranked AS MATERIALIZED (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn,
         COUNT(*) OVER (PARTITION BY src) AS deg
  FROM sym
)""",
        """w0 AS MATERIALIZED (
  SELECT CAST(s_suppkey * 2 AS BIGINT) AS start, CAST(0 AS BIGINT) AS step,
         CAST(s_suppkey * 2 AS BIGINT) AS node
  FROM supplier WHERE s_suppkey % 3 = 0
)""",
    ]
    for t in range(1, steps + 1):
        ctes.append(
            f"""w{t} AS MATERIALIZED (
  SELECT w.start, CAST({t} AS BIGINT) AS step, r.dst AS node
  FROM w{t - 1} w JOIN ranked r
    ON w.node = r.src AND r.rn = {_walk_choice_sql(t)}
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM w{t}" for t in range(steps + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
allw AS ({union})
SELECT step, CAST(COUNT(*) AS BIGINT) AS n_walks,
       CAST(COUNT(DISTINCT node) AS BIGINT) AS n_distinct_nodes,
       CAST(SUM(node) AS BIGINT) AS sum_node_ids
FROM allw GROUP BY step ORDER BY step"""
    )


ORACLE_RANDOM_WALKS = _walks_oracle(_WALK_STEPS)


EXTRA_QUERIES.update(
    {
        "random_walks": (
            q_random_walks,
            ORACLE_RANDOM_WALKS,
            "ext:deterministic DeepWalk corpus (hash-mod-degree hops, unrolled oracle)",
        ),
    }
)


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality (Boldi & Vigna 2014 — the disconnected-
    graph-safe closeness variant) for a deterministic seed sample on
    the supplier↔customer order graph: H(s) = Σ_{v≠s} 1/d(s,v),
    truncated at 4 hops (the standard bounded estimate at scale —
    beyond-horizon contributions vanish as 1/d). Per-seed distances
    come from ONE labeled multi-seed BFS
    (functions/graph.bfs_distances_per_seed): every seed expands in
    the same synchronous frontier with (node, seed) state, so k seeds
    cost the same 4 Spark rounds as one — running a separate BFS per
    seed measured 10.4 s vs ~3 s for this form. The 1/d weights are
    Python-literal micro-ints shared with the oracle (the
    dcg_weight_micro discipline — no engine division at all). The
    DuckDB twin is one depth-bounded recursive CTE carrying the seed
    label. 100 TB: state is O(|reached|·k); unbounded-k centrality
    swaps the label set for a mergeable HLL counter (HyperBall) — the
    exact form here is that estimate's oracle."""
    from yelp_etl_spark.functions.graph import bfs_distances_per_seed

    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    edges = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    seeds = (
        supplier.filter(F.col("s_suppkey") % 17 == 1)
        .select((F.col("s_suppkey") * 2).alias("id"))
        .orderBy("id")
        .limit(4)
    )
    dists = bfs_distances_per_seed(
        edges, seeds, max_hops=4, skip_symmetric_dedup=True
    )
    w_micro = {d: round(1_000_000 / d) for d in range(1, 5)}
    weight = F.coalesce(
        *[
            F.when(F.col("dist") == d, F.lit(w)).cast("long")
            for d, w in w_micro.items()
        ],
        F.lit(0),
    )
    return (
        dists.filter(F.col("dist") > 0)
        .groupBy("seed")
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            F.sum(weight).cast("long").alias("harmonic_micro"),
        )
        .select(F.col("seed").cast("long").alias("seed"),
                "n_reached", "harmonic_micro")
        .orderBy("seed")
    )


def _harmonic_oracle() -> str:
    w = ", ".join(f"({d}, {round(1_000_000 / d)})" for d in range(1, 5))
    return f"""
WITH RECURSIVE edges AS MATERIALIZED (
  SELECT DISTINCT CAST(l_suppkey * 2 AS BIGINT) AS src,
                  CAST(o_custkey * 2 + 1 AS BIGINT) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), sym AS MATERIALIZED (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), seeds AS MATERIALIZED (
  SELECT CAST(s_suppkey * 2 AS BIGINT) AS seed
  FROM supplier WHERE s_suppkey % 17 = 1 ORDER BY 1 LIMIT 4
), bfs AS (
  SELECT seed, seed AS id, CAST(0 AS BIGINT) AS dist FROM seeds
  UNION
  SELECT b.seed, s.dst AS id, b.dist + 1 AS dist
  FROM bfs b JOIN sym s ON s.src = b.id
  WHERE b.dist < 4
), short AS (
  SELECT seed, id, CAST(MIN(dist) AS BIGINT) AS dist
  FROM bfs GROUP BY seed, id
), wtab(d, w) AS (VALUES {w})
SELECT s.seed,
       CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(SUM(t.w) AS BIGINT) AS harmonic_micro
FROM short s JOIN wtab t ON s.dist = t.d
WHERE s.dist > 0
GROUP BY s.seed ORDER BY s.seed
"""


ORACLE_HARMONIC_CENTRALITY = _harmonic_oracle()


EXTRA_QUERIES.update(
    {
        "harmonic_centrality": (
            q_harmonic_centrality,
            ORACLE_HARMONIC_CENTRALITY,
            "ext:bounded harmonic centrality (per-seed BFS, literal 1/d weights)",
        ),
    }
)


def q_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=6) of the small-basket co-purchase
    graph by bounded iterative peeling — the graph-densification
    primitive (community seeding, spam-ring detection, the dense
    subgraph a recommender trains on): repeatedly drop nodes with
    degree < k until stable. The operator is DEFINED as R=6 peeling
    rounds plus a convergence flag: converged=true (checked at both
    gate SFs and the 10× probe) means the output IS the true k-core
    fixed point; a deeper cascade would report converged=false rather
    than silently truncate — the same bounded-iteration contract
    bfs_distances/sssp carry. The peeling is functions/graph.k_core
    (two semi-joins + one map-side-combinable degree agg per round,
    one lineage cut per round, stopping once the edge count repeats);
    every core edge is counted at both endpoints, so core_edges =
    Σdegree / 2. Basket cap ≤3 bounds the edge-synthesis self-join
    input (the adamic_adar rule: cap BEFORE the join). Oracle: the
    same 6 rounds unrolled as MATERIALIZED CTEs."""
    from yelp_etl_spark.functions.graph import k_core

    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    small = li.groupBy("o").agg(F.count("*").alias("bs")).filter(
        F.col("bs") <= 3
    ).select("o")
    a = li.join(small, "o").alias("a")
    b = li.alias("b")
    # k_core deduplicates its canonical (lower, higher) edge set itself
    edges = a.join(
        b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
    ).select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
    nodes, converged = k_core(edges, k=6, src="u", dst="v", rounds=6)
    return nodes.agg(
        F.count("*").cast("long").alias("core_nodes"),
        F.coalesce(F.expr("sum(degree) div 2"), F.lit(0))
        .cast("long")
        .alias("core_edges"),
        F.sum("id").cast("long").alias("node_id_sum"),
        F.lit(converged).alias("converged"),
    )


def _kcore_oracle(k: int = 6, rounds: int = 6) -> str:
    steps = []
    prev = "e0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""keep{i} AS MATERIALIZED (
  SELECT x FROM (SELECT u AS x FROM {prev} UNION ALL SELECT v FROM {prev})
  GROUP BY x HAVING COUNT(*) >= {k}
),
e{i} AS MATERIALIZED (
  SELECT u, v FROM {prev}
  WHERE u IN (SELECT x FROM keep{i}) AND v IN (SELECT x FROM keep{i})
)"""
        )
        prev = f"e{i}"
    chain = ",\n".join(steps)
    return f"""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
small AS MATERIALIZED (
  SELECT o FROM li GROUP BY o HAVING COUNT(*) <= 3
),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN small USING (o) JOIN li b ON a.o = b.o AND a.p < b.p
),
{chain},
nodes AS MATERIALIZED (
  SELECT DISTINCT x FROM
    (SELECT u AS x FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
)
SELECT CAST(COUNT(*) AS BIGINT) AS core_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e{rounds}) AS core_edges,
       CAST(SUM(x) AS BIGINT) AS node_id_sum,
       ((SELECT COUNT(*) FROM e{rounds})
        = (SELECT COUNT(*) FROM e{rounds - 1})) AS converged
FROM nodes
"""


ORACLE_KCORE_PEELING = _kcore_oracle()


EXTRA_QUERIES.update(
    {
        "kcore_peeling": (
            q_kcore_peeling,
            ORACLE_KCORE_PEELING,
            "ext:k-core decomposition by bounded iterative peeling",
        ),
    }
)


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase affinity graph shared by q_boruvka_mst and
    its edge-for-edge Kruskal pytest twin: edges (src, dst, w) with
    src < dst and w = NEGATED co-order count (so a MINIMUM spanning
    forest is the maximum-affinity backbone). Lineage-truncated so the
    Borůvka loop starts from materialized stats."""
    from yelp_etl_spark.functions.checkpoint import truncate_lineage

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg((-F.count("*")).cast("long").alias("w"))
    )
    return truncate_lineage(edges, eager=True)


def q_boruvka_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-affinity spanning forest of the part co-purchase graph
    via distributed Borůvka (functions/graph.boruvka_mst) — the
    backbone extraction every product-graph / dedup-linkage pipeline
    wants (keep the strongest tree of associations, drop the O(E)
    noise). Edge weight is NEGATED co-order count, so the minimum
    spanning forest is the maximum-affinity backbone; ties break by
    the lexicographic (w, src, dst) struct order, making the forest
    unique. Borůvka is ≤log₂|V| rounds of co-partitioned joins + one
    keyed struct-min — the priority-queue-free formulation that
    survives 100 TB.

    ROWS-ONLY BY DESIGN with a FAIL-LOUD structural in-query check
    plus an edge-for-edge pytest twin: no SQL engine can express the
    iterative contraction, so the query verifies the forest identity
    |MST| = |V| − #components against INDEPENDENT label-propagation
    components (runs at any scale) and RAISES on mismatch (a
    recorded-but-unchecked boolean only surfaces if a reader happens
    to compare this row — the count comparison is already computed,
    so failing loudly costs nothing), while the full
    edge-for-edge Kruskal cross-check (same total order, union-find)
    lives in tests/test_functions.py::test_boruvka_matches_kruskal_fixture
    on the same fixture graph — moved out of this bench-facing query so
    the bench line times the OPERATOR, not an in-driver verification
    harness (the collect+Kruskal was ~10 s of a 19.6 s bench row)."""
    from yelp_etl_spark.functions.graph import boruvka_mst, certify_spanning_forest

    edges = copurchase_edges(spark, sf_dir)
    mst = boruvka_mst(edges)
    # ONE aggregate over the exploded endpoints delivers n_nodes AND
    # n_edges (count of exploded rows = 2·|E|) in one scheduled job
    gstats = (
        edges.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("n")
        )
        .agg(
            F.countDistinct("n").cast("long").alias("n_nodes"),
            (F.count("*") / 2).cast("long").alias("n_edges"),
        )
        .first()
    )
    n_nodes, n_edges = gstats["n_nodes"], gstats["n_edges"]
    # ONE job over the forest delivers both the identity count and the
    # affinity sum (the count is needed eagerly for the fail-loud check,
    # so fold the sum into the same pass instead of scheduling a second)
    stats = mst.agg(
        F.count("*").cast("long").alias("n_mst_edges"),
        F.sum(-F.col("w")).cast("long").alias("affinity_captured"),
    ).first()
    n_mst = stats["n_mst_edges"]
    # Independent certificate: union-find + broadcast
    # cross-edge check against the V-sized forest already materialized
    # above, instead of an E-sized label-propagation components pass —
    # certify_spanning_forest raises on an acyclicity/spanning
    # violation and returns the certified component count (falls back
    # to the old label-prop pass past its collect cap; the identity
    # comparison below then does the certifying exactly as before).
    n_comp = certify_spanning_forest(
        edges, mst, n_nodes, n_mst, "src", "dst"
    )
    if n_mst != n_nodes - n_comp:
        raise RuntimeError(
            f"boruvka_mst forest identity violated: |MST|={n_mst} but "
            f"|V|-#components={n_nodes}-{n_comp}={n_nodes - n_comp} "
            "(independent label-propagation components) — the spanning "
            "forest is incomplete or cyclic"
        )
    out = spark.range(1).select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.lit(n_comp).cast("long").alias("n_components"),
        F.lit(n_mst).cast("long").alias("n_mst_edges"),
        F.lit(stats["affinity_captured"]).cast("long").alias(
            "affinity_captured"
        ),
        # always true on return — the identity raises above on mismatch;
        # kept as a column for schema stability across rounds
        F.lit(True).alias("forest_identity_ok"),
    )
    return out


EXTRA_QUERIES.update(
    {
        "boruvka_mst": (
            q_boruvka_mst,
            None,
            "ext:distributed Boruvka spanning forest (struct-min"
            " hooking, fixpoint contraction; fail-loud forest identity"
            " |MST|=|V|-#components vs independent components in-query;"
            " edge-for-edge Kruskal twin in pytest"
            " test_boruvka_matches_kruskal_fixture)",
        ),
    }
)


def q_ktruss_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss filtering (k=4: every surviving edge sits in ≥2
    triangles among surviving edges) by BOUNDED iterative support
    peeling — the cohesion refinement of kcore_peeling (degree ≥ k
    keeps hubs; triangle support ≥ k−2 keeps genuinely clustered
    ties). Exactly ``ROUNDS`` peel iterations run on both engines (the
    kcore_peeling fixed-round convention — the oracle unrolls the same
    rounds in SQL), each one wedge join |N(u) ∩ N(v)| per edge + one
    keyed filter; per-round lineage is cut (functions/checkpoint.cut)
    and stats-barriered (the boruvka_mst statistics-compounding note:
    support joins reference the edge set three times per round).
    Output: the support histogram of the final surviving edge set.
    Scale: support counting is the triangle-enumeration shape whose
    degree-ordered variant triangle_count documents; rounds are a
    fixed constant, edges only shrink."""
    from yelp_etl_spark.functions.checkpoint import cut

    ROUNDS, K = 3, 4
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    small = li.groupBy("l_orderkey").agg(F.count("*").alias("np")).filter(
        F.col("np") <= 4
    )
    li4 = li.join(small.select("l_orderkey"), "l_orderkey")
    a = li4.alias("a")
    b = li4.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    # an eager cut alone materializes AND truncates; with a fixed
    # 3-round loop the inherited-stats compounding stays ~4³ — far from
    # the boruvka_mst regime that needs the persist barrier
    e, _ = cut(e)
    sup = None
    for _ in range(ROUNDS):
        # DEGREE-ORDERED support counting (the triangle_count O(m^1.5)
        # discipline — a symmetric wedge join costs Σdeg² and dies on
        # hubs): orient each edge low→high under (deg, id), enumerate
        # every triangle exactly once as two out-edges of its lowest-
        # rank vertex plus the closing edge, then credit all three
        # canonical edges and count credits per edge.
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = sym.groupBy("u").agg(F.count("*").alias("dg"))
        u_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        oe = (
            e.join(deg.select(F.col("u").alias("u"), F.col("dg").alias("du")), "u")
            .join(deg.select(F.col("u").alias("v"), F.col("dg").alias("dv")), "v")
            .select(
                F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
                F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            )
        )
        x = oe.alias("x")
        y = oe.alias("y")
        tri = (
            x.join(
                y,
                (F.col("x.src") == F.col("y.src"))
                & (F.col("x.dst") < F.col("y.dst")),
            )
            .join(
                e.select(
                    F.col("u").alias("cu"), F.col("v").alias("cv")
                ),
                (
                    F.least(F.col("x.dst"), F.col("y.dst")) == F.col("cu")
                )
                & (
                    F.greatest(F.col("x.dst"), F.col("y.dst"))
                    == F.col("cv")
                ),
            )
            .select(
                F.col("x.src").alias("a"),
                F.col("x.dst").alias("b"),
                F.col("y.dst").alias("c"),
            )
        )
        ab, ac, bc = (
            tri.select(F.least(x, y).alias("u"), F.greatest(x, y).alias("v"))
            for x, y in (("a", "b"), ("a", "c"), ("b", "c"))
        )
        credits = ab.union(ac).union(bc)
        sup = credits.groupBy("u", "v").agg(
            F.count("*").cast("long").alias("s")
        )
        sup, _ = cut(sup)
        # a filter over the cut frame: its lineage is already bounded
        e = sup.filter(F.col("s") >= K - 2).select("u", "v")
    return (
        sup.filter(F.col("s") >= K - 2)
        .groupBy("s")
        .agg(F.count("*").cast("long").alias("n_edges"))
        .orderBy("s")
    )


def _ktruss_oracle(k: int = 4, rounds: int = 3) -> str:
    sql = """WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
small AS MATERIALIZED (
  SELECT o FROM li GROUP BY o HAVING COUNT(*) <= 4
),
li4 AS MATERIALIZED (
  SELECT li.o, li.p FROM li JOIN small USING (o)
),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li4 a JOIN li4 b ON a.o = b.o AND a.p < b.p
)"""
    prev = "e0"
    for i in range(1, rounds + 1):
        sql += f""",
sym{i} AS MATERIALIZED (
  SELECT u, v FROM {prev} UNION ALL SELECT v, u FROM {prev}
),
sup{i} AS MATERIALIZED (
  SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS s
  FROM {prev} e
  JOIN sym{i} a ON a.u = e.u
  JOIN sym{i} b ON b.u = e.v AND b.v = a.v
  GROUP BY e.u, e.v
),
e{i} AS MATERIALIZED (
  SELECT u, v FROM sup{i} WHERE s >= {k - 2}
)"""
        prev = f"e{i}"
    return sql + f"""
SELECT s, CAST(COUNT(*) AS BIGINT) AS n_edges
FROM sup{rounds} WHERE s >= {k - 2}
GROUP BY s ORDER BY s"""


ORACLE_KTRUSS_SUPPORT = _ktruss_oracle()


EXTRA_QUERIES.update(
    {
        "ktruss_support": (
            q_ktruss_support,
            ORACLE_KTRUSS_SUPPORT,
            "ext:k-truss triangle-support peeling (fixed-round, oracle"
            " unrolled; cohesion refinement of k-core)",
        ),
    }
)


# --------------------------------------------------------------------------
# Exact value-oracle twin for the rows-only boruvka_mst
# --------------------------------------------------------------------------


def q_boruvka_mst_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact oracle twin for the rows-only boruvka_mst: run the FULL
    distributed Borůvka on a constructed graph whose unique minimum
    spanning forest is known in closed form, so DuckDB can state the
    answer without computing an MST while Spark must derive it through
    hooking + contraction.

    Construction (parts table): within each brand, chain parts in
    partkey order — consecutive pairs are PATH edges with weight
    1 + key%50 (< 1000); every part also gets a SHORTCUT edge to the
    part two positions ahead with weight 1000 + key%50. Each brand is
    one connected component; every shortcut closes a cycle in which it
    is strictly the heaviest edge, so by the cycle property the unique
    MSF is exactly the path edges. The oracle reproduces the paths
    directly; any wrong hook, partial contraction, or dropped/extra
    edge in the distributed run changes the per-brand counts, weight
    sums, or the endpoint checksum. Scale: one windowed pass to build
    edges, then the boruvka_mst operator (SCALING.md: one data-sized
    reduce, geometric rounds).

    The twin FORCES the distributed machinery it certifies (with the
    production defaults every fixture-scale graph is solved by the
    round-0 driver Kruskal, so the oracle would validate only that
    shortcut): ``driver_finish_max=0`` makes every hooking round
    run the distributed struct-min + relabel + re-reduce, and the
    size-relative ``contraction_collect_max = min(|V|/8, 100k)`` keeps
    the dominant early contractions on the distributed min-label +
    pointer-doubling fixpoint at every SF (first-round chosen count ≈
    |V| >> |V|/8) while geometrically small tails may still take the
    guarded driver union-find — exactly the hybrid shape the operator
    ships at 100 TB, with the big rounds provably distributed. The
    100k cap bounds the guarded driver collect absolutely (the
    operator default — see the driver-memory note in graph.py), so
    the twin's collect never grows linearly with |V|.
    Production callers keep the defaults; the deliberate extra wall
    here (~16 s at sf0.1 vs ~3 s hybrid) buys end-to-end certification
    of the scale path against a closed-form answer."""
    from yelp_etl_spark.functions.graph import boruvka_mst

    part = _t(spark, sf_dir, "part")
    wb = Window.partitionBy("p_brand").orderBy("p_partkey")
    seq = part.select(
        "p_brand",
        F.col("p_partkey").alias("u"),
        F.lead("p_partkey", 1).over(wb).alias("v1"),
        F.lead("p_partkey", 2).over(wb).alias("v2"),
    )
    paths = seq.filter(F.col("v1").isNotNull()).select(
        F.col("u").alias("src"),
        F.col("v1").alias("dst"),
        (1 + F.col("u") % 50).cast("long").alias("w"),
    )
    shortcuts = seq.filter(F.col("v2").isNotNull()).select(
        F.col("u").alias("src"),
        F.col("v2").alias("dst"),
        (1000 + F.col("u") % 50).cast("long").alias("w"),
    )
    n_parts = part.count()
    forest = boruvka_mst(
        paths.union(shortcuts),
        driver_finish_max=0,
        contraction_collect_max=min(max(64, n_parts // 8), 100_000),
    )
    labeled = forest.join(
        part.select(F.col("p_partkey").alias("src"), "p_brand"), "src"
    )
    return (
        labeled.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum("w").cast("long").alias("sum_w"),
            F.min("w").cast("long").alias("min_w"),
            F.max("w").cast("long").alias("max_w"),
            F.sum(F.col("src") * 1000003 + F.col("dst"))
            .cast("long")
            .alias("endpoint_checksum"),
        )
        .orderBy("brand")
    )


ORACLE_BORUVKA_MST_CHECKED = """
WITH seq AS (
  SELECT p_brand,
         p_partkey AS u,
         LEAD(p_partkey, 1) OVER (PARTITION BY p_brand
                                  ORDER BY p_partkey) AS v1
  FROM part
),
paths AS (
  SELECT p_brand, u AS src, v1 AS dst,
         CAST(1 + u % 50 AS BIGINT) AS w
  FROM seq WHERE v1 IS NOT NULL
)
SELECT p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(w) AS BIGINT) AS sum_w,
       CAST(MIN(w) AS BIGINT) AS min_w,
       CAST(MAX(w) AS BIGINT) AS max_w,
       CAST(SUM(src * 1000003 + dst) AS BIGINT) AS endpoint_checksum
FROM paths GROUP BY 1 ORDER BY brand
"""


EXTRA_QUERIES.update(
    {
        "boruvka_mst_checked": (
            q_boruvka_mst_checked,
            ORACLE_BORUVKA_MST_CHECKED,
            "ext:exact MSF oracle twin (constructed path+shortcut graph"
            " with a closed-form unique forest; driver_finish_max=0 +"
            " size-relative contraction guard force the distributed"
            " hooking and fixpoint-contraction rounds at every SF)",
        ),
    }
)
