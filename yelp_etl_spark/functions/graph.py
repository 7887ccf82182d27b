"""Iterative graph algorithms as DataFrame loops.

Not in the reference (its `user.friends` graph field is "carried as
data, never traversed" — SURVEY.md §1.1); this is the engine's
iterative-algorithm surface, complementing the label-propagation
connected components in functions/dedup.py.

Execution model: the edge list, degrees, and node set are loop
invariant, so they are cached once — without that, every iteration
re-derives them from source (5 iterations = 5 redundant scans+joins;
measured 18s → ~2s at sf0.1). The per-iteration rank table is |V|
rows — orders of magnitude smaller than |E| — so it broadcasts into
the contribution join, leaving ONE shuffle per iteration (the
contribution aggregate on dst). Per-iteration lineage is cut through
functions/checkpoint (``cut`` / ``iterate``): RELIABLE checkpoint to
durable storage when the session has a checkpoint dir (executor-loss-
safe, the 100 TB configuration — call checkpoint.set_checkpoint_dir
once at startup), localCheckpoint in local mode where durability buys
nothing.
At 1B+ nodes the rank table no longer broadcasts — ``broadcast_state``
(default ``"auto"``) switches the loop to a co-partitioned shuffle join
against the cached, src-hash-partitioned edge list once the state table
exceeds ``broadcast_max_state`` rows, so neither the driver nor the
executors ever hold an O(|V|) broadcast copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yelp_etl_spark.functions.checkpoint import cut, iterate, truncate_lineage

# Above this many state rows (ranks / BFS frontier), "auto" stops
# broadcasting the per-iteration state and uses a co-partitioned shuffle
# join instead. 4M longs+doubles ≈ 64 MB serialized — comfortably under
# typical driver/executor broadcast budgets, far under the 8 GB hard cap.
DEFAULT_BROADCAST_MAX_STATE = 4_000_000

# boruvka_mst relabel: broadcast the per-round label table (two longs
# per hooking component) into the contracted-multigraph relabel joins
# while it stays under this row count — same 4M-row ≈ 64 MB budget as
# the frontier-state bound above. Larger label tables (the first round
# of a 100 TB graph) keep the shuffle-join path.
LABEL_BROADCAST_MAX = DEFAULT_BROADCAST_MAX_STATE


def _bcast_if(df: DataFrame, use_broadcast: bool) -> DataFrame:
    return F.broadcast(df) if use_broadcast else df


def _use_broadcast(
    broadcast_state: bool | str, n_state: int | None, broadcast_max_state: int
) -> bool:
    """Resolve a loop's ``broadcast_state``: ``"auto"`` broadcasts the
    state while it has at most ``broadcast_max_state`` rows."""
    if broadcast_state == "auto":
        return n_state <= broadcast_max_state
    return bool(broadcast_state)


def encode_node_ids(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dictionary-encode arbitrary (typically string) node ids to dense
    longs ``[0, |V|)`` before running the iterative algorithms: a long
    key hashes/shuffles/compares several times faster than a string at
    EVERY iteration (measured 2.3x lower per-iteration cost on
    string-id pagerank at sf0.1 — 0.66s/iter raw vs 0.28s/iter
    encoded). The encode itself costs a fixed ~2 extra jobs + two |E|
    joins, so it pays off past ~12 iterations in a single run at test
    scale; the production pattern is encode ONCE, persist the int-id
    edge list, and amortize across every subsequent
    pagerank/BFS/components run (see SCALING.md §Round 3).

    Scale shape (no global bottleneck): the distinct node set is
    range-repartitioned, ids are ``row_number`` within each partition
    (parallel windows — never a single-partition global window), and
    partition offsets come from one driver collect of n_partitions
    scalars (bounded by cluster size, not data). The pid-stamped node
    set is materialized once (truncate_lineage) so the count job and
    the window job see identical partition assignments.

    Returns ``(encoded_edges, mapping)``: edges with ``src``/``dst``
    replaced by dense longs, and the (node, node_idx) mapping to decode
    results (join on node_idx). Encoding costs two |E| equi-joins
    against the |V|-row mapping — broadcast when the node set is small,
    plain shuffle joins at scale.
    """
    from pyspark.sql.window import Window

    # The edge list feeds the node-set derivation (twice, via the
    # union) AND the final encode join — materialize it once or the
    # upstream join/distinct chain runs ~3x. localCheckpoint blocks are
    # released with the DataFrame; with a checkpoint dir configured
    # this is a reliable one-pass materialization of |E| rows.
    edges = truncate_lineage(edges, eager=True)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    if num_partitions is not None:
        nodes = nodes.repartitionByRange(num_partitions, "node")
    else:
        nodes = nodes.repartitionByRange("node")
    nodes = truncate_lineage(
        nodes.withColumn("__pid", F.spark_partition_id()), eager=True
    )
    spark = edges.sparkSession
    counts = sorted(
        (r["__pid"], r["n"])
        for r in nodes.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    offsets_df = spark.createDataFrame(offsets, "`__pid` INT, `__off` BIGINT")
    w = Window.partitionBy("__pid").orderBy("node")
    mapping = (
        nodes.withColumn("__rn", F.row_number().over(w) - 1)
        .join(F.broadcast(offsets_df), "__pid")
        .select(
            "node", (F.col("__off") + F.col("__rn")).cast("long").alias("node_idx")
        )
    )
    m_src = mapping.select(
        F.col("node").alias(src), F.col("node_idx").alias("__src_idx")
    )
    m_dst = mapping.select(
        F.col("node").alias(dst), F.col("node_idx").alias("__dst_idx")
    )
    encoded = (
        edges.join(m_src, src)
        .join(m_dst, dst)
        .drop(src, dst)
        .withColumnRenamed("__src_idx", src)
        .withColumnRenamed("__dst_idx", dst)
    )
    return encoded, mapping


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 5,
    skip_symmetric_dedup: bool = False,
    broadcast_state: bool | str = "auto",
    broadcast_max_state: int = DEFAULT_BROADCAST_MAX_STATE,
    personalization: DataFrame | None = None,
) -> DataFrame:
    """PageRank by power iteration on the symmetrized edge list.

    Edges are made bidirectional and deduplicated, so every node has
    out-degree ≥ 1 and no dangling-mass redistribution is needed; with
    directed input semantics, add the dangling term before using this
    for real link analysis. Returns (id, rank) with ranks summing to 1.

    ``skip_symmetric_dedup=True`` asserts the reversed edge set cannot
    overlap the forward set (already-distinct bipartite edges with
    disjoint id namespaces) — that skips a full shuffle of the doubled
    edge list, the single most expensive setup step. Prefer integer
    node ids: a long shuffles/hashes several times faster than a
    string key at every iteration.

    The node count is a driver scalar (one tiny count job, which also
    materializes the caches) baked into the teleport term as a literal.

    ``broadcast_state``: ``True`` forces the rank vector to broadcast
    into the contribution join every iteration (cheapest while |V| fits
    a broadcast); ``False`` uses a shuffle join against the edge list
    cached hash-partitioned on src, so each iteration shuffles only the
    |V|-row rank table (the 1B+-node configuration — no O(|V|) driver/
    executor broadcast copy ever exists); ``"auto"`` (default) picks by
    comparing the exact node count against ``broadcast_max_state``.
    Both paths produce identical ranks (tested).

    ``personalization``: optional one-column (``id``) seed set. When
    given, the teleport mass lands only on the seeds — (1−d)/|S| each
    instead of (1−d)/n everywhere — which is Personalized PageRank
    (random walk with restart to S): ranks measure proximity to the
    seed set, the standard trick for propagating a small trusted/
    high-quality label set over a similarity or interaction graph.
    The seed teleport table is |S| rows, broadcast into the per-
    iteration rank update; everything else is unchanged.
    """
    sym = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).union(
        edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    )
    if not skip_symmetric_dedup:
        sym = sym.distinct()
    # sym feeds both the degree aggregate and the weighted edge list —
    # cache it or the source join/dedup chain runs twice
    sym = sym.cache()
    # fold the out-degree into a per-edge weight ONCE: the loop then
    # needs a single broadcast (the rank vector) and a single partial-
    # aggregated shuffle per iteration — a sparse matrix-vector multiply
    # with the matrix cached and the vector broadcast
    deg = (
        sym.groupBy("src")
        .agg((F.lit(1.0) / F.count("*")).alias("w"))
        .cache()
    )
    n = deg.count()
    use_bcast = _use_broadcast(broadcast_state, n, broadcast_max_state)
    sym_w = sym.join(_bcast_if(deg, use_bcast), "src").select("src", "dst", "w")
    if not use_bcast:
        # Hash-partition the cached edge list on the join key: the
        # InMemoryRelation keeps this outputPartitioning, so every
        # iteration's shuffle join moves ONLY the rank table — the |E|
        # side never re-exchanges.
        sym_w = sym_w.repartition("src")
    sym_w = sym_w.cache()
    seed_tp = None
    if personalization is not None:
        seeds = personalization.select(F.col("id")).distinct()
        n_seeds = seeds.count()
        if n_seeds == 0:
            raise ValueError(
                "personalization seed set is empty — personalized "
                "PageRank needs at least one seed node"
            )
        seed_tp = F.broadcast(
            seeds.withColumn("tp", F.lit((1.0 - damping) / n_seeds))
        ).cache()
    teleport = (1.0 - damping) / n
    ranks = deg.select(F.col("src").alias("id"), F.lit(1.0 / n).alias("rank"))
    for i in range(iterations):
        mass = (
            sym_w.join(_bcast_if(ranks, use_bcast), F.col("src") == F.col("id"))
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("mass"))
        )
        # every node of the symmetrized graph has an in-edge, so the
        # aggregate already covers the full node set
        if seed_tp is not None:
            ranks = (
                mass.join(seed_tp, mass["dst"] == seed_tp["id"], "left")
                .select(
                    F.col("dst").alias("id"),
                    (
                        F.coalesce("tp", F.lit(0.0))
                        + F.lit(damping) * F.col("mass")
                    ).alias("rank"),
                )
            )
        else:
            ranks = mass.select(
                F.col("dst").alias("id"),
                (F.lit(teleport) + F.lit(damping) * F.col("mass")).alias("rank"),
            )
        if (i + 1) % 3 == 0 and i + 1 < iterations:
            ranks = truncate_lineage(ranks, eager=True)
    out = truncate_lineage(ranks, eager=True)
    for df in (sym, deg, sym_w):
        df.unpersist()
    if seed_tp is not None:
        seed_tp.unpersist()
    return out


def _loop_edges(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str | None = None,
    symmetric: bool = True,
    dedup: bool = False,
    broadcast_state: bool | str = "auto",
) -> DataFrame:
    """Shared preamble of the iterative graph loops (BFS, weighted
    SSSP): project/symmetrize the edge list, optionally dedup, and —
    unless broadcast is FORCED — hash-partition on the join key so the
    shuffle path (reachable under 'auto' once the state outgrows the
    threshold) never re-exchanges the |E| side. Returns the CACHED
    loop invariant; callers unpersist."""
    fwd = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    rev = [F.col(dst).alias("src"), F.col(src).alias("dst")]
    if weight is not None:
        fwd.append(F.col(weight).cast("long").alias("w"))
        rev.append(F.col(weight).cast("long").alias("w"))
    sym = edges.select(*fwd)
    if symmetric:
        sym = sym.union(edges.select(*rev))
    if dedup:
        sym = sym.distinct()
    if broadcast_state is not True:
        sym = sym.repartition("src")
    return sym.cache()


def _frontier_loop(
    sym: DataFrame,
    frontier0: DataFrame,
    label_cols: list[str],
    max_hops: int,
    broadcast_state: bool | str,
    broadcast_max_state: int,
) -> DataFrame:
    """The synchronous BFS frontier loop shared by ``bfs_distances``
    (label_cols=[]) and ``bfs_distances_per_seed`` (label_cols=
    ['seed']): expand the frontier one hop over the cached symmetric
    edge list, dedup, anti-join the visited set on (labels + id), and
    eagerly truncate lineage each hop — ONE implementation so the
    broadcast heuristic / early-exit / checkpoint mechanics can never
    diverge between the labeled and unlabeled forms.

    Not an ``iterate`` loop: it stops on an EMPTY frontier (not on a
    repeated value), and each hop's broadcast choice reads the previous
    hop's frontier size — both come from the row count observed on the
    hop's ``cut``, so a hop costs one action."""
    anti_keys = [*label_cols, "id"]
    n_rows = F.count(F.lit(1))
    frontier, n_frontier = cut(frontier0, n_rows)
    visited = frontier
    for hop in range(1, max_hops + 1):
        use_bcast = _use_broadcast(
            broadcast_state, n_frontier, broadcast_max_state
        )
        frontier, n_frontier = cut(
            sym.join(
                _bcast_if(frontier, use_bcast), F.col("src") == F.col("id")
            )
            .select(*label_cols, F.col("dst").alias("id"))
            .distinct()
            .join(visited, anti_keys, "left_anti")
            .withColumn("dist", F.lit(hop).cast("long")),
            n_rows,
        )
        if n_frontier == 0:
            break
        # visited stays a LAZY union of the already-cut per-hop
        # frontiers: re-cutting it each hop would re-materialize the
        # ENTIRE visited set every hop — O(|reached| · hops) extra
        # writes plus one action per hop. The union's plan is max_hops
        # checkpointed leaves, so lineage stays bounded without it.
        visited = visited.union(frontier)
    sym.unpersist()
    return visited


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
    skip_symmetric_dedup: bool = False,
    broadcast_state: bool | str = "auto",
    broadcast_max_state: int = DEFAULT_BROADCAST_MAX_STATE,
) -> DataFrame:
    """Multi-source BFS: shortest hop distance from any seed node,
    over the symmetrized edge list — the DataFrame form of a bounded
    recursive CTE (`WITH RECURSIVE ... WHERE dist < max_hops`).

    Returns (id, dist) for every node within ``max_hops`` of a seed
    (seeds themselves at dist 0); unreached nodes are absent. ``seeds``
    is a one-column (``id``) DataFrame.

    Frontier expansion costs one join + distinct per hop; the visited
    set is maintained as a loop-carried DataFrame and anti-joined to
    keep the frontier minimal (a node is expanded exactly once, at its
    first/shortest depth — Dijkstra's invariant with unit weights).
    Each hop eagerly truncates the new frontier's lineage (reliable
    checkpoint when a checkpoint dir is set, else localCheckpoint —
    see functions/checkpoint.py): the per-hop materialization both
    drives early exit on an empty frontier and ensures hop H doesn't
    recompute hops 1..H-1. The edge list is
    the loop invariant — cached once, released before returning. At
    scale the frontier join shuffles ~|frontier|·avg_degree rows per
    hop, the BFS lower bound; pre-bucketing edges by src removes even
    that (frontier broadcasts while small).

    ``broadcast_state``: ``True`` always broadcasts the frontier into
    the expansion join; ``False`` never does — the edge list is cached
    hash-partitioned on src and each hop shuffles only the frontier
    (dense-frontier / huge-graph configuration); ``"auto"`` (default)
    decides PER HOP from the frontier's exact row count (free — the
    frontier is already eagerly materialized each hop, and the count
    doubles as the empty-frontier early exit). BFS frontiers start tiny
    and can grow to O(|V|): auto tracks that within a single run."""
    sym = _loop_edges(
        edges, src, dst,
        symmetric=True,
        dedup=not skip_symmetric_dedup,
        broadcast_state=broadcast_state,
    )
    frontier0 = (
        seeds.select(F.col("id")).distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    return _frontier_loop(
        sym, frontier0, [], max_hops, broadcast_state, broadcast_max_state
    )


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    rounds: int = 4,
    symmetric: bool = True,
    broadcast_state: bool | str = "auto",
    broadcast_max_state: int = DEFAULT_BROADCAST_MAX_STATE,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths by synchronous
    Bellman-Ford rounds — the weighted generalization of
    ``bfs_distances`` (which exploits the unit-weight Dijkstra
    invariant this problem doesn't have: with weights, a settled node
    can still improve, so the loop carries the full tentative-distance
    table and relaxes EVERY edge incident to it each round).

    One round = one relaxation sweep: candidates = dist ⋈ edges on the
    source endpoint (dist + w), then a keyed MIN-aggregate over
    (current ∪ candidates). With integer weights every tentative
    distance is an exact BIGINT, so the MIN is total-ordered and the
    k-round result is engine-exact — a DuckDB twin replays the
    identical unrolled rounds (fixed ``rounds``, no convergence test,
    the same discipline as the k-means/PCA/logreg loops). After
    ``rounds`` sweeps the table holds the true shortest distance for
    every path of ≤ ``rounds`` edges (Bellman-Ford's invariant).

    Scale shape: per round one join shuffling ~|dist|·avg_degree
    candidate rows plus one keyed partial-agg MIN; the edge list is
    the loop invariant — cached hash-partitioned on the join key when
    the shuffle path is reachable, and ``broadcast_state`` switches
    per round on the dist size exactly like the BFS/pagerank loops.
    Each round ends in one ``cut``; under ``"auto"`` the dist row count
    is observed on that cut (the next round's broadcast choice reads
    it, which is why this loop calls ``cut`` rather than ``iterate``),
    so a round costs one action in every mode.

    Returns (id, dist) for every node within ``rounds`` edges of a
    seed; seeds at dist 0, unreached nodes absent.
    """
    sym = _loop_edges(
        edges, src, dst, weight=weight,
        symmetric=symmetric,
        broadcast_state=broadcast_state,
    )
    # the state size only drives the per-round auto decision; there is
    # no early exit (with weights a stable node set can still be
    # improving distances)
    size = F.count(F.lit(1)) if broadcast_state == "auto" else None
    dist, n_state = cut(
        seeds.select(F.col("id")).distinct()
        .withColumn("dist", F.lit(0).cast("long")),
        size,
    )
    for _ in range(rounds):
        use_bcast = _use_broadcast(broadcast_state, n_state, broadcast_max_state)
        cand = (
            sym.join(_bcast_if(dist, use_bcast), F.col("src") == F.col("id"))
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist, n_state = cut(
            dist.union(cand).groupBy("id").agg(F.min("dist").alias("dist")),
            size,
        )
    sym.unpersist()
    return dist


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, the GraphX/GraphFrames LPA semantics): every node starts
    as its own community; each round a node adopts the PLURALITY label
    among its neighbors, ties broken by the smallest label. The
    deterministic tie-break is what makes the algorithm oracle-checkable
    (GraphX breaks ties by hash order; an unrolled SQL twin can't
    replicate that, so smallest-label is pinned here).

    Returns (id, label) after exactly ``iterations`` synchronous
    rounds (fixed-round, like pagerank/sssp: data-dependent convergence
    loops don't unroll into an oracle).

    Scale shape: the edge list is symmetrized, DEDUPED (multi-edges
    would silently weight votes), cached hash-partitioned on src; each
    round costs one labels-shuffle join plus two keyed aggregations —
    (dst,label) vote counts, then a dst arg-max via a single struct
    max (map-side combinable; no per-node window, no global sort).
    The rounds run through ``checkpoint.iterate`` (one lineage cut per
    round, no early exit). At 1B+ nodes every structure here is keyed
    and partial-aggregated; nothing collects to the driver.
    """
    sym = _loop_edges(edges, src, dst, symmetric=True, dedup=True,
                      broadcast_state=False)
    labels = (
        sym.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
    )

    def step(labels: DataFrame) -> DataFrame:
        votes = (
            sym.join(labels, F.col("src") == F.col("id"))
            .groupBy("dst", "label")
            .agg(F.count("*").alias("cnt"))
        )
        return (
            votes.groupBy("dst")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"), (-F.col("label")).alias("neg_label")
                    )
                ).alias("m")
            )
            .select(
                F.col("dst").alias("id"),
                (-F.col("m.neg_label")).alias("label"),
            )
        )

    labels, _ = iterate(labels, step, iterations)
    sym.unpersist()
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> tuple[DataFrame, bool]:
    """k-core decomposition by synchronous peeling: each round removes
    every node whose current degree is below ``k`` (and the edges
    touching it); after enough rounds the survivors are exactly the
    k-core — the standard dense-subgraph/influence primitive
    (Seidman 1983, the same peeling GraphX's implementations unroll).

    At most ``rounds`` peels run through ``checkpoint.iterate``, which
    stops once the surviving-edge count repeats: the edge set only
    shrinks, so an unchanged count is an unchanged set and every later
    round would return it as is — the early exit never changes the
    result of ``rounds`` unrolled peels (what the SQL oracles replay).
    Returns ``(nodes, converged)``: ``nodes`` is (id, degree) over the
    edges surviving the last peel — at the fixpoint every degree is
    ≥ k; before it, the exact intermediate state of round ``rounds`` —
    and ``converged`` says whether a round observed the fixpoint.

    The loop state is the CANONICAL edge set — each undirected edge
    once, as (lower id, higher id), half the rows of the symmetrized
    list; a node's degree counts the distinct edges it touches (a
    self-loop once). Per round one keyed degree aggregation over both
    endpoint columns (map-side combinable) plus two semi-joins of the
    edge set against the ≤|V|-row keep set — every structure keyed on
    an 8-byte id, one lineage cut per round, nothing driver-side. The
    edge set SHRINKS monotonically, so later rounds cost less — the
    opposite of a fan-out loop."""
    lower = F.col(src) <= F.col(dst)
    canonical = edges.select(
        F.when(lower, F.col(src)).otherwise(F.col(dst)).alias("src"),
        F.when(lower, F.col(dst)).otherwise(F.col(src)).alias("dst"),
    ).distinct()

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("src").alias("id"))
            .unionAll(
                e.filter(F.col("dst") != F.col("src")).select(
                    F.col("dst").alias("id")
                )
            )
            .groupBy("id")
            .agg(F.count("*").cast("long").alias("degree"))
        )

    def peel(e: DataFrame) -> DataFrame:
        keep = degrees(e).filter(F.col("degree") >= k).select("id")
        return e.join(
            keep.withColumnRenamed("id", "src"), "src", "left_semi"
        ).join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")

    core, converged = iterate(
        canonical, peel, rounds, until=F.count(F.lit(1))
    )
    return degrees(core), converged


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    ts: str = "ts",
) -> DataFrame:
    """Earliest-arrival temporal reachability: which nodes can be
    reached from the seeds along TIME-RESPECTING paths (each hop's
    edge timestamp ≥ the arrival time at its source), and how early —
    the diffusion/contact-tracing primitive static BFS gets wrong
    (a path that uses an edge older than your arrival never happened).

    ``edges`` carries integer timestamps (days/epoch units — integer
    so every min() is exact); ``seeds`` is (id, t0) — a seed can start
    at its own time. Returns (id, arrival) after ``rounds`` relaxation
    rounds (fixed-round like sssp: the trajectory unrolls into SQL).

    Per round: one join of the arrival table onto the src-hash-
    partitioned cached edge list with the time-respecting residual
    (edge.ts ≥ arrival), then a keyed min — the sssp_weighted shape
    with `ts` in place of dist+w, same 1B-node properties (keyed
    8-byte shuffles, one ``checkpoint.iterate`` cut per round, no
    collects). Monotone: arrivals only decrease, so fixed rounds
    under-approximate reachability, never over-approximate."""
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(ts).cast("long").alias("ts"),
    ).repartition("src").cache()
    arrival = seeds.select(
        F.col("id"), F.col("t0").cast("long").alias("arrival")
    ).groupBy("id").agg(F.min("arrival").alias("arrival"))

    def step(arrival: DataFrame) -> DataFrame:
        cand = (
            e.join(arrival, F.col("src") == F.col("id"))
            .filter(F.col("ts") >= F.col("arrival"))
            .select(F.col("dst").alias("id"), F.col("ts").alias("arrival"))
        )
        return (
            arrival.unionByName(cand)
            .groupBy("id")
            .agg(F.min("arrival").alias("arrival"))
        )

    arrival, _ = iterate(arrival, step, rounds)
    e.unpersist()
    return arrival


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    steps: int = 4,
) -> DataFrame:
    """Deterministic 'random' walks — the DeepWalk/node2vec corpus-
    generation stage (Perozzi et al., KDD'14) re-expressed so every
    engine replays it bit-identically: at node ``u`` on step ``t`` the
    walker started at ``s`` follows neighbor number
    ``H(s|u|t) mod deg(u)`` in the dst-sorted adjacency order, where H
    is the repo's portable 60-bit md5 hash. Pseudorandom choices from
    a cryptographic hash are i.i.d.-uniform for embedding purposes but
    reproducible across engines, partitionings, and reruns — which is
    what makes a 100 TB walk corpus auditable (and SQL-oracle-able).

    ``edges``: (src, dst) directed; pass both directions for an
    undirected graph. ``seeds``: (id) start nodes, one walk each.
    Returns (start, step, node) — step 0 is the seed itself; a walk
    ends early only at a node with no outgoing edge.

    Scale: the adjacency ranking is one per-src window over the edge
    list (hash-partitioned by src, same shape as every keyed agg);
    each step is ONE equi-join of the frontier onto the ranked edges.
    State per walk is a single row — ``steps`` keyed shuffles total,
    the sssp/BFS loop profile."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("src").orderBy("dst")
    ranked = truncate_lineage(
        edges.select("src", "dst")
        .distinct()
        .select(
            "src",
            "dst",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("src")).alias("deg"),
        ),
        eager=True,
    )
    out = seeds.select(
        F.col("id").alias("start"),
        F.lit(0).cast("long").alias("step"),
        F.col("id").alias("node"),
    )
    frontier = out
    from yelp_etl_spark.functions.sampling import hash60

    for t in range(1, steps + 1):
        choice = (
            hash60(
                F.concat_ws(
                    "|",
                    F.col("start").cast("string"),
                    F.col("node").cast("string"),
                    F.lit(str(t)),
                )
            )
            % F.col("deg")
            + 1
        )
        frontier = (
            frontier.join(ranked, F.col("node") == F.col("src"))
            .filter(F.col("rn") == choice)
            .select(
                "start",
                F.lit(t).cast("long").alias("step"),
                F.col("dst").alias("node"),
            )
        )
        out = out.unionByName(frontier)
    return out


def bfs_distances_per_seed(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
    skip_symmetric_dedup: bool = False,
    broadcast_state: bool | str = "auto",
    broadcast_max_state: int = DEFAULT_BROADCAST_MAX_STATE,
) -> DataFrame:
    """Per-seed shortest hop distances — ``bfs_distances`` with the
    loop state keyed on (node, seed) instead of node: ALL seeds expand
    in the same synchronous frontier, so k seeds cost the same
    ``max_hops`` Spark rounds as one (running bfs_distances per seed
    costs k·max_hops rounds — 4× the wall for 4 seeds, measured).
    This labeled-frontier shape is the exact-distance core of
    HyperBall-style centrality estimation; state is O(|reached| · k),
    which is why unbounded-k deployments switch the per-seed label set
    to a mergeable HLL counter.

    Returns (seed, id, dist) for every node within ``max_hops`` of
    each seed (the seed itself at dist 0)."""
    sym = _loop_edges(
        edges, src, dst,
        symmetric=True,
        dedup=not skip_symmetric_dedup,
        broadcast_state=broadcast_state,
    )
    frontier0 = (
        seeds.select(F.col("id").alias("seed"), F.col("id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    return _frontier_loop(
        sym, frontier0, ["seed"], max_hops, broadcast_state,
        broadcast_max_state,
    )


def boruvka_mst(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    max_rounds: int = 64,
    contraction_collect_max: int = 100_000,
    driver_finish_max: int = 65_536,
) -> DataFrame:
    """Minimum spanning forest via distributed Borůvka — the
    bulk-synchronous MST algorithm (each round every component hooks
    its cheapest outgoing edge, components at least halve, so ≤log₂|V|
    rounds; the classic Pregel/GraphX formulation, never a priority
    queue). Requires a DISTINCT total order on edges for a unique
    forest: ties are broken lexicographically by (w, src, dst), via
    struct-min — no weight-composite arithmetic, no overflow.

    Runs on the CONTRACTED MULTIGRAPH, not the raw edge list: one
    initial pass reduces edges to the cheapest representative per
    component pair (textbook edge contraction — the per-pair minimum
    is all any later hooking step can ever pick, and it carries its
    original (src, dst, w) identity through as the struct payload), and
    every subsequent round relabels + re-reduces that frame, which
    shrinks at least geometrically. The data-sized shuffle therefore
    happens ONCE; the naive formulation re-joins the full edge list
    every round, paying log|V| full-data shuffles — the difference
    between one pass and ~17 passes over a 100 TB edge list.

    Per round: one keyed struct-min picks each component's cheapest
    incident pair, then the chosen component-pair graph is contracted.
    Contraction is HYBRID: the pair frame has at most #components rows
    (halving per round), so once the round's chosen count is ≤
    ``contraction_collect_max`` a driver union-find replaces the
    distributed fixpoint — the frame is component-sized (model-sized
    relative to the data), the collect is explicitly guarded by the
    count already taken for the convergence check, and it removes the
    2-3 scheduled jobs per fixpoint iteration that dominate wall clock
    on small tails. Driver-memory note: the guarded collect ships up
    to ``contraction_collect_max`` (ca, cb) pairs through Arrow (16
    bytes/pair), builds a driver-side union-find over them and
    re-broadcasts the labels; raise the guard only with driver memory
    to match. Above the guard, contraction runs distributed TO FIXPOINT
    (partial contraction would let a later round pick a non-MST edge
    between already-connected components) as parent-pointer doubling
    over the hooking graph: each component points at its chosen
    partner, the functional graph's only cycles are mutual 2-cycles
    (strict global edge order), each is rooted at its smaller id, and
    p ← p[p] converges in O(log depth) one-join rounds — one equi-join
    per step where a neighbor-min label walk pays ~4. The
    representative label choice
    cannot change the output forest: edges are chosen before
    contraction and ties break by the global (w, src, dst) order, so
    any consistent relabeling yields the same next-round minima —
    min-root is used anyway for determinism.

    Returns the chosen forest edges (src, dst, w) — exactly
    |V| − #components rows.

    Statistics barrier: localCheckpoint INHERITS the origin plan's
    Catalyst statistics, and in a self-referencing loop the
    sizeInBytes estimate compounds MULTIPLICATIVELY per round (joins
    multiply the BigInt estimates of both inputs, and here both
    inputs derive from the loop state) — by round 4 the driver burns
    minutes in BigInteger.multiply inside stats estimation (measured:
    a 4-row contraction job took 104 s, with jstack showing Karatsuba
    /Toom-Cook frames). A fully-materialized persist() makes the
    InMemoryRelation report its ACTUAL cached byte size instead of
    the inherited estimate, so ``_cut`` = truncate + persist + count
    resets every loop-carried frame's statistics to reality; prior
    rounds' cache entries are released as the loop advances."""
    pinned: list[DataFrame] = []

    def _cut(df: DataFrame) -> tuple[DataFrame, int]:
        # The count doubles as the cache fill AND is returned so
        # callers never re-count the frame they just materialized —
        # this loop is scheduling-bound (169 jobs / 6.1 s of inter-job
        # gaps profiled at sf0.1), so every removed action is
        # wall-clock. A lazy checkpoint folded into the count measured
        # SLOWER than the eager one.
        out = truncate_lineage(df, eager=True).persist()
        n = out.count()
        pinned.append(out)
        return out, n

    def _release(keep: set[int]) -> None:
        for cached in pinned[:]:
            if id(cached) not in keep:
                cached.unpersist()
                pinned.remove(cached)

    spark = edges.sparkSession

    # initial contraction: components ARE nodes, so the reduced
    # multigraph keys directly on (src, dst); the struct payload keeps
    # the original edge identity for the output forest. This is the one
    # data-sized pass.
    red, n_red = _cut(
        edges.select(
            F.col(src_col).alias("ca"),
            F.col(dst_col).alias("cb"),
            F.struct(
                F.col(weight_col).alias("w"),
                F.col(src_col).alias("src"),
                F.col(dst_col).alias("dst"),
            ).alias("pick"),
        )
        .filter(F.col("ca") != F.col("cb"))
        .groupBy("ca", "cb")
        .agg(F.min("pick").alias("pick"))
    )

    # per-round chosen frames accumulate here and union ONCE at the end
    # (a per-round union+distinct+checkpoint added 2 jobs per round for
    # nothing: a chosen edge's endpoints share a component after its own
    # round's contraction, so it can never be re-chosen — rounds are
    # disjoint by construction)
    mst_parts: list[DataFrame] = []
    converged = n_red == 0
    for _ in range(max_rounds):
        if converged:
            break
        if n_red <= driver_finish_max:
            # DRIVER FINISH (the small-tail terminal step): the
            # contracted multigraph is component-pair-sized — once it
            # fits the driver comfortably, one Kruskal over its ≤n_red
            # representative edges replaces ALL remaining distributed
            # rounds (each costs 3+ scheduled jobs for geometrically
            # less work; the tail was pure scheduling overhead). Same
            # (w, src, dst) total order, so the forest is identical to
            # finishing distributed — pinned by
            # test_boruvka_hybrid_and_distributed_contraction_agree.
            # Arrow collect: 5 flat longs per pair ≈ 40 B/row, where
            # materialized py4j Rows cost 200-500 B/row — less
            # transfer, less driver garbage, same values.
            tbl = red.select(
                "ca", "cb",
                F.col("pick.w").alias("w"),
                F.col("pick.src").alias("src"),
                F.col("pick.dst").alias("dst"),
            ).toArrow()
            rows = list(
                zip(*(tbl.column(c).to_pylist()
                      for c in ("ca", "cb", "w", "src", "dst")))
            )
            par: dict = {}

            def _findf(x):
                while par.setdefault(x, x) != x:
                    par[x] = par[par[x]]
                    x = par[x]
                return x

            picked = []
            for ca, cb, w, src_, dst_ in sorted(
                rows, key=lambda r: (r[2], r[3], r[4])
            ):
                ra, rb = _findf(ca), _findf(cb)
                if ra != rb:
                    par[rb] = ra
                    picked.append((src_, dst_, w))
            if picked:
                mst_parts.append(
                    spark.createDataFrame(
                        picked, "src long, dst long, w long"
                    )
                )
            converged = True
            break
        # each component picks its cheapest incident pair; m orders by
        # pick first, so the tie-break stays the global (w, src, dst).
        # The chooser c is kept alongside the picked edge: it is the
        # parent-pointer seed for the distributed contraction below
        # (and costs nothing — the final forest is distinct()ed anyway,
        # exactly as the previous per-chooser duplicate rows were).
        both = red.select(
            F.col("ca").alias("c"),
            F.struct("pick", "ca", "cb").alias("m"),
        ).union(
            red.select(
                F.col("cb").alias("c"),
                F.struct("pick", "ca", "cb").alias("m"),
            )
        )
        chosen = (
            both.groupBy("c")
            .agg(F.min("m").alias("m"))
            .select(
                "c",
                F.col("m.pick.src").alias("src"),
                F.col("m.pick.dst").alias("dst"),
                F.col("m.pick.w").alias("w"),
                F.col("m.ca").alias("ca"),
                F.col("m.cb").alias("cb"),
            )
            .persist()
        )
        # ONE action decides the round size AND (when small) delivers
        # the union-find input: collect at most cap+1 (ca, cb) pairs —
        # if the limit is not hit, these ARE all the chosen pairs, so
        # no separate count or second collect is needed (the collect
        # stays bounded by contraction_collect_max). The guard on
        # n_red keeps genuinely big rounds (early rounds at scale) on
        # a plain count instead of probing the limit.
        def _pairs(df):
            # Arrow collect: 16 B/pair vs 200-500 B/row for
            # materialized py4j Rows — same values, same bound.
            t = df.toArrow()
            return list(
                zip(t.column("ca").to_pylist(), t.column("cb").to_pylist())
            )

        if n_red <= 4 * contraction_collect_max:
            head = _pairs(
                chosen.select("ca", "cb").limit(contraction_collect_max + 1)
            )
            n_chosen = (
                len(head)
                if len(head) <= contraction_collect_max
                else chosen.count()
            )
        else:
            head = None
            n_chosen = chosen.count()
        if n_chosen == 0:
            chosen.unpersist()
            converged = True
            break
        mst_parts.append(chosen)
        if n_chosen <= contraction_collect_max:
            # hybrid small-tail path: union-find over ≤n_chosen pairs
            if head is None:
                head = _pairs(chosen.select("ca", "cb"))
            par: dict = {}

            def _find(x):
                while par.setdefault(x, x) != x:
                    par[x] = par[par[x]]
                    x = par[x]
                return x

            for ca, cb in head:
                ra, rb = _find(ca), _find(cb)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    par[rb] = ra
            lbl = F.broadcast(
                spark.createDataFrame(
                    [(c, _find(c)) for c in list(par)], "c long, lbl long"
                )
            )
        else:
            # PARENT-POINTER contraction: exactly ONE equi-join per
            # step, where a min-label neighbor-propagation fixpoint
            # re-joins the symmetrized pair graph AND the label table
            # every iteration (~4 joins + 2 actions per step).
            # Every component points at the partner of its chosen edge.
            # With a strict global (w, src, dst) edge order the only
            # cycles in that functional graph are MUTUAL 2-cycles (a
            # longer cycle would need strictly decreasing weights all
            # the way around), so rooting each 2-cycle at its smaller
            # id yields a rooted forest over exactly the hooking
            # graph's components, and pointer doubling (p ← p[p])
            # reaches the fixpoint in O(log depth) rounds. Same
            # component partition as a neighbor-min walk — and
            # the docstring's invariant stands: any consistent
            # relabeling yields the same forest, since edges are
            # chosen before contraction.
            par = chosen.select(
                "c",
                F.when(F.col("ca") == F.col("c"), F.col("cb"))
                .otherwise(F.col("ca"))
                .alias("p"),
            )
            pp = par.select(F.col("c").alias("p"), F.col("p").alias("pp"))
            par, _ = _cut(
                par.join(pp, "p", "left").select(
                    "c",
                    F.when(
                        (F.col("pp") == F.col("c")) & (F.col("c") < F.col("p")),
                        F.col("c"),
                    )
                    .otherwise(F.col("p"))
                    .alias("p"),
                )
            )
            while True:
                nxt = (
                    par.alias("x")
                    .join(par.alias("y"), F.col("x.p") == F.col("y.c"), "left")
                    .select(
                        F.col("x.c").alias("c"),
                        F.coalesce(F.col("y.p"), F.col("x.p")).alias("p"),
                        (
                            F.coalesce(F.col("y.p"), F.col("x.p"))
                            != F.col("x.p")
                        ).alias("__changed"),
                    )
                )
                # TWO actions per doubling step: the full-scan
                # changed-count doubles as the cache fill, so no
                # separate count or limit(1) probe is needed.
                nxt = truncate_lineage(nxt, eager=True).persist()
                pinned.append(nxt)
                changed = nxt.filter(F.col("__changed")).count()
                par = nxt.drop("__changed")
                if changed == 0:
                    break
            lbl = par.select("c", F.col("p").alias("lbl"))
        # relabel + re-reduce the contracted multigraph; it shrinks at
        # least geometrically, so every round after the first touches a
        # strictly smaller frame. The label table has at most n_chosen
        # rows (one per hooking component) — when that is bounded,
        # broadcast it so neither relabel join shuffles `red` (the
        # data-sized side in round 1); past the bound the joins fall
        # back to the shuffle path exactly as before.
        la = lbl.withColumnsRenamed({"c": "a_c", "lbl": "a_lbl"})
        lb = lbl.withColumnsRenamed({"c": "b_c", "lbl": "b_lbl"})
        if n_chosen <= LABEL_BROADCAST_MAX:
            la, lb = F.broadcast(la), F.broadcast(lb)
        red_next = (
            red.join(la, red["ca"] == F.col("a_c"), "left")
            .join(lb, red["cb"] == F.col("b_c"), "left")
            .select(
                F.coalesce(F.col("a_lbl"), F.col("ca")).alias("ca"),
                F.coalesce(F.col("b_lbl"), F.col("cb")).alias("cb"),
                "pick",
            )
            .filter(F.col("ca") != F.col("cb"))
            .groupBy("ca", "cb")
            .agg(F.min("pick").alias("pick"))
        )
        red, n_red = _cut(red_next)
        _release({id(red)})
        if n_red == 0:
            converged = True
            break
    if not converged:
        # Borůvka only guarantees component-count HALVING per round, so
        # exhausting max_rounds while cross-component edges remain means
        # an incomplete forest — fail loudly rather than return a forest
        # whose only symptom downstream is a false identity count.
        _release(set())
        for part in mst_parts:
            part.unpersist()
        raise RuntimeError(
            f"boruvka_mst: max_rounds={max_rounds} exhausted with "
            "cross-component edges remaining — raise max_rounds "
            "(each round at least halves the component count, so "
            "ceil(log2(initial components)) rounds suffice)"
        )
    mst = spark.createDataFrame([], "src long, dst long, w long")
    for part in mst_parts:
        mst = mst.union(part.select("src", "dst", "w"))
    mst = truncate_lineage(mst.distinct(), eager=True)
    _release(set())
    for part in mst_parts:
        part.unpersist()
    return mst


def certify_spanning_forest(
    edges: DataFrame,
    forest: DataFrame,
    n_nodes: int,
    n_forest_edges: int,
    src_col: str = "src",
    dst_col: str = "dst",
    collect_max: int = 4_000_000,
) -> int:
    """Certify that ``forest`` is a spanning forest of the graph given
    by ``edges`` and return the graph's component count — the cheap
    independent certificate for boruvka_mst's forest identity.

    Label-propagation connected components over the FULL edge list
    (E-sized work × diameter rounds) would count components for the
    |MST| = |V| − #components identity. But
    the identity only certifies two properties — the forest is ACYCLIC
    and it SPANS (connects everything its graph connects) — and both
    are checkable against the V-sized forest the query has already
    materialized:

    * acyclicity: union-find over the forest's ≤|V|−1 edges — any edge
      closing a cycle fails immediately;
    * spanning: forest edges ⊆ graph edges refine the graph's
      components, so the forest partition equals the graph partition
      iff NO graph edge crosses two forest components — one broadcast
      map-side pass over the edge list, zero shuffles of it.

    When both hold, #components(graph) = #components(forest) =
    |V| − |forest| exactly (acyclic forest on |V| nodes), which is the
    value returned. On violation this raises — same fail-loud contract
    as the caller's identity check.

    Hybrid like boruvka_mst's contraction: the forest collects to the
    driver through Arrow (16 bytes/edge — ``collect_max`` 4M edges ≈
    64 MB, the same budget as DEFAULT_BROADCAST_MAX_STATE; the py4j
    Row path would be 10-30× that) only while it fits; past the cap
    the certificate falls back to the original E-sized
    label-propagation components pass (functions/dedup) and returns
    its count for the caller's identity check to compare — scale-safe,
    never wrong, just the old cost."""
    spark = edges.sparkSession
    if n_forest_edges > collect_max:
        from yelp_etl_spark.functions.dedup import connected_components

        return (
            connected_components(edges, src_col, dst_col)
            .select("component")
            .distinct()
            .count()
        )

    tbl = forest.select(
        F.col(src_col).cast("long").alias("a"),
        F.col(dst_col).cast("long").alias("b"),
    ).toArrow()
    aa = tbl.column("a").to_pylist()
    bb = tbl.column("b").to_pylist()
    par: dict = {}

    def _find(x):
        while par.setdefault(x, x) != x:
            par[x] = par[par[x]]
            x = par[x]
        return x

    for a, b in zip(aa, bb):
        ra, rb = _find(a), _find(b)
        if ra == rb:
            raise RuntimeError(
                "certify_spanning_forest: forest contains a cycle "
                f"(edge {a}-{b} closes one) — not a forest"
            )
        par[rb] = ra
    n_forest_nodes = len(par)
    roots = {_find(x) for x in par}

    # spanning check: no graph edge may cross two forest components.
    # Labels broadcast (≤ collect_max rows by the guard above), so the
    # edge list is scanned map-side once — no shuffle, no iteration.
    import pyarrow as pa

    nodes = list(par)
    lbl = spark.createDataFrame(
        pa.table(
            {
                "c": pa.array(nodes, pa.int64()),
                "lbl": pa.array([_find(x) for x in nodes], pa.int64()),
            }
        )
    )
    la = F.broadcast(lbl.withColumnsRenamed({"c": "a_c", "lbl": "a_lbl"}))
    lb = F.broadcast(lbl.withColumnsRenamed({"c": "b_c", "lbl": "b_lbl"}))
    crossing = (
        edges.join(la, edges[src_col] == F.col("a_c"), "left")
        .join(lb, edges[dst_col] == F.col("b_c"), "left")
        # a node absent from the forest is its own singleton component
        .filter(
            F.coalesce(F.col("a_lbl"), edges[src_col])
            != F.coalesce(F.col("b_lbl"), edges[dst_col])
        )
        .limit(1)
        .count()
    )
    if crossing:
        raise RuntimeError(
            "certify_spanning_forest: a graph edge crosses two forest "
            "components — the forest does not span the graph"
        )
    return (n_forest_nodes - n_forest_edges) + (n_nodes - n_forest_nodes)
