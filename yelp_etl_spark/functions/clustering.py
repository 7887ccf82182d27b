"""Distributed Lloyd's k-means over an embedding column.

The iterative companion to the aggregate-only centroid ops
(plans/ext label_centroids) and the ANN family (functions/
similarity.py): cluster the corpus itself, instead of probing it.
Standard uses in a training-data pipeline: semantic dedup pre-bucketing,
IVF coarse quantizer training (similarity.py's ivf_topk consumes
exactly such centroids), diversity-balanced sampling, and topic-ish
corpus maps.

Design (the same discipline as functions/bpe.py's training loop):

- The vector table explodes ONCE into (id, pos, x) component rows —
  hash-partitioned by id, lineage truncated — and every iteration is
  flat relational algebra over it: join the k×dim broadcast centroid
  table on the dimension, one partial-aggregated shuffle to per-
  (vector, cluster) squared distances, an argmin by min(struct), and
  one more partial-aggregated shuffle to the new k×dim centroids.
  Nothing wider than (id, 2 longs, double) ever shuffles, and the
  per-iteration driver collect is the k×dim centroid table — bounded
  by the model size, not the data (BPE collects 1 row per merge the
  same way).
- Determinism and engine portability: init is the first ``k`` vectors
  by id (no RNG), components are cast float32→double (exact), and
  centroids are ROUNDED to ``round_decimals`` after every update —
  double-precision summation-order noise (~1e-16) can never survive
  the rounding, so Spark and a DuckDB oracle running the identical
  unrolled iterations agree bit-for-bit on every assignment
  (fp-associativity is the classic cross-engine k-means trap).
  Distance ties break toward the lower cluster index via the struct
  ordering.
- At 100 TB: the exploded table is n×dim narrow rows partitioned by
  id (the explode itself is readers.fan_out-widened for narrow
  scans); per-iteration cost is two keyed partial-agg shuffles and a
  k×dim broadcast — the same per-round shape as pagerank. For
  dim ≫ 10³ fold the component join into a blocked-GEMM mapInPandas
  pass (similarity.py:cosine_topk_gemm's pattern); for k ≫ 10³ use
  an ANN-assisted assignment (only nearby centroids per point).
  Empty clusters simply drop out of the recompute (both engines
  agree, since assignments agree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yelp_etl_spark.functions.checkpoint import truncate_lineage
from yelp_etl_spark.sources.readers import fan_out


def _component_rows(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    return (
        fan_out(df, id_col)
        .select(
            F.col(id_col),
            F.posexplode(F.col(vec_col)).alias("pos", "__xf"),
        )
        .select(id_col, "pos", F.col("__xf").cast("double").alias("x"))
    )


def kmeans(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iterations: int = 3,
    round_decimals: int = 6,
) -> tuple[DataFrame, list[tuple[int, int, float]]]:
    """Run ``iterations`` Lloyd updates from the first-``k``-by-id
    init; returns (assignments, centroid_rows) where assignments is a
    DataFrame (id, cluster, dist2) under the FINAL centroids and
    centroid_rows is the final [(cluster, pos, value)] component list
    (k×dim, the model — small enough to return driver-side, exactly
    what similarity.py's IVF path wants as its coarse quantizer)."""
    spark = df.sparkSession
    ex = truncate_lineage(
        _component_rows(df, id_col, vec_col), eager=True
    )
    first = [
        r[0]
        for r in df.select(id_col).orderBy(id_col).limit(k).collect()
    ]
    order = {v: i for i, v in enumerate(first)}
    cent_rows = [
        (order[r[0]], r[1], round(r[2], round_decimals))
        for r in ex.filter(F.col(id_col).isin(first)).collect()
    ]

    def _assign(cent) -> DataFrame:
        cdf = F.broadcast(
            spark.createDataFrame(cent, "c int, pos int, v double")
        )
        # (x-v)*(x-v), not **2: ** compiles to POW, whose last-bit
        # behavior is not guaranteed identical to plain multiplication
        # — the oracle multiplies, so we multiply
        diff = F.col("x") - F.col("v")
        d = (
            ex.join(cdf, "pos")
            .groupBy(id_col, "c")
            .agg(F.sum(diff * diff).alias("d"))
        )
        return (
            d.groupBy(id_col)
            .agg(F.min(F.struct("d", "c")).alias("m"))
            .select(
                id_col,
                F.col("m.c").alias("cluster"),
                F.col("m.d").alias("dist2"),
            )
        )

    for _ in range(iterations):
        assign = _assign(cent_rows)
        cent_rows = [
            (r[0], r[1], r[2])
            for r in (
                assign.join(ex, id_col)
                .groupBy(F.col("cluster").alias("c"), "pos")
                .agg(F.round(F.avg("x"), round_decimals).alias("v"))
                .collect()
            )
        ]
    return _assign(cent_rows), cent_rows


def power_iteration_pca(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 5,
    round_decimals: int = 6,
) -> tuple[DataFrame, float, float]:
    """Top principal component by power iteration WITHOUT materializing
    the covariance matrix: each round computes per-vector projections
    t_i = xc_i · v (one keyed partial-agg shuffle) and the re-weighted
    direction w = Σ_i xc_i t_i / n (a second one), then normalizes —
    the matrix-free A·v product, so cost per round is two shuffles of
    (key, double) cells regardless of dim² (at dim 10³+ a covariance
    materialization is dim² cells; this never builds it).

    The same cross-engine determinism discipline as ``kmeans``:
    float32→double exact casts, the per-dimension mean and the
    direction vector ROUNDED to ``round_decimals`` after every
    normalize, deterministic e₀ init, a fixed iteration count (no
    convergence test — both engines run the identical unrolled
    rounds), and a sign convention (the largest-|loading| coordinate
    is made positive, ties to the lowest pos) since ±v are the same
    axis. A DuckDB oracle replays the rounds bit-for-bit.

    Returns (loadings DataFrame (pos, loading), eigenvalue, total_var)
    — eigenvalue/total_var is the explained-variance ratio. The
    centered component table is built once and checkpointed; the
    driver only ever holds dim-sized vectors (the model), never data.
    """
    spark = df.sparkSession
    xc = truncate_lineage(
        _component_rows(df, id_col, vec_col)
        .withColumn(
            "mu",
            F.round(
                F.avg("x").over(Window.partitionBy("pos")), round_decimals
            ),
        )
        .select(id_col, "pos", (F.col("x") - F.col("mu")).alias("x")),
        eager=True,
    )
    n = df.count()
    dim = len(df.select(vec_col).limit(1).collect()[0][0])
    v = [(p, 1.0 if p == 0 else 0.0) for p in range(dim)]

    def _matvec(vrows) -> list[tuple[int, float]]:
        vdf = F.broadcast(spark.createDataFrame(vrows, "pos int, v double"))
        t = (
            xc.join(vdf, "pos")
            .groupBy(id_col)
            .agg(F.sum(F.col("x") * F.col("v")).alias("t"))
        )
        w = (
            xc.join(t, id_col)
            .groupBy("pos")
            .agg((F.sum(F.col("x") * F.col("t")) / F.lit(float(n))).alias("w"))
        )
        return [(r[0], r[1]) for r in w.collect()]

    for _ in range(iterations):
        w = _matvec(v)
        norm = sum(val * val for _, val in w) ** 0.5
        v = [(p, round(val / norm, round_decimals)) for p, val in w]
    # sign convention: largest-|loading| coordinate positive
    top = min(v, key=lambda pv: (-abs(pv[1]), pv[0]))
    if top[1] < 0:
        v = [(p, -val if val != 0.0 else 0.0) for p, val in v]
    # eigenvalue = v·(A v); total variance = sum of per-dim variances
    w = dict(_matvec(v))
    eig = sum(val * w[p] for p, val in v)
    total = (
        xc.agg((F.sum(F.col("x") * F.col("x")) / F.lit(float(n))).alias("tv"))
        .collect()[0][0]
    )
    loadings = spark.createDataFrame(v, "pos int, loading double")
    return loadings, eig, total
