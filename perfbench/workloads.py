"""The benchmark's workloads, their operations and the oracle gate.

One operation is one call into the package's public entry points:

- a catalog query: ``plans.catalog.QUERIES[q].fn(spark, data_dir)`` builds
  the DataFrame on the driver, then a ``noop`` write executes it;
- ``plans.pipelines.run_medallion(spark, data_dir, <fresh root>)``.

Every operation's result is checked against its DuckDB oracle after the
timed region, with the canonical comparison of ``scripts/check_parity.py``
(columns sorted, rows sorted, doubles to 9 significant digits).
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
import time
from dataclasses import dataclass

MEDALLION = "medallion"


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    why: str


# Each pass runs every operation of its workload once, in an order drawn
# from the run's seed. A run pays a JVM start and a cold first pass (about
# three times a warm one) before it times anything, so each workload's pass
# is kept to a few seconds on 4 cores, which keeps a run under a minute.
# One workload never calls ``functions`` or ``streaming`` and runs no driver
# loops; the other does little else, so each is the other's control.
WORKLOADS: dict[str, Workload] = {
    "etl": Workload(
        ops=(
            MEDALLION,
            "flagship_revenue",
            "window_topk",
        ),
        why="the reference's bronze-to-gold medallion job (parquet and "
        "snapshot writes, cleaning/dates/enrich operators) plus read-only "
        "star-join and window queries; no functions code, no driver loops",
    ),
    "llm_mix": Workload(
        ops=(
            "stream_dedup_totals",
            "neardup_components",
        ),
        why="LLM-data operators: the streaming dedup harness across the "
        "Arrow/pandas boundary, and near-duplicate connected components, a "
        "driver-side fixpoint loop of eager jobs and checkpoints",
    ),
}


def load_check_parity(root: str):
    """``scripts/check_parity.py`` of the checkout under test."""
    path = os.path.join(root, "scripts", "check_parity.py")
    spec = importlib.util.spec_from_file_location("check_parity", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class Oracle:
    """Expected results, computed once per run with DuckDB."""

    def __init__(self, root: str, data_dir: str, ops: tuple[str, ...]) -> None:
        import duckdb

        from yelp_etl_spark.plans.catalog import QUERIES
        from yelp_etl_spark.sources.readers import TABLES

        self._canonical = load_check_parity(root).canonical
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}
        for op in ops:
            sql = QUERIES["medallion_gold_parity" if op == MEDALLION else op].oracle
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            self.expected[op] = (cols, self._canonical(res.fetchall(), cols))
        con.close()

    def mismatch(self, op: str, columns: list[str], rows: list[tuple]) -> str | None:
        """Why ``rows`` differ from the oracle's answer, or None."""
        want_cols, want = self.expected[op]
        if sorted(columns) != sorted(want_cols):
            return f"columns {sorted(columns)} != oracle {sorted(want_cols)}"
        if len(rows) != len(want):
            return f"{len(rows)} rows != oracle {len(want)}"
        got = self._canonical(rows, columns)
        for a, b in zip(got, want):
            if a != b:
                return f"row {a} != oracle {b}"
        return None


def medallion_gold_totals(spark, root: str):
    """The gold table reduced exactly as the ``medallion_gold_parity``
    query reduces it, so ``ORACLE_MEDALLION_GOLD_PARITY`` applies."""
    from pyspark.sql import functions as F

    from yelp_etl_spark.sources.snapshots import snapshot_read

    gold = snapshot_read(spark, f"{root}/gold/segment_weekly")
    return gold.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_weeks"),
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        F.sum("n_customers").cast("long").alias("customer_weeks"),
    )


@dataclass
class OpResult:
    op: str
    build_s: float
    exec_s: float
    start: float  # epoch seconds
    end: float
    error: str | None = None
    df: object = None  # the built DataFrame, for the checks after timing
    out_root: str | None = None  # medallion output root

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


def run_op(spark, op: str, data_dir: str, out_root: str) -> OpResult:
    """Time one operation: build, then the final action."""
    from yelp_etl_spark.plans.catalog import QUERIES
    from yelp_etl_spark.plans.pipelines import run_medallion

    start = time.time()
    t0 = time.perf_counter()
    build = 0.0
    try:
        if op == MEDALLION:
            run_medallion(spark, data_dir, out_root)  # executes as it goes
            return OpResult(op, 0.0, time.perf_counter() - t0, start, time.time(),
                            out_root=out_root)
        fn = QUERIES[op].fn
        # Resolved through its module, so that a traced pass calls the
        # traced wrapper and the build shows up as a ``plans`` span.
        fn = getattr(sys.modules[fn.__module__], fn.__name__, fn)
        df = fn(spark, data_dir)
        build = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        return OpResult(op, build, time.perf_counter() - t0 - build, start, time.time(), df=df)
    except Exception as e:  # an operation's failure is counted, not fatal
        wall = time.perf_counter() - t0
        return OpResult(op, build, wall - build, start, time.time(),
                        error=f"{type(e).__name__}: {e}"[:500])


def check_op(spark, oracle: Oracle, res: OpResult) -> str | None:
    """Compare an operation's result with its oracle (outside timing)."""
    if res.error:
        return res.error
    try:
        if res.op == MEDALLION:
            df = medallion_gold_totals(spark, res.out_root)
        else:
            df = res.df
        rows = [tuple(r) for r in df.collect()]
        return oracle.mismatch(res.op, df.columns, rows)
    except Exception as e:
        return f"check failed: {type(e).__name__}: {e}"[:500]
    finally:
        if res.out_root:
            shutil.rmtree(os.path.dirname(res.out_root), ignore_errors=True)
