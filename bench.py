#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per-query timing = full execution to a count-style action (results are
materialized but not collected to the driver). Each query is warmed up
once against the tiny sf0.001 sibling of the target dir (identical
codegen source, so compile/JIT cost never bills to the timed run), then
timed at the target SF (min of SPARK_GRAFT_BENCH_RUNS runs, default 1).
Memoized queries (MEMOIZED_QUERIES) warm against the target itself.

The per-round timed set is a rotating subset (see
ANCHORS / select_queries) so the wall stays under the driver's ~590 s
envelope as the catalog grows; SPARK_GRAFT_BENCH_FULL=1 restores the
full catalog. One end-to-end medallion pipeline run at the target SF is
always timed and reported as ``pipeline_seconds``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from yelp_etl_spark.plans.catalog import QUERIES
from yelp_etl_spark.session import get_spark, scratch_root

BENCH_QUERIES = sorted(QUERIES)

# ---------------------------------------------------------------------------
# Rotating bench subset. Per round we time:
#   * ANCHORS — headline + one representative per operator family, every
#     round (the cross-round regression spine), timed min-of-3 so plan
#     regressions separate from machine noise;
#   * MEMOIZED_QUERIES — force-included every round (special accounting);
#   * a rotating third of everything else: crc32(name) % 3 == round % 3, so
#     every query is timed at least once every 3 consecutive rounds and each
#     round's slice is deterministic and disjoint.
# SPARK_GRAFT_BENCH_FULL=1 forces the full catalog. The BENCH_DETAIL_r{N}.json
# artifact records which rule selected each query.
# ---------------------------------------------------------------------------
ANCHORS = {
    "flagship_revenue",      # headline star join
    "pricing_summary",       # TPC-H q1 scan+agg
    "enrich_obt",            # fact×dims OBT
    "tpch_q9_profit",        # join-heavy TPC-H
    "pagerank",              # iterative graph
    "kmeans_clusters",       # iterative ML
    "cosine_topk",           # brute-force ANN
    "lsh_topk_checked",      # bucketed ANN
    "minhash_neardup",       # dedup sketch
    "duplicate_spans_pruned",# text n-gram dedup
    "record_linkage_fs",     # blocked linkage
    "stream_dedup_totals",   # streaming
    "snapshot_compact",      # snapshot maintenance
    "bloom_bitarray_prune",  # documented fixture-scale worst case
    "cogroup_attribution",   # pandas-cogroup tier
}
# Queries whose first run builds a persisted per-(session, sf_dir) memo the
# docstring declares amortized at scale (today: pagerank_dict_ids' dictionary
# encode, catalog.py:5349-5400). These warm against the TARGET sf_dir so the
# timed run measures the steady-state iteration the docstring describes; the
# tiny-fixture warmup would leave the full encode billed to the timed run
# (the r7 6.49 s vs r6 2.14 s accounting artifact).
MEMOIZED_QUERIES = {"pagerank_dict_ids"}


def detect_round(repo_dir: str) -> int:
    """Current build round: SPARK_GRAFT_ROUND, else 1 + the highest
    BENCH_r{N}.json already recorded by the driver."""
    import glob
    import re

    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    ns = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(ns) + 1) if ns else 1


def select_queries(round_no: int, full: bool) -> dict[str, str]:
    """{query: selection_reason} for this round's timed set."""
    import zlib

    sel: dict[str, str] = {}
    for name in BENCH_QUERIES:
        if full:
            sel[name] = "full"
        elif name in ANCHORS:
            sel[name] = "anchor"
        elif name in MEMOIZED_QUERIES:
            # force-included every round (r8 VERDICT #4): their memo
            # accounting is special by construction, so the number that
            # demonstrates it must exist in every BENCH_DETAIL
            sel[name] = "memoized"
        elif zlib.crc32(name.encode()) % 3 == round_no % 3:
            sel[name] = "rotation"
    return sel


def detail_filenames(
    round_no: int, sf: float, full: bool = False, runs: int = 1
) -> list[str]:
    """Detail artifacts a run may write. BENCH_DETAIL.json = latest
    run, always; BENCH_DETAIL_r{N}.json = the per-round archive
    (VERDICT r7 #1: per-query cross-round diffing must be possible
    from the repo alone), written ONLY for canonical-protocol runs:
    sf0.1 AND the rotating subset (not SPARK_GRAFT_BENCH_FULL) AND the
    default run count — an exploratory probe at another SF, a
    full-catalog sweep, or a custom SPARK_GRAFT_BENCH_RUNS must not
    clobber the round's snapshot (an sf0.01 probe did exactly that in
    r14 and the wrong snapshot was briefly committed; r14 ADVICE #2
    extended the gate beyond SF to the protocol knobs)."""
    fnames = ["BENCH_DETAIL.json"]
    if abs(sf - 0.1) < 1e-9 and not full and runs == 1:
        fnames.append(f"BENCH_DETAIL_r{round_no:02d}.json")
    return fnames


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("yelp-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Steady-state timing at full-catalog scale (r6 VERDICT: at 280
    # queries the classic min-of-2 run exceeds the driver's ~10-minute
    # envelope, and a measured adaptive single-run scheme billed
    # per-query codegen compile to the heavy queries — flagship 0.9 s
    # → 5.9 s as the session's first query — wrecking cross-round
    # comparability). Scheme: each query first runs ONCE against the
    # tiny warmup fixture (default sf0.001) — the logical plan, and
    # therefore the whole-stage-codegen source, is data-independent,
    # so this compiles and JITs the identical generated code for
    # pennies — then the timed run at the target SF hits the codegen
    # cache, matching the old min-of-2's second-run steady state at
    # roughly half the wall. SPARK_GRAFT_BENCH_RUNS=k times min-of-k
    # AFTER the warmup; SPARK_GRAFT_WARMUP_SF_DIR overrides the
    # warmup fixture. The System.gc() hint fires every fourth query
    # (full pauses between timings, a quarter of the old pause
    # budget).
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1"))
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    # Warmup fixture: env override, else the target's sibling sf0.001
    # (NOT a hardcoded path — on a machine without /root/testdata every
    # warmup would fail and all timed runs would execute cold), else the
    # target itself (warmup==extra run: still correct, just slower).
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR")
    if not warm_dir:
        sibling = os.path.join(
            os.path.dirname(sf_dir.rstrip("/")) or sf_dir, "sf0.001"
        )
        warm_dir = sibling if os.path.isdir(sibling) else sf_dir
    round_no = detect_round(repo_dir)
    full = os.environ.get("SPARK_GRAFT_BENCH_FULL") == "1"
    selected = select_queries(round_no, full)
    jvm_gc = spark.sparkContext._jvm.System.gc

    timings: dict[str, float] = {}
    min_of: dict[str, int] = {}
    warmup_failures: list[str] = []
    for qi, name in enumerate(selected):
        if qi % 4 == 0:
            jvm_gc()
        # memoized queries warm against the TARGET sf_dir so their
        # one-time build (persisted at real scale) never bills to the
        # timed run; everything else warms on the tiny fixture
        q_warm_dir = sf_dir if name in MEMOIZED_QUERIES else warm_dir
        try:  # warmup is best-effort: a fixture quirk must not abort
            QUERIES[name].fn(spark, q_warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            # NOT silent: a missing warmup fixture would cold-run every
            # timed query (the exact comparability failure this scheme
            # exists to prevent) while the output claimed otherwise
            warmup_failures.append(name)
            print(f"WARN warmup failed for {name}", file=sys.stderr)
            if len(warmup_failures) > max(3, len(selected) // 10):
                raise SystemExit(
                    f"aborting: {len(warmup_failures)} warmup failures "
                    f"({warmup_failures}) — the timed numbers would be "
                    "cold-run and not comparable across rounds"
                )
        # anchors time min-of-3 (r8 VERDICT #3 established min-of-k for
        # the regression tripwire; raised 2→3 in r11 after min-of-2
        # still undersampled ~1 s anchors — tpch_q9_profit's 0.76→1.17
        # "regression" took a plan diff to dismiss as noise, see
        # BENCH_VARIANCE.md adjudications. ~15 anchors × ~1 extra run
        # ≈ +20 s of bench wall buys flag-free cross-round anchors);
        # the rest stay warmup+runs to hold the subset under the
        # driver envelope
        q_runs = max(runs, 3) if name in ANCHORS else runs
        best = None
        for _ in range(q_runs):
            t0 = time.time()
            df = QUERIES[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.time() - t0
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 3)
        min_of[name] = q_runs

    # the reference-workload-shaped number: one end-to-end medallion run
    # (extract×5 → clean×5 → enrich×3 → gold) at the target SF. ALWAYS
    # measured as a standalone run_medallion wall (r8 ADVICE: reusing
    # medallion_gold_parity's timed wall when that query happened to be
    # in the subset mixed in its oracle rollup, so the headline pipeline
    # metric wasn't measured consistently across rounds). ~12 s at
    # sf0.1 — cheap insurance for a cross-round-comparable headline.
    import shutil
    import tempfile

    from yelp_etl_spark.plans.pipelines import run_medallion

    # min-of-2 with a fresh output root per run (r9 VERDICT #2: the
    # 11.63→21.16 s jump needed attribution — it was NOT the r9
    # CHECK-constraint feature, whose validation only runs when a
    # parent manifest carries constraints and run_medallion's single
    # snapshot commit is a fresh replace with none; it was the r9
    # accounting fix switching from reusing the memoized parity
    # query's WARM wall to one standalone COLD run. min-of-2 makes the
    # recorded number the warm wall, comparable across rounds.)
    pipeline_runs = []
    for _ in range(2):
        med_root = tempfile.mkdtemp(
            prefix="bench_medallion_", dir=scratch_root()
        )
        try:
            t0 = time.time()
            run_medallion(spark, sf_dir, med_root)
            pipeline_runs.append(round(time.time() - t0, 3))
        finally:
            shutil.rmtree(med_root, ignore_errors=True)
    pipeline_seconds = min(pipeline_runs)

    total = round(sum(timings.values()), 3)
    # Full per-query map goes to a detail file; the printed line stays
    # compact (slowest 10 only) so the driver's ~2000-char tail capture
    # can always parse it (round-1 BENCH parse failed on a ~5 KB line).
    detail = {
        "metric": "total_bench_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "selection": selected,
        "round": round_no,
        "subset_rule": "full" if full else "anchors+memoized+crc32%3==round%3",
        "n_catalog": len(BENCH_QUERIES),
        "pipeline_seconds": pipeline_seconds,
        "pipeline_path": "standalone_run_medallion",
        "pipeline_runs": pipeline_runs,
        "pipeline_min_of": 2,
        "pipeline_attribution": (
            "r8 11.63 s was a WARM memoized-reuse wall; r9 21.16 s was one "
            "standalone COLD run. CHECK constraints contribute 0 s here: "
            "run_medallion's only snapshot commit is a fresh replace with "
            "no parent constraints, so _validate_constraints never runs. "
            "pipeline_seconds is now min-of-2 (the warm wall)."
        ),
        "min_of": min_of,
        "anchor_min_of": max(runs, 3),
        # which I/O regime the run used (r15 VERDICT what's-wrong #2:
        # pipeline_seconds partly reflects scratch placement since the
        # r15 RAM-root change — record it so cross-round diffs can
        # tell the regimes apart)
        "scratch_root": scratch_root() or "tempfile-default",
        "sf": sf,
        "runs_per_query": f"warmup+{runs} (anchors min-of-{max(runs, 3)})",
        "warmup_failures": warmup_failures,
        "aggregation": "min",
    }
    for fname in detail_filenames(round_no, sf, full=full, runs=runs):
        with open(os.path.join(repo_dir, fname), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(
        json.dumps(
            {
                "metric": "total_bench_seconds",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(timings),
                "n_catalog": len(BENCH_QUERIES),
                "subset_rule": detail["subset_rule"],
                "pipeline_seconds": pipeline_seconds,
                "seconds_per_query": round(total / max(1, len(timings)), 3),
                "sf": sf,
                "runs_per_query": f"warmup+{runs} (anchors min-of-{max(runs, 3)})",
                "n_warmup_failures": len(warmup_failures),
                "aggregation": "min",
                "detail": "BENCH_DETAIL.json",
            }
        )
    )


if __name__ == "__main__":
    main()
