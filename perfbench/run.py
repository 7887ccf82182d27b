"""spark-graft benchmark: one closed-loop client over fixed operation mixes.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. One driver process runs
a local[nproc] session built by ``session.get_spark`` and submits each
operation only after the previous one finished. A run is:

1. generate the fixture tables (``datagen.py``, fixed data seed) and the
   DuckDB oracle answers: not timed;
2. set-up, timed as ``setup_s``: ``get_spark`` plus two warm passes (after
   one, the next pass is still about 15 % slower than the ones after it);
3. timed passes: at least three, then more while the next one is expected to
   end within ``--seconds`` of measured time. Each pass runs every
   operation of the workload once, in an order drawn from ``--seed``;
4. after each operation, outside the timed region, the oracle gate.

With ``--trace 0`` the last stdout line holds the end-to-end metrics. With
``--trace 1`` timed passes alternate untraced and traced; the traced ones
give the per-layer ledger (``ledger.py``) and ``trace.overhead`` is the
median ratio of a traced pass's wall to the untraced passes beside it. Every
run also writes a detail file with its provenance and per-operation ledger under
``.perfbench_run/results/``; ``compare.py`` diffs two sets of them.

Everything the run writes stays under ``.perfbench_run/`` in the checkout.
Exit code 0 means every operation matched its oracle; 1 means some did not;
2 means the checkout cannot be benchmarked.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from ledger import MEDALLION_LAYERS, PACKAGE  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

WORK_DIR = ".perfbench_run"
DRIVER_MEM = "1g"  # the package defaults to 12g; a heap that reaches its cap
# early makes the peak RSS repeatable (the JVM's spread is about half of 2g's)
# Stop starting passes past this: a run then ends within about 70 s even on a
# slowed host, so that all runs of a benchmark round fit its time budget.
MAX_RUN_S = 62.0
WARM_PASSES = 2
MIN_PASSES = 3  # so that the median drops one slow pass

def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(root: str) -> dict[str, str]:
    """Point every scratch path of the package and of Spark into the
    checkout's work dir; return the directories. ``data`` and ``results``
    are shared by runs, the rest is private to this process."""
    work = os.path.join(root, WORK_DIR)
    own = os.path.join(work, f"run-{os.getpid()}")
    dirs = {name: os.path.join(work, name) for name in ("data", "results")}
    dirs.update({name: os.path.join(own, name) for name in ("scratch", "tmp", "local")})
    dirs["own"] = own
    shutil.rmtree(own, ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_SCRATCH": dirs["scratch"],
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    return dirs


def ensure_data(dirs: dict[str, str]) -> None:
    """Generate the fixture tables once per checkout. The marker is written
    last, so a run cut short leaves none and the next run regenerates."""
    import datagen
    from yelp_etl_spark.sources.readers import TABLES

    data = dirs["data"]
    marker = os.path.join(data, f"complete-{datagen.DATA_SEED}")
    if os.path.exists(marker):
        return
    shutil.rmtree(data, ignore_errors=True)
    datagen.write(data)
    missing = [t for t in TABLES if not os.path.exists(os.path.join(data, f"{t}.parquet"))]
    if missing:
        fail(f"generated data lacks tables the catalog reads: {missing}")
    open(marker, "w").close()


def reset_own_hwm() -> None:
    """Reset this process's VmHWM to its current RSS, so that the peak does
    not include the data generation and oracle answers that precede it."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


class Bench:
    def __init__(self, args, root: str, dirs: dict[str, str]) -> None:
        self.args = args
        self.root = root
        self.dirs = dirs
        self.ops = WORKLOADS[args.workload].ops
        self.attempted = 0
        self.failures: list[dict] = []
        self.passes: list[dict] = []  # timed passes only
        self.n_out = 0

    def order(self, pass_no: int | str) -> list[str]:
        ops = list(self.ops)
        random.Random(f"{self.args.seed}:{pass_no}").shuffle(ops)
        return ops

    def out_root(self) -> str:
        self.n_out += 1
        return os.path.join(self.dirs["scratch"], f"medallion-{self.n_out}", "root")

    def run_pass(self, spark, oracle, pass_no: int | str, tracer=None, store=None) -> dict:
        from workloads import check_op, run_op

        ops_out = []
        wall = 0.0
        for op in self.order(pass_no):
            if tracer is not None:
                root_span = tracer.op(op)
            res = run_op(spark, op, self.dirs["data"], self.out_root())
            wall += res.wall_s
            rec = {"op": op, "wall_s": res.wall_s, "build_s": res.build_s, "exec_s": res.exec_s}
            if tracer is not None:
                tracer.end(root_span)
                rec["ledger"] = self.ledger(spark, tracer, store, res)
            problem = check_op(spark, oracle, res)
            self.attempted += 1
            if problem:
                self.failures.append({"pass": pass_no, "op": op, "problem": problem})
                print(f"perfbench: FAIL {op}: {problem}", file=sys.stderr)
            rec["ok"] = problem is None
            ops_out.append(rec)
        return {"pass": pass_no, "traced": tracer is not None, "wall_s": wall, "ops": ops_out}

    def ledger(self, spark, tracer, store, res) -> dict:
        import ledger as L

        spans = tracer.spans
        jobs = store.jobs()
        rec = L.spark_ledger(jobs, store.stages(), res.start, res.end, spans)
        rec["build_jobs"] = len(L.jobs_in(jobs, res.start, res.start + res.build_s))
        rec["self_s"] = L.self_times(spans)
        rec["calls"] = dict(tracer.calls)
        rec["checkpoints"] = tracer.checkpoints
        rec["plan_ms"] = L.plan_ms(res.df) if res.df is not None and not res.error else 0.0
        rec["files_written"] = 0
        if res.out_root and os.path.isdir(res.out_root):
            rec["files_written"] = sum(
                1 for _, _, files in os.walk(res.out_root)
                for f in files if not f.startswith((".", "_"))
            )
        root = spans[0]
        attributed = sum(rec["self_s"].values())
        if attributed > root.end - root.start + 1e-9:
            raise RuntimeError(f"{res.op}: layer self times sum to {attributed:.6f}s, "
                               f"more than the operation's wall {root.end - root.start:.6f}s")
        return rec

    def run(self) -> dict:
        from workloads import Oracle

        t_run = time.perf_counter()
        oracle = Oracle(self.root, self.dirs["data"], self.ops)
        reset_own_hwm()

        from yelp_etl_spark.session import get_spark, scratch_root

        nproc = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=nproc)
        start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        try:
            ticks0 = cpu_ticks()
            warm = [self.run_pass(spark, oracle, f"warm-{i}") for i in range(WARM_PASSES)]
            warm_s = sum(p["wall_s"] for p in warm)

            tracer = store = None
            if self.args.trace:
                import ledger as L

                tracer, store = L.Tracer(), L.StatusStore(spark)
            measured = 0.0
            pass_no = 1
            while True:
                traced = self.args.trace and pass_no % 2 == 0
                if traced:
                    tracer.install()
                try:
                    p = self.run_pass(spark, oracle, pass_no, tracer if traced else None, store)
                finally:
                    if traced:
                        tracer.uninstall()
                self.passes.append(p)
                measured += p["wall_s"]
                mean_pass = measured / pass_no
                pass_no += 1
                if pass_no <= MIN_PASSES:
                    continue
                elapsed = time.perf_counter() - t_run
                if (measured + mean_pass > self.args.seconds
                        or elapsed + 2 * mean_pass > MAX_RUN_S):
                    break
            rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid)}
            ticks1 = cpu_ticks()
            provenance = self.provenance(spark, nproc, scratch_root())
            # Share of CPU time the hypervisor took from the CPUs while it
            # ran the passes: the usual cause of a run slower than its peers.
            provenance["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        finally:
            stop_session(spark)
        return {
            "start_s": start_s,
            "warm_s": warm_s,
            "warm_passes": warm,
            "peak_rss_mb": rss["python"] + rss["jvm"],
            "peak_rss_parts_mb": rss,
            "provenance": provenance,
        }

    def provenance(self, spark, nproc: int, scratch: str | None) -> dict:
        import duckdb
        import pyspark

        import datagen

        jvm = spark.sparkContext._jvm
        return {
            "workload": self.args.workload,
            "ops": list(self.ops),
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": bool(self.args.trace),
            "nproc": nproc,
            "cpus": nproc,
            "driver_memory": DRIVER_MEM,
            "peak_rss_includes": "driver JVM VmHWM + Python VmHWM from get_spark on "
                                 "(session, passes, oracle-gate result collection)",
            "scratch_root": scratch,
            "data_seed": datagen.DATA_SEED,
            "pyspark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"),
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
            "git_commit": git_commit(self.root),
        }


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def pass_wall(passes: list[dict]) -> float:
    """Median wall of one pass: the sum of its operations' walls, the
    oracle checks between them excluded."""
    return statistics.median(p["wall_s"] for p in passes)


def trace_overhead(passes: list[dict]) -> float:
    """Median over traced passes of the pass's wall relative to the untraced
    passes on either side of it. Passes still get faster through a run, so
    comparing each with its neighbours keeps that trend out of the ratio."""
    ratios = []
    for i, p in enumerate(passes):
        if p["traced"]:
            near = [q["wall_s"] for q in passes[max(0, i - 1):i + 2] if not q["traced"]]
            ratios.append(p["wall_s"] / statistics.mean(near))
    return statistics.median(ratios)


def end_to_end(bench: Bench, run: dict) -> dict[str, float]:
    untraced = [p for p in bench.passes if not p["traced"]]
    op_walls = [o["wall_s"] for p in untraced for o in p["ops"]]
    return {
        "setup_s": run["start_s"] + run["warm_s"],
        "pass_s": pass_wall(untraced),
        "op_s.p50": statistics.median(op_walls),
        # Interpolated: with ten or so walls a nearest-rank p90 is their maximum.
        "op_s.p90": statistics.quantiles(op_walls, n=10, method="inclusive")[8],
        "ok_frac": 1.0 - len(bench.failures) / bench.attempted,
        "peak_rss_mb": run["peak_rss_mb"],
    }


# The end-to-end metric, and workload, each per-layer metric should move.
# BENCHMARK.json's per-layer entries hold only name, unit and direction.
MOVES = {
    "session.start_s": "setup_s on etl and llm_mix",
    "session.warm_s": "setup_s on etl and llm_mix",
    "session.jobs": "pass_s on llm_mix",
    "session.stages": "pass_s on llm_mix",
    "session.tasks": "pass_s on llm_mix",
    "session.job_gap_s": "pass_s on llm_mix",
    "session.plan_ms": "pass_s on etl",
    "session.executor_run_ms": "pass_s on etl and llm_mix",
    "session.executor_cpu_ms": "pass_s on etl and llm_mix",
    "session.shuffle_read_bytes": "pass_s on etl and llm_mix",
    "session.shuffle_write_bytes": "pass_s on etl and llm_mix",
    "session.gc_ms": "op_s.p90 on etl and llm_mix",
    "session.spill_bytes": "op_s.p90 on etl and llm_mix",
    "plans.build_s": "pass_s on llm_mix",
    "plans.build_jobs": "pass_s on llm_mix",
    "plans.build_share": "pass_s on llm_mix",
    "plans.exec_s": "pass_s on etl",
    "plans.self_s": "pass_s on etl",
    "plans.medallion.bronze_s": "op_s.p90 and pass_s on etl",
    "plans.medallion.silver_s": "op_s.p90 and pass_s on etl",
    "plans.medallion.enriched_s": "op_s.p90 and pass_s on etl",
    "plans.medallion.gold_s": "op_s.p90 and pass_s on etl",
    "sources.bytes_read": "pass_s on etl",
    "sources.bytes_written": "pass_s on etl",
    "sources.files_written": "pass_s on etl",
    "sources.write_amp": "pass_s on etl",
    "sources.self_s": "pass_s on etl",
    "operators.self_s": "pass_s on etl",
    "operators.calls": "pass_s on etl",
    "functions.self_s": "pass_s on llm_mix",
    "functions.calls": "pass_s on llm_mix",
    "functions.jobs": "pass_s on llm_mix",
    "functions.checkpoints": "pass_s on llm_mix",
    "streaming.self_s": "op_s.p50 and pass_s on llm_mix",
    "streaming.batches": "op_s.p50 and pass_s on llm_mix",
    "trace.overhead": "none: the cost of tracing itself",
}


def per_layer(bench: Bench, run: dict) -> dict[str, float]:
    """Medians over traced passes of each pass's per-layer totals."""
    traced = [p for p in bench.passes if p["traced"]]

    def per_pass(fn) -> float:
        return statistics.median(fn(p) for p in traced)

    def total(fn):
        return lambda p: sum(fn(o) for o in p["ops"])

    def led(key):
        return total(lambda o: o["ledger"][key])

    def self_s(layer):
        return total(lambda o: o["ledger"]["self_s"].get(layer, 0.0))

    def calls(layer):
        return total(lambda o: o["ledger"]["calls"].get(layer, 0))

    def medallion(layer):
        return total(lambda o: o["ledger"]["medallion"][layer])

    data_bytes = sum(
        os.path.getsize(os.path.join(bench.dirs["data"], f))
        for f in os.listdir(bench.dirs["data"]) if f.endswith(".parquet")
    )
    m = {
        "session.start_s": run["start_s"],
        "session.warm_s": run["warm_s"],
        "session.jobs": per_pass(led("jobs")),
        "session.stages": per_pass(led("stages")),
        "session.tasks": per_pass(led("tasks")),
        "session.job_gap_s": per_pass(led("job_gap_s")),
        "session.plan_ms": per_pass(led("plan_ms")),
        "session.executor_run_ms": per_pass(led("executor_run_ms")),
        "session.executor_cpu_ms": per_pass(led("executor_cpu_ms")),
        "session.shuffle_read_bytes": per_pass(led("shuffle_read_bytes")),
        "session.shuffle_write_bytes": per_pass(led("shuffle_write_bytes")),
        "session.gc_ms": per_pass(led("gc_ms")),
        "session.spill_bytes": per_pass(led("spill_bytes")),
        "plans.build_s": per_pass(total(lambda o: o["build_s"])),
        "plans.build_jobs": per_pass(led("build_jobs")),
        "plans.build_share": per_pass(lambda p: sum(o["build_s"] for o in p["ops"]) / p["wall_s"]),
        "plans.exec_s": per_pass(total(lambda o: o["exec_s"])),
        "plans.self_s": per_pass(self_s("plans")),
        "sources.bytes_read": per_pass(led("bytes_read")),
        "sources.bytes_written": per_pass(led("bytes_written")),
        "sources.files_written": per_pass(led("files_written")),
        "sources.write_amp": per_pass(led("bytes_written")) / data_bytes,
        "sources.self_s": per_pass(self_s("sources")),
        "operators.self_s": per_pass(self_s("operators")),
        "operators.calls": per_pass(calls("operators")),
        "functions.self_s": per_pass(self_s("functions")),
        "functions.calls": per_pass(calls("functions")),
        "functions.jobs": per_pass(total(lambda o: o["ledger"]["jobs_by_layer"].get("functions", 0))),
        "functions.checkpoints": per_pass(led("checkpoints")),
        "streaming.self_s": per_pass(self_s("streaming")),
        "streaming.batches": per_pass(led("stream_batches")),
        "trace.overhead": trace_overhead(bench.passes),
    }
    for layer in MEDALLION_LAYERS:
        m[f"plans.medallion.{layer}_s"] = per_pass(medallion(layer))
    return m


def declared_units() -> dict[str, str]:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "plans", "catalog.py")):
        fail(f"no {PACKAGE} package under {root}: run from the root of a checkout")
    if not os.path.isfile(os.path.join(root, "scripts", "check_parity.py")):
        fail("scripts/check_parity.py (the oracle comparison) is missing")
    if args.seconds <= 0:
        fail("--seconds must be positive")
    dirs = prepare_env(root)
    sys.path.insert(0, root)
    bench = Bench(args, root, dirs)
    try:
        ensure_data(dirs)
        run = bench.run()
    finally:
        shutil.rmtree(dirs["own"], ignore_errors=True)
    metrics = per_layer(bench, run) if args.trace else end_to_end(bench, run)
    units = declared_units()
    undeclared = sorted(set(metrics) - set(units))
    if undeclared:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {undeclared}")

    detail = {
        "provenance": run["provenance"],
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "fail_frac": len(bench.failures) / bench.attempted,
        "failures": bench.failures,
        "metrics": metrics,
        "moves": MOVES if args.trace else None,
        "peak_rss_parts_mb": run["peak_rss_parts_mb"],
        "run_s": time.perf_counter() - t_main,
        "warm_passes": run["warm_passes"],
        "passes": bench.passes,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(dirs["results"], name), "w") as f:
        json.dump(detail, f, indent=1, default=str)

    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
          f"passes={len(bench.passes)} attempted={bench.attempted} "
          f"failed={len(bench.failures)} detail={WORK_DIR}/results/{name}")
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if not bench.failures else 1


if __name__ == "__main__":
    raise SystemExit(main())
