"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import compare  # noqa: E402
import datagen  # noqa: E402
import ledger as L  # noqa: E402
import run  # noqa: E402
from workloads import MEDALLION, WORKLOADS, Oracle  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("data")
    datagen.write(str(d))
    return str(d)


def _duckdb_rows(data_dir: str, sql: str):
    import duckdb

    from yelp_etl_spark.sources.readers import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


@pytest.mark.parametrize("op", ["tpch_q5_region_revenue", MEDALLION])
def test_perturbed_result_fails_the_oracle_gate(data_dir, op):
    from yelp_etl_spark.plans.catalog import QUERIES

    oracle = Oracle(ROOT, data_dir, (op,))
    sql = QUERIES["medallion_gold_parity" if op == MEDALLION else op].oracle
    cols, rows = _duckdb_rows(data_dir, sql)
    assert rows
    assert oracle.mismatch(op, cols, list(reversed(rows))) is None  # order-insensitive

    i = next(i for i, v in enumerate(rows[0]) if isinstance(v, (int, float)))
    bumped = list(rows[0])
    bumped[i] = bumped[i] * 1.001 + 1
    assert oracle.mismatch(op, cols, [tuple(bumped)] + rows[1:]) is not None
    assert oracle.mismatch(op, cols, rows[1:]) is not None
    assert oracle.mismatch(op, cols[:-1] + ["renamed"], rows) is not None


def test_declared_names_are_well_formed_and_unique():
    spec = declared()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(w["why"] == WORKLOADS[w["name"]].why for w in spec["workloads"])


def test_every_layer_metric_names_what_it_should_move():
    names = [m["name"] for m in declared()["per_layer"]]
    assert sorted(run.MOVES) == sorted(names)
    workloads = set(WORKLOADS)
    for name, moves in run.MOVES.items():
        assert name == "trace.overhead" or workloads & set(moves.split()), name


def _span(tracer, name, layer, start, end, parent=None):
    idx = len(tracer.spans)
    tracer.spans.append(L.Span(name, layer, start, end, parent))
    if parent is not None:
        tracer.spans[parent].children.append(idx)
    return idx


def test_self_times_of_nested_spans():
    t = L.Tracer()
    root = _span(t, "op", L.BENCH_LAYER, 0.0, 10.0)
    plans = _span(t, "q", "plans", 1.0, 9.0, root)
    _span(t, "load_table", "sources", 2.0, 4.0, plans)
    got = L.self_times(t.spans)
    assert got == pytest.approx({"bench": 2.0, "plans": 6.0, "sources": 2.0})


def test_self_times_of_overlapping_threads_sum_to_at_most_the_wall():
    t = L.Tracer()
    root = _span(t, "op", L.BENCH_LAYER, 0.0, 10.0)
    plans = _span(t, "run_medallion", "plans", 0.5, 9.5, root)
    for k in range(3):  # three pool threads, overlapping
        w = _span(t, "load_table", "sources", 1.0 + k, 6.0 + k, plans)
        _span(t, "normalize", "operators", 2.0 + k, 3.0 + k, w)
    got = L.self_times(t.spans)
    assert sum(got.values()) == pytest.approx(10.0)
    assert all(v >= 0 for v in got.values())


def test_tracer_counts_cross_layer_calls_and_uninstalls():
    from yelp_etl_spark.sources import readers

    original = readers._is_utc_zone
    t = L.Tracer()
    t.install()
    try:
        assert readers._is_utc_zone is not original
        root = t.op("probe")
        assert readers._is_utc_zone("UTC")
        t.end(root)
    finally:
        t.uninstall()
    assert readers._is_utc_zone is original
    assert t.calls["sources"] == 1
    assert [s.layer for s in t.spans] == [L.BENCH_LAYER, "sources"]


def test_spans_from_pool_threads_hang_under_the_op():
    t = L.Tracer()
    root = t.op("op")
    inner = t.begin("run_medallion", "plans")
    th = threading.Thread(target=lambda: t.end(t.begin("load_table", "sources")))
    th.start()
    th.join(timeout=10)
    assert not th.is_alive()
    t.end(inner)
    t.end(root)
    assert t.spans[2].parent == inner


def _jobs(now: float):
    ms = lambda s: int((now + s) * 1e3)  # noqa: E731
    return [
        {"submissionTime": ms(0.1), "completionTime": ms(0.5), "stageIds": [0],
         "description": "medallion bronze: region"},
        {"submissionTime": ms(0.2), "completionTime": ms(0.7), "stageIds": [1],
         "description": "medallion silver: region"},
        {"submissionTime": ms(1.0), "completionTime": ms(1.2), "stageIds": [2],
         "description": None},
        {"submissionTime": ms(1.5), "completionTime": ms(1.6), "stageIds": [3],
         "description": "q\nid = a\nrunId = b\nbatch = 0"},
    ]


def _stages(now: float):
    return [
        {"stageId": i, "status": "COMPLETE", "submissionTime": int((now + 0.1 + i / 2) * 1e3),
         "numCompleteTasks": 4, "executorRunTime": 10, "executorCpuTime": 5_000_000,
         "jvmGcTime": 1, "shuffleReadBytes": 100, "shuffleWriteBytes": 50,
         "memoryBytesSpilled": 0, "diskBytesSpilled": 0, "inputBytes": 1000,
         "outputBytes": 10}
        for i in range(4)
    ]


def test_spark_ledger_attributes_jobs_and_medallion_layers():
    now = time.time()
    t = L.Tracer()
    root = _span(t, "op", L.BENCH_LAYER, now, now + 2.0)
    _span(t, "pagerank", "functions", now + 0.9, now + 1.7, root)
    led = L.spark_ledger(_jobs(now), _stages(now), now, now + 2.0, t.spans)
    assert led["jobs"] == 4 and led["stages"] == 4 and led["tasks"] == 16
    assert led["jobs_by_layer"] == {"bench": 2, "functions": 2}
    assert led["stream_batches"] == 1
    assert led["medallion"]["bronze"] == pytest.approx(0.4, abs=2e-3)
    assert led["medallion"]["gold"] == pytest.approx(0.3, abs=2e-3)
    assert led["job_gap_s"] == pytest.approx(1.5 - 0.6 - 0.2 - 0.1, abs=5e-3)


def _fake_bench(tmp_path, trace: int):
    now = time.time()
    t = L.Tracer()
    root = _span(t, "op", L.BENCH_LAYER, now, now + 2.0)
    _span(t, "pagerank", "functions", now + 0.9, now + 1.7, root)
    led = L.spark_ledger(_jobs(now), _stages(now), now, now + 2.0, t.spans)
    led.update(self_s=L.self_times(t.spans), calls={"functions": 1}, checkpoints=2,
               build_jobs=1, plan_ms=12.0, files_written=0)
    op = {"op": "q", "wall_s": 2.0, "build_s": 1.5, "exec_s": 0.5, "ok": True}
    passes = [
        {"pass": 1, "traced": False, "wall_s": 4.0, "ops": [op, dict(op, op="r")]},
        {"pass": 2, "traced": bool(trace), "wall_s": 2.1, "ops": [dict(op, ledger=led)]},
    ]
    (tmp_path / "d.parquet").write_bytes(b"x" * 1000)
    bench = SimpleNamespace(passes=passes if trace else passes[:1], attempted=3, failures=[],
                            dirs={"data": str(tmp_path)})
    return bench, {"start_s": 5.0, "warm_s": 9.0, "peak_rss_mb": 900.0}


@pytest.mark.parametrize("trace", [0, 1])
def test_every_printed_metric_is_declared(tmp_path, trace):
    spec = declared()
    bench, run_rec = _fake_bench(tmp_path, trace)
    metrics = run.per_layer(bench, run_rec) if trace else run.end_to_end(bench, run_rec)
    wanted = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(metrics) == sorted(wanted)
    assert all(NAME.fullmatch(n) for n in metrics)
    assert all(isinstance(v, float | int) for v in metrics.values())


def _result(tmp_path, side: str, seed: int, metrics: dict):
    d = tmp_path / side
    d.mkdir(exist_ok=True)
    rec = {"provenance": {"workload": "sql_mix", "trace": False, "seed": seed}, "metrics": metrics}
    (d / f"sql_mix-seed{seed}.json").write_text(json.dumps(rec))
    return str(d)


def test_compare_labels(tmp_path):
    for seed in range(10):
        jitter = 0.01 * (seed % 3)
        _result(tmp_path, "a", seed, {"pass_s": 10.0 + jitter, "op_s.p50": 1.0 + jitter,
                                      "op_s.p90": 2.0 + jitter, "session.jobs": 40})
        _result(tmp_path, "b", seed, {"pass_s": 8.0 + jitter, "op_s.p50": 1.5 + jitter,
                                      "op_s.p90": 2.0 + jitter, "session.jobs": 30})
    rows = {r["metric"]: r["label"] for r in compare.compare(str(tmp_path / "a"), str(tmp_path / "b"))}
    assert rows == {"pass_s": "improved", "op_s.p50": "regressed",
                    "op_s.p90": "within-bound", "session.jobs": "count-moved"}


def test_compare_does_not_label_single_runs(tmp_path):
    _result(tmp_path, "a", 1, {"pass_s": 10.0, "session.jobs": 40})
    _result(tmp_path, "b", 1, {"pass_s": 5.0, "session.jobs": 40})
    rows = {r["metric"]: r["label"] for r in compare.compare(str(tmp_path / "a"), str(tmp_path / "b"))}
    assert rows == {"pass_s": "unresolved", "session.jobs": "count-same"}


def test_unbenchmarkable_checkout_fails_fast(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 2
    assert "perfbench: no yelp_etl_spark package" in out.stderr
    assert '"correct"' not in out.stdout
