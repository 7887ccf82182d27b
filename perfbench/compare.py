"""Diff two sets of benchmark results, one row per (workload, metric).

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are directories of detail files written by ``run.py``
(``.perfbench_run/results/*.json``). Runs are paired by
seed when both sides ran the same seeds, otherwise in file order.

Labels, by the rules of the choosing-metrics method:

- ``improved``: the change wins at least 9 in 10 of the pairs (ties count
  for neither side) and the medians differ by more than the parent's own
  spread (the distance between its quartiles);
- ``regressed``: the change's median is worse than the parent's by more
  than the metric's bound in ``BENCHMARK.json`` (per-layer metrics have no
  bound: they regress by the mirror of the ``improved`` rule);
- ``unresolved``: the parent's spread is wider than the bound, unless every
  change run reads better than every parent run; or no rule applies to a
  per-layer metric;
- ``within-bound``: none of the above for an end-to-end metric.

A metric that reads exactly the same on every run of each side is an
exact-repeat counter. It is labelled ``count-same`` or ``count-moved`` in
the same table, so a wall-clock claim can be checked against a counter.
With a single run on either side, repeatability is unknown: a metric that
differs is ``unresolved``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict[tuple[str, int], list[dict]]:
    """(workload, trace) -> detail records, sorted by seed."""
    files = [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
    out: dict[tuple[str, int], list[dict]] = defaultdict(list)
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        prov = rec["provenance"]
        out[(prov["workload"], int(prov["trace"]))].append(rec)
    for recs in out.values():
        recs.sort(key=lambda r: r["provenance"]["seed"])
    return out


def spec() -> dict[str, dict]:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        s = json.load(f)
    return {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}


def quartiles(values: list[float]) -> tuple[float, float]:
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def pairs(a: list[dict], b: list[dict], name: str) -> list[tuple[float, float]]:
    by_seed_a = {r["provenance"]["seed"]: r for r in a}
    by_seed_b = {r["provenance"]["seed"]: r for r in b}
    common = sorted(set(by_seed_a) & set(by_seed_b))
    if len(common) == min(len(a), len(b)):
        return [(by_seed_a[s]["metrics"][name], by_seed_b[s]["metrics"][name]) for s in common]
    return [(x["metrics"][name], y["metrics"][name]) for x, y in zip(a, b)]


def label(av: list[float], bv: list[float], prs, better: str, bound: float | None) -> str:
    if len(set(av)) == 1 and len(set(bv)) == 1:
        if av[0] == bv[0]:
            return "count-same"
        return "count-moved" if min(len(av), len(bv)) > 1 else "unresolved"
    if min(len(av), len(bv)) < 2:
        return "unresolved"
    sign = 1.0 if better == "lower" else -1.0
    med_a, med_b = statistics.median(av), statistics.median(bv)
    q1, q3 = quartiles(av)
    spread = q3 - q1
    gain = (med_a - med_b) * sign  # > 0 when the change is better

    def wins(side: float) -> bool:
        decided = [(x - y) * sign * side for x, y in prs if x != y]
        return bool(decided) and sum(d > 0 for d in decided) >= 0.9 * len(prs)

    if wins(+1) and gain > spread:
        return "improved"
    if bound is None:
        return "regressed" if wins(-1) and -gain > spread else "unresolved"
    all_better = all((x - y) * sign > 0 for x in av for y in bv)
    if med_a and spread / abs(med_a) > bound and not all_better:
        return "unresolved"
    if med_a and -gain / abs(med_a) > bound:
        return "regressed"
    return "improved" if all_better else "within-bound"


def fmt(v: float) -> str:
    return f"{v:.4g}"


def compare(parent: str, change: str) -> list[dict]:
    metrics = spec()
    a_sets, b_sets = load(parent), load(change)
    rows = []
    for key in sorted(set(a_sets) & set(b_sets)):
        a, b = a_sets[key], b_sets[key]
        names = sorted(set(a[0]["metrics"]) & set(b[0]["metrics"]))
        for name in names:
            m = metrics.get(name, {"better": "lower", "unit": "?"})
            av = [r["metrics"][name] for r in a]
            bv = [r["metrics"][name] for r in b]
            med_a, med_b = statistics.median(av), statistics.median(bv)
            rows.append({
                "workload": key[0],
                "metric": name,
                "unit": m["unit"],
                "parent": med_a,
                "parent_q": quartiles(av),
                "change": med_b,
                "change_q": quartiles(bv),
                "n": (len(av), len(bv)),
                "delta": (med_b - med_a) / med_a if med_a else None,
                "label": label(av, bv, pairs(a, b, name), m["better"], m.get("bound")),
            })
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    rows = compare(*argv)
    head = ("workload", "metric", "unit", "parent [q1, q3]", "change [q1, q3]", "n", "delta", "label")
    table = [head] + [
        (
            r["workload"], r["metric"], r["unit"],
            f"{fmt(r['parent'])} [{fmt(r['parent_q'][0])}, {fmt(r['parent_q'][1])}]",
            f"{fmt(r['change'])} [{fmt(r['change_q'][0])}, {fmt(r['change_q'][1])}]",
            f"{r['n'][0]}/{r['n'][1]}",
            "-" if r["delta"] is None else f"{r['delta']:+.1%}",
            r["label"],
        )
        for r in rows
    ]
    widths = [max(len(str(row[i])) for row in table) for i in range(len(head))]
    for row in table:
        print("  ".join(str(c).ljust(w) for c, w in zip(row, widths)).rstrip())
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
