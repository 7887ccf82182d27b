"""Catalog registration invariants.

The driver's correctness gate oracle-verifies the FIRST 50 entries of
``catalog.QUERIES`` in insertion order. These tests pin the curated
window (every entry oracle-checked, the round's rotation goals met)
and the extension-catalog registration so a refactor can't silently
shrink the hard correctness signal.
"""

from __future__ import annotations

from yelp_etl_spark.plans.catalog import _DRIVER_WINDOW, QUERIES
from yelp_etl_spark.plans.ext._shared import EXTRA_QUERIES

# approximate/sketch queries whose outputs are seed- or
# error-bound-dependent: rows-only by design (each has an exact
# oracle-checked twin elsewhere in the catalog). pq_topk left this set
# in round 7: its default codebook sample became the exact id-range
# grid, so the full encode/ADC/rank path now carries a value oracle.
ROWS_ONLY_BY_DESIGN = {
    "minhash_neardup",
    "simhash_sketch",
    "approx_distinct",
    "lsh_topk",
    "ivf_topk",
    "hll_mergeable",
    # iterative contraction is not SQL-expressible; the in-query
    # forest identity |MST| = |V| - #components checks against
    # independent label-propagation components, and the edge-for-edge
    # Kruskal twin lives in test_boruvka_matches_kruskal_fixture
    "boruvka_mst",
}


def test_driver_window_is_first_50_entries():
    names = list(QUERIES)
    assert len(_DRIVER_WINDOW) == 50
    assert names[: len(_DRIVER_WINDOW)] == list(_DRIVER_WINDOW)


def test_driver_window_entries_all_oracle_checked():
    # VERDICT r11 "What's wrong" #2: at most ONE rows-only slot per
    # window, and it must be the tool-chosen stalest-executed rows-only
    # row (rows_only_ranking in scripts/window_rotation.py).
    # approx_distinct (last executed r11 — the stalest execution among
    # the 7 rows-only queries) takes the r16 slot; its exact twin
    # distinct_counts is driver-green r10 and arrives with its stratum
    # in ~1 round. Everything else must be hard-checked.
    no_oracle = [n for n in _DRIVER_WINDOW if QUERIES[n].oracle is None]
    assert set(no_oracle) <= {"approx_distinct"}, (
        f"window entries without oracle: {no_oracle}"
    )


def test_driver_window_r16_rotation_goals():
    # standing r12-r15 practice: rotate onto the stalest stratum at
    # round start. The window must contain the 4 standing guards,
    # approx_distinct (the tool-chosen rows-only slot — stalest
    # execution, r11), the COMPLETE 36-query r8 stratum, and the 9
    # stalest r9 rows — after this round no query's last hash-check is
    # older than r9.
    must_have = {
        # standing guards: the fixed r5 reds + flagship
        "map_funcs",
        "map_hof",
        "quantize_embeddings",
        "flagship_revenue",
        # the one rows-only slot, tool-chosen by execution staleness
        "approx_distinct",
        # last checked r8 (the complete stratum)
        "enrich_obt",
        "event_seq_regex",
        "funnel_conversion",
        "gold_pipeline_rollup",
        "grouped_kfold_assign",
        "hll_mergeable_checked",
        "hll_portable",
        "holt_linear_trend",
        "isotonic_calibration",
        "kaplan_meier",
        "lang_id",
        "logreg_weights",
        "medallion_gold_parity",
        "minhash_portable",
        "neardup_components",
        "ols_normal_equations",
        "point_in_polygon_join",
        "pricing_summary",
        "psi_drift",
        "random_walks",
        "range_join",
        "rollup_orders",
        "seasonal_naive_backtest",
        "sessionize_gaps",
        "snapshot_cluster_compact",
        "snapshot_rollback",
        "snapshot_spec_evolution",
        "spatial_radius_join",
        "sssp_weighted",
        "stream_cdc_apply",
        "text_scan_roundtrip",
        "tfidf_top_terms",
        "theil_sen_slope",
        "tpch_q9_profit",
        "triangle_count",
        "window_topk",
        # the 9 stalest r9 rows (name tiebreak)
        "anova_f_test",
        "approx_quantile_checked",
        "ari_cluster_agreement",
        "array_access",
        "bitmap_distinct",
        "case_when_tiers",
        "changepoint_binary_seg",
        "cms_join_size_estimate",
        "cohens_kappa",
    }
    assert must_have <= set(_DRIVER_WINDOW)


def test_driver_window_r16_matches_rotation_tool():
    # r12 VERDICT task 3 "Done =" criterion: the shipped window IS the
    # tool's output — no hand-curation drift. Re-derive the proposal
    # from the committed CORRECTNESS artifacts and compare exactly.
    import importlib.util
    import os

    import pytest

    spec = importlib.util.spec_from_file_location(
        "window_rotation",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "window_rotation.py",
        ),
    )
    wr = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(wr)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = wr.last_checked(root)
    # only compare while the r16 window is current (the artifacts for
    # r16 itself land at r17 start and advance the staleness frontier);
    # a visible skip, not a silent no-op pass (r13 ADVICE #2)
    if max(seen.values(), default=0) != 15:
        pytest.skip("r16 window no longer current (newer CORRECTNESS artifacts present)")
    proposal = wr.build_proposal(seen, size=50)
    assert proposal == list(_DRIVER_WINDOW)


def test_window_closes_cumulative_driver_coverage():
    # r10 VERDICT task 2: window ∪ previously-checked must cover the
    # ENTIRE catalog — after this round every catalog query has been
    # driver-checked at least once. Derive "previously checked" from
    # the recorded CORRECTNESS_r*.json files themselves.
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checked: set[str] = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        checked |= set(json.load(open(path)))
    assert checked, "expected CORRECTNESS_r*.json at repo root"
    first_time = [n for n in _DRIVER_WINDOW if n not in checked]
    # cumulative coverage closed at 360/360 in r11 (last first-timer:
    # boruvka_mst_checked) — no window entry should be record-free now
    assert first_time == [], f"unexpected first-time rows: {first_time}"
    from yelp_etl_spark.plans.catalog import _NEXT_ROTATION_POOL

    uncovered = [
        n for n in QUERIES if n not in checked and n not in _DRIVER_WINDOW
    ]
    # the catalog is frozen; nothing may be both unchecked and outside
    # the window unless explicitly seeded for the next rotation
    assert set(uncovered) <= _NEXT_ROTATION_POOL, (
        f"never driver-checked, not in window, not declared for the "
        f"next rotation: {sorted(set(uncovered) - _NEXT_ROTATION_POOL)}"
    )


def test_rotated_out_rows_remain_oracle_checked_locally():
    # rotation must never DROP a query from the catalog: everything
    # outside the window stays registered and oracle-checked by the
    # local parity gate, except the pinned approximate rows-only set
    missing = [
        n
        for n, spec in QUERIES.items()
        if n not in _DRIVER_WINDOW
        and spec.oracle is None
        and n not in ROWS_ONLY_BY_DESIGN
    ]
    assert missing == [], f"non-window queries lost their oracle: {missing}"
    # and the rows-only set itself must not silently grow
    actually_rows_only = {n for n, s in QUERIES.items() if s.oracle is None}
    assert actually_rows_only == ROWS_ONLY_BY_DESIGN


def test_extension_catalog_registered():
    for name in EXTRA_QUERIES:
        assert name in QUERIES, f"extension query {name!r} not registered"
        if name not in ROWS_ONLY_BY_DESIGN:
            assert QUERIES[name].oracle is not None
    # past the window, extension queries follow the core catalog in
    # registration order
    rest = [n for n in QUERIES if n not in _DRIVER_WINDOW]
    n_core = sum(n not in EXTRA_QUERIES for n in rest)
    assert rest[n_core:] == [n for n in EXTRA_QUERIES if n not in _DRIVER_WINDOW]


def test_no_duplicate_registration_lost_entries():
    # reordering + ext merge must not drop or duplicate anything
    assert len(QUERIES) == len(set(QUERIES)) >= 188


def test_bench_variance_driver_cells_filled():
    # r10 VERDICT task 4 (second consecutive round the cell shipped
    # unfilled): for EVERY driver bench artifact BENCH_r{N}.json at the
    # repo root, BENCH_VARIANCE.md must carry an r{N} row whose driver
    # cell is the artifact's recorded wall — filling the table is a
    # pre-ship gate, not a next-round chore. Rows r1-r7 predate the
    # builder-vs-driver protocol (adopted r8), so only r8+ are pinned.
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    variance = open(os.path.join(root, "BENCH_VARIANCE.md")).read()
    rows = {
        m.group(1): m.group(0)
        for m in re.finditer(r"^\| (r\d+) \|.*$", variance, re.M)
    }
    import subprocess

    try:
        proc = subprocess.run(
            ["git", "ls-files", "BENCH_r*.json"],
            cwd=root, capture_output=True, text=True, timeout=30,
        )
        # a git that RUNS but fails (exported tree without .git,
        # dubious-ownership refusals) must not fail OPEN as an empty
        # tracked set — that would skip every artifact vacuously
        tracked = set(proc.stdout.split()) if proc.returncode == 0 else None
    except Exception:
        tracked = None  # git unavailable: fall back to newest-exempt
    # the glob also catches auxiliary driver artifacts like
    # BENCH_r15_c8.json (the r15 judge's 8-core scaling run) — only the
    # canonical BENCH_r{N}.json files pin a variance row
    paths = sorted(
        p
        for p in glob.glob(os.path.join(root, "BENCH_r*.json"))
        if re.search(r"BENCH_r(\d+)\.json$", p)
    )
    ns = [int(re.search(r"BENCH_r(\d+)\.json$", p).group(1)) for p in paths]
    for path, n in zip(paths, ns):
        if n < 8:
            continue  # r1-r7 predate the builder-vs-driver protocol
        if tracked is not None:
            if os.path.basename(path) not in tracked:
                # the driver WRITES BENCH_r{N}.json at judge time but
                # COMMITS it when the next round starts — an untracked
                # artifact is the in-flight round's own record, whose
                # number the builder cannot know yet. The cell becomes
                # mandatory exactly when the next-round builder starts
                # (the N-1 forcing function, r10 VERDICT #4).
                continue
        elif n == max(ns):
            continue
        row = rows.get(f"r{n}")
        assert row is not None, f"BENCH_VARIANCE.md has no r{n} row"
        # match the exact placeholder, not any 'fill' substring (prose
        # in the subset column may legitimately say 'backfill' etc.);
        # the float() parse below catches any other non-numeric cell
        assert "(fill when" not in row, (
            f"BENCH_VARIANCE.md r{n} driver cell unfilled"
        )
        driver_cell = row.split("|")[3].strip()
        driver_wall = float(driver_cell)
        recorded = json.load(open(path))["parsed"]["value"]
        assert abs(driver_wall - recorded) < 0.5, (
            f"r{n} driver cell {driver_wall} != BENCH_r{n}.json {recorded}"
        )


def test_bench_rotation_covers_catalog_every_three_rounds():
    # any three consecutive rounds of the rotating bench subset time
    # every catalog query, and the per-round rotation slices are
    # disjoint, so each non-pinned query is timed exactly once in three
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import select_queries

    for r in range(17, 23):
        picks = [select_queries(r + k, False) for k in range(3)]
        assert set().union(*picks) == set(QUERIES)
        slices = [
            {n for n, why in sel.items() if why == "rotation"} for sel in picks
        ]
        assert sum(map(len, slices)) == len(set().union(*slices))


def test_bench_detail_archive_only_written_at_canonical_protocol():
    # r14: an exploratory sf0.01 bench probe overwrote (and briefly
    # committed) the round's BENCH_DETAIL_r14.json archive — the
    # per-round snapshot is only meaningful for the canonical protocol
    # (sf0.1, rotating subset, default run count); any other SF, a
    # SPARK_GRAFT_BENCH_FULL sweep, or a custom SPARK_GRAFT_BENCH_RUNS
    # must write the latest-run file alone (r14 ADVICE #2)
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import detail_filenames

    assert detail_filenames(14, 0.1) == [
        "BENCH_DETAIL.json",
        "BENCH_DETAIL_r14.json",
    ]
    assert detail_filenames(9, 0.1) == [
        "BENCH_DETAIL.json",
        "BENCH_DETAIL_r09.json",
    ]
    for off_sf in (0.01, 0.001, 1.0):
        assert detail_filenames(14, off_sf) == ["BENCH_DETAIL.json"]
    # protocol knobs: full-catalog sweep or non-default run count at
    # the canonical SF must not clobber the round archive either
    assert detail_filenames(14, 0.1, full=True) == ["BENCH_DETAIL.json"]
    assert detail_filenames(14, 0.1, runs=3) == ["BENCH_DETAIL.json"]
    assert detail_filenames(14, 0.1, full=False, runs=1) == [
        "BENCH_DETAIL.json",
        "BENCH_DETAIL_r14.json",
    ]
