#!/usr/bin/env bash
# Pre-ship gate. Each step must pass; none is optional on token/time
# grounds. Steps are ordered cheapest-first so failures surface early.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/5 catalog + window + bench-variance invariants =="
python -m pytest tests/test_catalog_window.py tests/test_entry.py -q

echo "== 2/5 test suite + benchmark-harness self-tests =="
python -m pytest tests/ -q
python -m pytest perfbench -q

# capture the window FIRST: the exit status of a $(...) used inline in
# an argument list is discarded even under set -e, so an import failure
# there would silently degrade steps 3-4 into unfiltered full-catalog
# runs. A plain assignment aborts the script on failure.
WINDOW=$(python -c "
import sys; sys.path.insert(0, '.')
from yelp_etl_spark.plans.catalog import _DRIVER_WINDOW
print(' '.join(_DRIVER_WINDOW))")
test -n "$WINDOW"

echo "== 3/5 driver-window oracle parity at the driver's scale =="
python scripts/check_parity.py /root/testdata/sf0.01 $WINDOW

echo "== 4/5 vanilla-session (driver session shape, ANSI on) window rehearsal =="
python scripts/check_parity.py --vanilla /root/testdata/sf0.01 $WINDOW

echo "== 5/5 bench (records the builder-side number for BENCH_VARIANCE) =="
python bench.py

echo "PRESHIP GREEN — now fill BENCH_VARIANCE.md's builder cell for this round"
