#!/usr/bin/env bash
# Pre-commit guard: a test-only commit must never land unexercised.
#
# Runs (1) pytest --collect-only over the whole suite (~2s; catches the
# r8 class of failure where a bad decorator kills collection for ALL
# tests), (2) the filesystem-layer I/O gate, (3) the check of the
# Spark-internal JVM members the driver-side JDBC path calls, (4)
# the full test files touched in the index / working tree, and (5) the
# test files of each touched library module and of the library modules
# that import it (``etlhelper_spark/**/<name>.py`` runs
# ``tests/test_<name>*.py``, or ``tests/test_<dir>*.py`` of its parent
# dir when it has none), so the code a commit modifies is actually
# executed before it ships.
# Usage:  scripts/preflight.sh   (then commit if exit 0)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== preflight: collect-only over tests/ =="
python -m pytest tests/ --collect-only -q >/dev/null

# The filesystem-layer gate is pure AST (no Spark, under 1 s), so it
# runs on every invocation: a library-only edit that adds a local-only
# path call (glob, os.rename, open, ...) is caught before commit even
# when no test file is touched.
echo "== preflight: filesystem-layer I/O gate =="
python -m pytest tests/test_state_io_gate.py -q -p no:cacheprovider

# The driver-side JDBC path calls Spark-internal JVM members; a pyspark
# upgrade that changes one fails here by name (one SparkSession, ~10 s).
echo "== preflight: Spark-internal entry points =="
python -m pytest tests/test_spark_entry_points.py -q -p no:cacheprovider

touched=$( (git diff --name-only --diff-filter=d HEAD -- 'tests/*.py';
            git ls-files --others --exclude-standard -- 'tests/*.py') | sort -u)
if [ -n "$touched" ]; then
    echo "== preflight: running touched test files =="
    echo "$touched"
    # shellcheck disable=SC2086
    python -m pytest $touched -q
else
    echo "== preflight: no touched test files =="
fi

# A library edit runs its module's own test files even when no test
# file changed: functions/ivfpq.py runs test_ivfpq.py,
# test_ivfpq_adaptive.py and test_ivfpq_opq.py. A module with no test
# file of its own runs its parent dir's: plans/queries.py runs
# test_plans.py. The modules that import a touched module (one level:
# ``from .<name> import`` beside it, ``from ..<dir>.<name> import``
# elsewhere) run theirs too, so an edit to functions/clustering.py
# also runs the rebalance tests of test_ann_index.py and
# test_ivfpq*.py. Files step (4) already ran are skipped.
touched_src=$( (git diff --name-only --diff-filter=d HEAD -- 'etlhelper_spark/*.py';
                git ls-files --others --exclude-standard -- 'etlhelper_spark/*.py') | sort -u)
importers=$(for f in $touched_src; do
                name=$(basename "$f" .py)
                dir=$(dirname "$f")
                grep -lE "^[[:space:]]*from \.${name} import" "$dir"/*.py || true
                grep -rlE "^[[:space:]]*from \.\.$(basename "$dir")\.${name} import" \
                    etlhelper_spark --include='*.py' || true
            done | sort -u)
module_tests=$(for f in $touched_src $importers; do
                   ls tests/test_"$(basename "$f" .py)"*.py 2>/dev/null ||
                   ls tests/test_"$(basename "$(dirname "$f")")"*.py 2>/dev/null || true
               done | sort -u | grep -vxF -f <(printf '%s\n' "$touched") || true)
if [ -n "$module_tests" ]; then
    echo "== preflight: running the tests of touched modules =="
    echo "$module_tests"
    # shellcheck disable=SC2086
    python -m pytest $module_tests -q
else
    echo "== preflight: no tests of touched modules =="
fi

# The Arrow/pandas-UDF hot paths (applyInPandas/mapInPandas folds in
# packing, export, drift, and the ETL chunk transforms) run with
# FutureWarning promoted to an error, so the next pandas-major
# behavior change fails HERE instead of landing silently (VERDICT
# r11 #6 — the r10 pack-fold all-NA dtype warning was this class).
echo "== preflight: pandas-UDF suites under -W error::FutureWarning =="
python -m pytest tests/test_packing.py tests/test_packing_state.py \
    tests/test_export.py tests/test_drift.py tests/test_load_copy.py \
    -q -W error::FutureWarning

echo "preflight OK"
