#!/usr/bin/env bash
# One-command replica of every local gate, in the order that fails
# fastest: registry pins, the dead-name and one-valued-parameter scan
# and the full-name JVM class lookup scan (AST only, no Spark: a few
# seconds), full pytest (~13 min on 4 vCPU), the oracle gate at sf0.01
# (~4 min), the oracle gate at sf0.1, bench.
#
# The oracle gate (tools/check_oracle.py) runs every registry query ONCE
# per tier and judges that one result with three comparators: C1 (str
# over DuckDB fetchall), C2 (typed hash over DuckDB's Arrow fetch —
# the r9 lesson: a str() compare cannot see what the driver's typed
# fetch sees) and C3 (tools/indep_check.py: type-tagged multisets, and
# every declared-ORDER-BY oracle must compare ORDER-IDENTICAL; it
# shares the execution but no comparison code with C1/C2). Each
# full-tier run writes docs/ORACLE_CHECK_<tier>.json with its run
# provenance.
# Usage: bash tools/gate.sh [--quick|--full]
#   --quick  stops after the sf0.01 oracle gate
#            (1 full-registry execution)
#   --full   additionally runs the big-tier battery: the oracle gate on
#            the hostile no-NaN fixture and at sf1.0 (regenerates
#            testdata_big/sf1.0 if absent; hours extra; 4 full-registry
#            executions in all, 2 by default).
#            Runs are SEQUENTIAL — see docs/BENCH_NOTES.md r11 for the
#            concurrent-spill caveat the per-process temp dirs close.
# Artifact convention (docs/ARTIFACTS.md): the unsuffixed docs/ paths
# written here are WORKING COPIES, gitignored; each round's keepers are
# committed as _r{N}-suffixed snapshots and indexed in ARTIFACTS.md.
# Every JSON report embeds a run-provenance record as "_meta" (HEAD,
# sha256 of `git diff HEAD`, timestamp — tools/run_meta.py), so a
# committed _r{N} snapshot is verifiably tied to the tree that produced it.
set -euo pipefail
cd "$(dirname "$0")/.."
python -m pytest tests/test_registry.py tests/test_no_dead_code.py tests/test_jvm_lookup.py -q
python tools/lint_oracle_types.py
python -m pytest tests/ -x -q
python tools/check_oracle.py /root/testdata/sf0.01
if [[ "${1:-}" != "--quick" ]]; then
    python tools/check_oracle.py /root/testdata/sf0.1
    if [[ "${1:-}" == "--full" ]]; then
        python tools/check_oracle.py testdata_hostile_nonan
        [[ -d testdata_big/sf1.0 ]] || python tools/make_scale_data.py
        python tools/check_oracle.py "$PWD/testdata_big/sf1.0"
    fi
    python bench.py
fi
echo "ALL GATES GREEN"
