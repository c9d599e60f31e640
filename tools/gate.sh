#!/usr/bin/env bash
# One-command replica of every local gate, in the order that fails
# fastest: registry pins (1 s), full pytest (~13 min on 4 vCPU), the oracle gate
# at sf0.01 (~4 min), the independent from-scratch comparator, the
# oracle gate at sf0.1, bench.
#
# The oracle gate (tools/check_oracle.py) runs every registry query ONCE
# per tier and judges that one result with both comparators: C1 (str
# over DuckDB fetchall) and C2 (typed hash over DuckDB's Arrow fetch —
# the r9 lesson: a str() compare cannot see what the driver's typed
# fetch sees). Each full-tier run writes docs/ORACLE_CHECK_<tier>.json
# with its run provenance. The independent comparator C3
# (tools/indep_check.py, r13: --strict-order — every declared-ORDER-BY
# oracle must compare ORDER-IDENTICAL) executes the queries itself and
# shares zero code with C1/C2.
# Usage: bash tools/gate.sh [--quick|--full]
#   --quick  stops after the sf0.01 independent comparator
#            (2 full-registry executions)
#   --full   additionally runs the big-tier battery: oracle gate + C3 on
#            the hostile no-NaN fixture, C3 at sf0.1, oracle gate + C3 at
#            sf1.0 (regenerates testdata_big/sf1.0 if absent; ~3 h
#            extra; 8 full-registry executions in all, 3 by default).
#            Runs are SEQUENTIAL — see docs/BENCH_NOTES.md r11 for the
#            concurrent-spill caveat the per-process temp dirs close.
# Artifact convention (docs/ARTIFACTS.md): the unsuffixed docs/ paths
# written here are WORKING COPIES, gitignored; each round's keepers are
# committed as _r{N}-suffixed snapshots and indexed in ARTIFACTS.md.
# Every output carries a run-provenance record (HEAD, sha256 of
# `git diff HEAD`, timestamp — tools/run_meta.py): the JSON reports
# embed it as "_meta"; the tee'd C3 .txt files get it as a header line
# here (kept OUT of indep_check.py so C3 still shares zero code with
# the rest of the gate family). A committed _r{N} snapshot is thus
# verifiably tied to the tree that produced it.
set -euo pipefail
cd "$(dirname "$0")/.."
python -m pytest tests/test_registry.py -q
python tools/lint_oracle_types.py
python -m pytest tests/ -x -q
python tools/check_oracle.py /root/testdata/sf0.01
# Independent from-scratch comparator (zero shared code with the oracle
# gate; tests/test_indep_check.py pins that) — a comparator bug in the
# oracle gate would have to be reproduced here to hide.
{ python tools/run_meta.py && python tools/indep_check.py /root/testdata/sf0.01 --strict-order; } | tee docs/INDEP_SWEEP.txt
if [[ "${1:-}" != "--quick" ]]; then
    python tools/check_oracle.py /root/testdata/sf0.1
    if [[ "${1:-}" == "--full" ]]; then
        python tools/check_oracle.py testdata_hostile_nonan
        { python tools/run_meta.py && python tools/indep_check.py "$PWD/testdata_hostile_nonan" --strict-order; } | tee docs/INDEP_SWEEP_hostile.txt
        { python tools/run_meta.py && python tools/indep_check.py /root/testdata/sf0.1 --strict-order; } | tee docs/INDEP_SWEEP_sf0.1.txt
        [[ -d testdata_big/sf1.0 ]] || python tools/make_scale_data.py
        python tools/check_oracle.py "$PWD/testdata_big/sf1.0"
        { python tools/run_meta.py && python tools/indep_check.py "$PWD/testdata_big/sf1.0" --strict-order; } | tee docs/INDEP_SWEEP_sf1.0.txt
    fi
    python bench.py
fi
echo "ALL GATES GREEN"
