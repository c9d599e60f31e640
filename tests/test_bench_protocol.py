"""Noisy-window discard protocol in bench.py --isolate (r14, VERDICT
r13 order #2 — the r12/r13 manual rule, machine-run).

These tests drive `bench._isolate` with `_run_window`/`_spawn_single`
monkeypatched (no Spark, no subprocesses) and assert the three
adjudication paths land the right verdict and artifact fields:

1. calm window      -> kept, no probes;
2. high window whose top movers COLLAPSE on solo median-of-5 probes
                    -> window discarded whole, re-run once, both
                       windows and probe numbers in the artifact;
3. high window whose movers do NOT collapse -> kept_high_investigate
                       (a real regression is never averaged away).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

NAMES = ["qa", "qb", "qc"]
PRIOR = {"qa": 1.0, "qb": 2.0, "qc": 3.0}


@pytest.fixture
def rig(tmp_path, monkeypatch, capsys):
    """Common harness: 3-query registry subset, a prior floor file,
    and a hook for scripting window/probe timings."""
    prior_path = tmp_path / "BENCH_ISOLATE_r99_floor.json"
    prior_path.write_text(json.dumps({"queries": PRIOR}))
    monkeypatch.setenv("SPARK_GRAFT_QUERIES", ",".join(NAMES))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    monkeypatch.setattr(
        sys, "argv", ["bench.py", "--isolate", "--prior", str(prior_path)]
    )

    state = {"windows": [], "probes": {}}

    def fake_run_window(names, n_reps):
        t = state["windows"].pop(0)
        return dict(t), {k: [v] for k, v in t.items()}

    def fake_spawn_single(name, n_reps):
        assert n_reps == bench.NOISE_PROBE_REPS
        sec = state["probes"][name]
        return {"name": name, "sec": sec, "reps": [sec] * n_reps}

    monkeypatch.setattr(bench, "_run_window", fake_run_window)
    monkeypatch.setattr(bench, "_spawn_single", fake_spawn_single)

    def run():
        bench._isolate()
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    return state, run


def test_calm_window_is_kept_without_probes(rig):
    state, run = rig
    state["windows"] = [{"qa": 1.1, "qb": 1.9, "qc": 3.1}]  # +1.7%
    art = run()
    proto = art["noise_protocol"]
    assert proto["verdict"] == "kept"
    assert len(proto["windows"]) == 1
    assert "probes" not in proto["windows"][0]
    assert art["value"] == pytest.approx(6.1)


def test_high_window_with_collapsing_probes_is_discarded_and_rerun(rig):
    state, run = rig
    # +50% over the 6.0 prior, spread over all three queries (diffuse);
    # solo probes land at/below the prior values -> r12/r13 discard rule
    state["windows"] = [
        {"qa": 2.0, "qb": 3.5, "qc": 3.5},
        {"qa": 1.0, "qb": 2.1, "qc": 2.9},  # calm re-run
    ]
    state["probes"] = {"qa": 0.9, "qb": 2.0, "qc": 2.8}
    art = run()
    proto = art["noise_protocol"]
    assert proto["verdict"] == "window1_discarded_kept"
    assert [w["verdict"] for w in proto["windows"]] == ["discarded", "kept"]
    w1 = proto["windows"][0]
    assert w1["queries"] == {"qa": 2.0, "qb": 3.5, "qc": 3.5}
    probed = {p["query"]: p for p in w1["probes"]}
    assert set(probed) == set(NAMES)  # top-3 movers = all three here
    assert all(p["collapsed_to_prior"] for p in w1["probes"])
    assert probed["qa"]["probe_reps"] == [0.9] * bench.NOISE_PROBE_REPS
    # final artifact carries the CALM window's timings
    assert art["queries"] == {"qa": 1.0, "qb": 2.1, "qc": 2.9}


def test_high_window_with_sticky_mover_is_kept_for_investigation(rig):
    state, run = rig
    # qb's probe stays 2x its prior -> NOT noise; never discard
    state["windows"] = [{"qa": 2.0, "qb": 4.0, "qc": 3.5}]
    state["probes"] = {"qa": 0.9, "qb": 4.0, "qc": 2.8}
    art = run()
    proto = art["noise_protocol"]
    assert proto["verdict"] == "kept_high_investigate"
    assert len(proto["windows"]) == 1  # no silent re-run
    probed = {p["query"]: p for p in proto["windows"][0]["probes"]}
    assert probed["qb"]["collapsed_to_prior"] is False
    assert art["queries"] == {"qa": 2.0, "qb": 4.0, "qc": 3.5}


def test_no_prior_disables_protocol(rig, monkeypatch):
    state, run = rig
    monkeypatch.setattr(
        sys, "argv", ["bench.py", "--isolate", "--prior", "none"]
    )
    state["windows"] = [{"qa": 9.0, "qb": 9.0, "qc": 9.0}]
    art = run()
    assert art["noise_protocol"]["verdict"] == "inactive"
    assert art["noise_protocol"]["prior"] is None


def test_shared_bench_emits_json_as_final_stdout_line():
    """The driver parses the LAST stdout line as the artifact (VERDICT
    r14 #2: BENCH_r13's stored tail began mid-JSON and the whole
    round-over-round comparison was lost). Pin the contract end-to-end:
    a real shared-mode `python bench.py` run — with whatever derby/
    log4j/JVM noise the environment emits — must put one parseable
    artifact JSON as the FINAL non-empty stdout line."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_QUERIES="doc_length_histogram,median_price_by_brand",
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        cwd=repo,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    art = json.loads(lines[-1])  # FINAL line must be the artifact
    assert art["metric"] == "total_query_seconds"
    assert art["unit"] == "sec"
    assert art["mode"] == "shared"
    assert set(art["queries"]) == {
        "doc_length_histogram",
        "median_price_by_brand",
    }
    assert all(v >= 0 for v in art["queries"].values())


@pytest.mark.parametrize("mode", ["shared", "single"])
def test_payload_survives_a_raising_spark_stop(tmp_path, monkeypatch, capsys, mode):
    """The artifact is built before teardown; a spark.stop() that raises
    must still leave it as the final stdout line (the error propagates
    after it)."""
    from unittest import mock

    spark = mock.MagicMock()
    spark.stop.side_effect = RuntimeError("teardown failed")
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(
        bench.entrymod, "queries", lambda: {"qa": lambda s, d: mock.MagicMock()}
    )
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.001"))
    monkeypatch.setenv("SPARK_GRAFT_WARM_DIR", str(tmp_path / "absent"))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.delenv("SPARK_GRAFT_QUERIES", raising=False)
    monkeypatch.setattr(sys, "argv", ["bench.py"])

    with pytest.raises(RuntimeError, match="teardown failed"):
        if mode == "shared":
            bench.main()
        else:
            bench._single("qa")
    spark.stop.assert_called_once()
    art = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    if mode == "shared":
        assert art["mode"] == "shared" and set(art["queries"]) == {"qa"}
    else:
        assert art["name"] == "qa" and len(art["reps"]) == 1


def test_prior_default_picks_newest_floor():
    got = bench._prior_floor_path()
    assert got is not None and got.endswith("_floor.json")
    # newest committed floor beside bench.py (r13 at the time of writing;
    # assert monotonic shape, not the literal round number)
    import re

    assert int(re.search(r"_r(\d+)_floor", got).group(1)) >= 13
