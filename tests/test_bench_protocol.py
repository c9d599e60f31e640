"""bench.py's contract: the last stdout line is the artifact (shared
mode, end to end and under a raising teardown), isolate mode accounts
for a failed child, and unknown flags or query names exit 2 before any
Spark session starts.

Every test but the end-to-end one is Spark-free: `get_spark`, the
registry or `subprocess.run` is monkeypatched.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _must_not_run(*args, **kwargs):
    raise AssertionError("bench.py started Spark or a child on bad input")


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



@pytest.mark.parametrize(
    "argv",
    [
        pytest.param(["bench.py"], id="shared"),
        pytest.param(["bench.py", "--reps", "2"], id="shared_reps2"),
    ],
)
def test_payload_survives_a_raising_spark_stop(tmp_path, monkeypatch, capsys, argv):
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
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.delenv("SPARK_GRAFT_QUERIES", raising=False)
    monkeypatch.setattr(sys, "argv", argv)

    with pytest.raises(RuntimeError, match="teardown failed"):
        bench.main()
    spark.stop.assert_called_once()
    art = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_reps = 2 if "--reps" in argv else 1
    assert art["mode"] == "shared" and set(art["queries"]) == {"qa"}
    assert art["n_reps"] == n_reps and len(art["reps"]["qa"]) == n_reps
    assert art["queries"]["qa"] == round(statistics.median(art["reps"]["qa"]), 3)


def test_isolate_counts_a_failed_child(monkeypatch, capsys):
    """One child prints a valid artifact after log noise, the other
    exits non-zero with no JSON: the failed query reads -1.0, counts in
    n_failed, and "value" sums only the query that ran."""
    ok, bad = "q1_pricing_summary", "top_bigrams"
    monkeypatch.setenv("SPARK_GRAFT_QUERIES", f"{ok},{bad}")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    monkeypatch.setattr(sys, "argv", ["bench.py", "--isolate", "--reps", "3"])
    monkeypatch.setattr(bench.run_meta, "meta", lambda: {})
    children = []

    def fake_run(cmd, env, **kwargs):
        name = env["SPARK_GRAFT_QUERIES"]
        children.append((cmd[1:], name))
        if name == ok:
            art = {"queries": {ok: 2.0}, "reps": {ok: [2.5, 2.0, 1.5]}}
            return subprocess.CompletedProcess(cmd, 0, "noise\n" + json.dumps(art) + "\n", "")
        return subprocess.CompletedProcess(cmd, 1, "", "java.lang.OutOfMemoryError")

    monkeypatch.setattr(subprocess, "run", fake_run)
    bench.main()
    out = capsys.readouterr()
    art = json.loads(out.out.strip().splitlines()[-1])
    assert art["mode"] == "isolate" and art["n_reps"] == 3
    assert art["queries"] == {ok: 2.0, bad: -1.0}
    assert art["reps"] == {ok: [2.5, 2.0, 1.5], bad: []}
    assert art["n_failed"] == 1
    assert art["value"] == pytest.approx(2.0)
    assert f"{bad} failed" in out.err and "OutOfMemoryError" in out.err
    # each child is the shared suite narrowed to one query
    assert sorted(n for _, n in children) == sorted([ok, bad])
    assert all(args == [os.path.abspath(bench.__file__), "--reps", "3"] for args, _ in children)


@pytest.mark.parametrize(
    "argv, bad",
    [
        (["--isolat"], ["--isolat"]),
        (["--rep", "3"], ["--rep", "3"]),
        (["--isolate", "--floor", "x.json"], ["--floor", "x.json"]),
        (["-h"], ["-h"]),
    ],
    ids=["typo", "prefix", "unknown", "help"],
)
def test_unknown_flag_exits_2_before_spark(monkeypatch, capsys, argv, bad):
    monkeypatch.setattr(bench, "get_spark", _must_not_run)
    monkeypatch.setattr(sys, "argv", ["bench.py", *argv])
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code == 2
    assert "unrecognized arguments: " + " ".join(bad) in capsys.readouterr().err


@pytest.mark.parametrize("mode", [[], ["--isolate"]], ids=["shared", "isolate"])
def test_unknown_query_name_exits_2_before_spark(monkeypatch, capsys, mode):
    monkeypatch.setattr(bench, "get_spark", _must_not_run)
    monkeypatch.setattr(subprocess, "run", _must_not_run)
    monkeypatch.setenv("SPARK_GRAFT_QUERIES", "top_bigrams,top_bigram,q99")
    monkeypatch.setattr(sys, "argv", ["bench.py", *mode])
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code == 2
    assert "unknown query names in SPARK_GRAFT_QUERIES: q99 top_bigram" in (
        capsys.readouterr().err
    )
