"""tools/check_oracle.py runs each registry builder once and judges
that one result with three comparators: C1 (str over DuckDB fetchall),
C2 (typed hash over DuckDB's Arrow fetch) and C3 (type-tagged multisets
plus an ordered compare, over the same fetchall rows as C1)."""

from __future__ import annotations

import os
import subprocess
import sys
from collections import Counter
from pathlib import Path

from pyspark.sql import functions as F
from test_gate_sensitivity import SF

import __spark_entry__ as em
from tools import check_oracle as runner

REPO = Path(__file__).resolve().parents[1]
PAIR = ["q1_pricing_summary", "flagship_event_stats"]


class CountingConnection:
    """A DuckDB connection that counts the statements run through it."""

    def __init__(self, con):
        self.con = con
        self.executed = Counter()

    def execute(self, sql):
        self.executed[sql] += 1
        return self.con.execute(sql)

    def close(self):
        self.con.close()


def test_each_builder_runs_once_for_both_verdicts(spark, monkeypatch, capsys):
    """One build, one collect and two oracle executions per query feed
    all three verdicts: the fetchall() that C1 and C3 share, and C2's
    Arrow fetch."""
    real = em.queries()
    builds, collects = Counter(), Counter()

    def counted(name):
        def build(spark, sf_dir):
            builds[name] += 1
            sdf = real[name](spark, sf_dir)
            collect = sdf.collect

            def counted_collect():
                collects[name] += 1
                return collect()

            sdf.collect = counted_collect
            return sdf

        return build

    real_connection, cons = runner.oracle_connection, []

    def counting_connection(sf_dir):
        cons.append(CountingConnection(real_connection(sf_dir)))
        return cons[-1]

    monkeypatch.setattr(runner, "oracle_connection", counting_connection)
    monkeypatch.setattr(runner.entrymod, "queries", lambda: {n: counted(n) for n in PAIR})
    report = runner.run(spark, SF)

    assert builds == {n: 1 for n in PAIR}
    assert collects == {n: 1 for n in PAIR}
    [con] = cons
    oracles = em.oracle_sql()
    assert con.executed == {oracles[n]: 2 for n in PAIR}
    for name in PAIR:
        assert report[name]["c1"]["status"] == "PASS"
        assert runner.c2_status(report[name]["c2"]) == "PASS"
        assert report[name]["c3"]["status"] == "PASS"
        assert report[name]["pass"]
    out = capsys.readouterr().out.splitlines()
    assert [line.split(":")[0] for line in out] == [f"PASS {n}" for n in PAIR]


def test_q1_q3_agree_and_q3_takes_the_ordered_compare(spark, capsys):
    report = runner.run(spark, SF, {"q1_pricing_summary", "q3_shipping_priority"})

    assert sorted(report) == ["q1_pricing_summary", "q3_shipping_priority"]
    assert all(v["pass"] for v in report.values())
    # q3's oracle declares a top-level ORDER BY -> C3 compares row order too
    assert report["q3_shipping_priority"]["c3"]["ordered"]
    out = capsys.readouterr().out.splitlines()
    assert [line for line in out if line.startswith("PASS q3_shipping_priority")][0].endswith("+order")


def test_decimal_mutant_fails_runner_while_c1_passes(spark, monkeypatch, capsys):
    # Q1's sum_qty widened to DECIMAL(38,0): every value equal, so the
    # str comparator is blind to it; only the typed hash sees it.
    real = em.queries()["q1_pricing_summary"]

    def mutant(spark, sf_dir):
        return real(spark, sf_dir).withColumn("sum_qty", F.col("sum_qty").cast("decimal(38,0)"))

    monkeypatch.setattr(runner.entrymod, "queries", lambda: {"q1_pricing_summary": mutant})
    v = runner.run(spark, SF)["q1_pricing_summary"]

    assert v["c1"]["status"] == "PASS"
    assert v["c2"]["rows_match"] and v["c2"]["schema_match"]
    assert not v["c2"]["hash_match"]
    assert not v["pass"]
    assert capsys.readouterr().out.startswith("FAIL q1_pricing_summary: C1 PASS, C2 hash")


def test_unknown_query_name_fails_before_spark_starts(monkeypatch, capsys):
    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started for a misspelled query name")

    monkeypatch.setattr(runner, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", ["check_oracle.py", SF, "q1_pricing_summary", "q1_pricing_sumary"])

    assert runner.main() == 2
    assert capsys.readouterr().out == "oracle check: unknown query names: q1_pricing_sumary\n"


def test_python_worker_queries_pass_outside_the_checkout(tmp_path):
    # Both queries run Python workers, which must import the package
    # although neither the working directory nor PYTHONPATH names the
    # checkout.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "check_oracle.py"), SF,
         "eventgen_source_stats", "multimodal_feature_stats"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    assert "oracle check: 2/2 PASS" in proc.stdout
