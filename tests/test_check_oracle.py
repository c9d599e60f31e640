"""tools/check_oracle.py runs each registry builder once and judges
that one result with both comparators: C1 (str over DuckDB fetchall)
and C2 (typed hash over DuckDB's Arrow fetch)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F
from test_gate_sensitivity import SF

import __spark_entry__ as em
from tools import check_oracle as runner

PAIR = ["q1_pricing_summary", "flagship_event_stats"]


def test_each_builder_runs_once_for_both_verdicts(spark, monkeypatch, capsys):
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

    monkeypatch.setattr(runner.entrymod, "queries", lambda: {n: counted(n) for n in PAIR})
    report = runner.run(spark, SF)

    assert builds == {n: 1 for n in PAIR}
    assert collects == {n: 1 for n in PAIR}
    for name in PAIR:
        assert report[name]["c1"]["status"] == "PASS"
        assert runner.c2_status(report[name]["c2"]) == "PASS"
        assert report[name]["pass"]
    out = capsys.readouterr().out.splitlines()
    assert [line.split(":")[0] for line in out] == [f"PASS {n}" for n in PAIR]


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
