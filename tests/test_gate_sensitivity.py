"""Gate-sensitivity battery (r11, VERDICT r10 #3): prove the typed
Arrow-fetch gate replica would CATCH a real bug, permanently.

The r9 negative control (the r7 tree reproducing the historic
hash-fail under tools/driver_gate_replica.py,
docs/GATE_REPLICA_r07tree.json) was a one-off. This is the standing
harness analog of mutation testing: five representative query
builders get one seeded bug each — the classic classes —

  1. wrong literal          (top-k k=3 -> k=4)
  2. dropped filter         (TPC-H Q5 loses its order-date predicate)
  3. swapped aggregate      (flagship min <-> max)
  4. off-by-one window frame (trailing 7-day becomes 8-day)
  5. DECIMAL emission       (Q1's sum_qty widened to DECIMAL(38,0) —
                             the exact seven-round r7 signature:
                             every VALUE equal, rows+schema matching,
                             typed hash red; a str() compare is blind
                             to it, which is why gate.sh runs the
                             typed replica at all)

and the gate must flag every one, while the unmutated builders stay
green on the same fixture. Every control and mutant is judged by the
gate's own code — tools/check_oracle.py's connection, fetch paths and
verdicts (``judge``) — so a change to the gate's fetch path reaches the
mutants too. If someone weakens the comparator (e.g. reverts norm() to
str()), mutant 5 goes silently green and this file fails loudly.

Later sections add three more builder mutants, one order-only mutant
(Q3's rows reversed: C1 and C2 sort rows, so only C3's ordered compare
is red) and four oracle-side mutants — 13 in all.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as em
from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import topk
from tools import check_oracle as gate

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def oracle_con():
    con = gate.oracle_connection(SF)
    yield con
    con.close()


def gate_verdicts(s_cols, s_rows, con, oracle_sql) -> dict:
    """The gate's three verdicts on one Spark result. A raising oracle
    says nothing about the comparators, so it fails the test."""
    v = gate.judge(s_cols, s_rows, con, oracle_sql)
    assert v["c1"]["status"] != "oracle-err" and v["c2"]["err"] is None, v
    return v


def replica_verdict(sdf, con, oracle_sql):
    """C2's record (the driver-gate model: Arrow fetch, type-sensitive
    hash) for a builder's result."""
    return replica_verdict_rows(
        sdf.columns, [tuple(r) for r in sdf.collect()], con, oracle_sql
    )


def replica_verdict_rows(s_cols, s_rows, con, oracle_sql):
    return gate_verdicts(s_cols, s_rows, con, oracle_sql)["c2"]


def is_green(v: dict) -> bool:
    return gate.c2_status(v) == "PASS"


MUTATED = [
    "top3_orders_per_customer",
    "q5_region_revenue",
    "flagship_event_stats",
    "rolling_7day_revenue",
    "q1_pricing_summary",
]


def test_control_unmutated_builders_are_green(spark, oracle_con):
    oracles = em.oracle_sql()
    queries = em.queries()
    reds = []
    for name in MUTATED:
        sdf = queries[name](spark, SF)
        rows = [tuple(r) for r in sdf.collect()]
        v = gate_verdicts(sdf.columns, rows, oracle_con, oracles[name])
        if not v["pass"]:
            reds.append((name, v))
    assert not reds, f"controls must be green before mutants mean anything: {reds}"


def test_mutant_wrong_literal_topk_k4(spark, oracle_con):
    # seeded bug: k=3 -> k=4 (builder copy of q_top3_orders_per_customer)
    orders = em._t(spark, SF, "orders")
    mutant = topk.topk_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=4,  # <- mutation
    )
    v = replica_verdict(
        mutant, oracle_con, em.oracle_sql()["top3_orders_per_customer"]
    )
    assert not is_green(v), "replica failed to flag a wrong top-k literal"
    assert not v["rows_match"]  # extra rows per group


def test_mutant_dropped_filter_q5(spark, oracle_con):
    # seeded bug: the order-date range predicate is dropped
    # (builder copy of q5_region_revenue minus one filter)
    region = em._t(spark, SF, "region").filter(F.col("r_name") == "ASIA")
    nation = em._t(spark, SF, "nation")
    cust = em._t(spark, SF, "customer")
    sup = em._t(spark, SF, "supplier")
    orders = em._t(spark, SF, "orders")  # <- mutation: no date filter
    li = em._t(spark, SF, "lineitem")
    mutant = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(sup),
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                em._cents("l_extendedprice") * (100 - em._cents("l_discount"))
            ).alias("revenue_e4")
        )
    )
    v = replica_verdict(mutant, oracle_con, em.oracle_sql()["q5_region_revenue"])
    assert not is_green(v), "replica failed to flag a dropped filter"


def test_mutant_swapped_agg_flagship(spark, oracle_con):
    # seeded bug: min and max aggregates swapped — exactly the output a
    # builder with F.min/F.max transposed would produce
    true_df = em.queries()["flagship_event_stats"](spark, SF)
    mutant = true_df.select(
        "event_type",
        F.col("max_value_cents").alias("min_value_cents"),  # <- mutation
        F.col("min_value_cents").alias("max_value_cents"),  # <- mutation
        "avg_value_micro",
        "stddev_value_cents",
        "n_rows",
    )
    v = replica_verdict(
        mutant, oracle_con, em.oracle_sql()["flagship_event_stats"]
    )
    assert not is_green(v), "replica failed to flag swapped aggregates"
    assert v["rows_match"] and v["schema_match"]  # only the hash can see it
    assert not v["hash_match"]


def test_mutant_off_by_one_window_frame(spark, oracle_con):
    # seeded bug: trailing 7-day frame (-6, 0) becomes 8-day (-7, 0)
    # (builder copy of q_rolling_7day_revenue)
    orders = em._t(spark, SF, "orders").filter(F.col("o_orderdate").isNotNull())
    cents = em._cents("o_totalprice")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents).alias("rev_cents")
    )
    day_num = F.datediff(F.col("day"), F.lit("1970-01-01"))
    w = Window.orderBy(day_num.asc()).rowsBetween(-7, 0)  # <- mutation
    mutant = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "rev_cents",
        F.sum("rev_cents").over(w).alias("rolling_7d_cents"),
        F.count(F.lit(1)).over(w).alias("n_days_in_window"),
    )
    v = replica_verdict(
        mutant, oracle_con, em.oracle_sql()["rolling_7day_revenue"]
    )
    assert not is_green(v), "replica failed to flag an off-by-one frame"
    assert v["rows_match"] and v["schema_match"]
    assert not v["hash_match"]


def test_mutant_decimal_emission_q1(spark, oracle_con):
    # seeded bug: sum_qty widened to DECIMAL(38,0) — every VALUE is
    # equal; only a TYPE-sensitive comparator can see it. This is the
    # r7 seven-round driver signature, pinned forever: if norm() ever
    # degrades to str(), this mutant goes green and the test fails.
    true_df = em.queries()["q1_pricing_summary"](spark, SF)
    mutant = true_df.withColumn(
        "sum_qty", F.col("sum_qty").cast("decimal(38,0)")  # <- mutation
    )
    v = replica_verdict(mutant, oracle_con, em.oracle_sql()["q1_pricing_summary"])
    assert v["rows_match"] and v["schema_match"], (
        "the DECIMAL mutant must look structurally identical — that is "
        "the whole point of the r7 signature"
    )
    assert not v["hash_match"], (
        "typed comparator failed to distinguish Decimal('n') from n — "
        "the str()-compare blind spot has been reintroduced"
    )


# --- r11 session extension: three more always-firing bug classes ----------
# (6) wrong join key, (7) wrong money-scale constant, (8) sort-direction
# flip in a ranked selection. 6 explodes rows; 7 and 8 are SILENT-VALUES
# mutants (rows+schema stay green, only the typed hash sees them) — the
# channel the whole replica exists to guard.


def test_mutant_wrong_join_key_q5(spark, oracle_con):
    # seeded bug: customer joined on c_nationkey instead of c_custkey —
    # the classic copy-paste fanout (both columns are BIGINT, so the
    # plan compiles and runs; only the result is garbage)
    region = em._t(spark, SF, "region").filter(F.col("r_name") == "ASIA")
    nation = em._t(spark, SF, "nation")
    cust = em._t(spark, SF, "customer")
    sup = em._t(spark, SF, "supplier")
    orders = em._t(spark, SF, "orders").filter(
        (F.col("o_orderdate") >= "1994-01-01")
        & (F.col("o_orderdate") < "1995-01-01")
    )
    li = em._t(spark, SF, "lineitem")
    mutant = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_nationkey)  # <- mutation
        .join(
            F.broadcast(sup),
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                em._cents("l_extendedprice") * (100 - em._cents("l_discount"))
            ).alias("revenue_e4")
        )
    )
    v = replica_verdict(mutant, oracle_con, em.oracle_sql()["q5_region_revenue"])
    assert not is_green(v), "replica failed to flag a wrong join key"


def test_mutant_wrong_money_scale_q1(spark, oracle_con):
    # seeded bug: one money column scaled x10 (a wrong _cents-style
    # constant). Rows and schema stay identical; every value in one
    # column shifts — only the value hash can see it.
    true_df = em.queries()["q1_pricing_summary"](spark, SF)
    mutant = true_df.withColumn(
        "sum_base_price_cents",
        (F.col("sum_base_price_cents") * 10).cast("long"),  # <- mutation
    )
    v = replica_verdict(mutant, oracle_con, em.oracle_sql()["q1_pricing_summary"])
    assert v["rows_match"] and v["schema_match"]
    assert not v["hash_match"], "replica failed to flag a x10 money-scale bug"


def test_mutant_sort_direction_topk(spark, oracle_con):
    # seeded bug: top-3 by price ASCENDING — selects the WRONG 3 rows
    # per customer but the same NUMBER of rows with the same schema, so
    # rows_match and schema_match stay green and only the hash flags it
    # (ties aside: a customer with <=3 orders contributes the same set,
    # which is why the assert is on the hash, not on row count).
    orders = em._t(spark, SF, "orders")
    mutant = topk.topk_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],  # <- mutation
        k=3,
    )
    v = replica_verdict(
        mutant, oracle_con, em.oracle_sql()["top3_orders_per_customer"]
    )
    assert v["rows_match"] and v["schema_match"]
    assert not v["hash_match"], "replica failed to flag a sort-direction flip"


def test_mutant_reversed_rows_q3_order_only(spark, oracle_con):
    # seeded bug: Q3's top-10 comes back in reverse — the right rows in
    # the wrong order. C1 and C2 sort rows before comparing, so only
    # C3's ordered compare (Q3's oracle declares a top-level ORDER BY)
    # can see it.
    sdf = em.queries()["q3_shipping_priority"](spark, SF)
    rows = [tuple(r) for r in sdf.collect()][::-1]  # <- mutation
    v = gate_verdicts(sdf.columns, rows, oracle_con, em.oracle_sql()["q3_shipping_priority"])
    assert v["c1"]["status"] == "PASS"
    assert is_green(v["c2"])
    assert v["c3"]["status"] == "order", "C3 failed to flag a reversed row order"
    assert not v["pass"]


# --- r12 extension (VERDICT r11 #2): ORACLE-side mutants ------------------
# All 8 classes above mutate the SPARK builder; the symmetric claim —
# a wrong ORACLE (bad SQL constant, lossy candidate filter, broken
# join guard in the DuckDB text) is also flagged — was asserted but
# untested. That matters most for the r11 candidate+verify rewrites
# (commit 5734202): their losslessness arguments (PPJoin prefix
# theorem, pigeonhole banding, distinct-text grouping) live entirely
# in SQL text and could regress silently. Each mutation below was
# verified to CHANGE the oracle's sf0.001 result before being planted
# (an inert mutant proves nothing); the replacement asserts catch a
# mutant silently un-planted by a future oracle edit.
#
# Note on direction: the r11 verdict suggested threshold 0.9 -> 0.89,
# but no pair has jaccard in [0.89, 0.9) at sf0.001/sf0.01 (measured:
# the cross-text band starts at 0.91), so that mutant is INERT and
# would vacuously "pass". 0.9 -> 0.95 provably fires (8 qualifying
# pairs fall out at sf0.001); tightening vs loosening is symmetric
# for comparator-sensitivity purposes.


@pytest.fixture(scope="module")
def minhash_spark_result(spark):
    sdf = em.queries()["minhash_near_dup"](spark, SF)
    return sdf.columns, [tuple(r) for r in sdf.collect()]


@pytest.fixture(scope="module")
def ngram_spark_result(spark):
    sdf = em.queries()["ngram_jaccard_pairs"](spark, SF)
    return sdf.columns, [tuple(r) for r in sdf.collect()]


def _mutated(name: str, old: str, new: str) -> str:
    sql = em.oracle_sql()[name]
    assert old in sql, f"mutation site vanished from {name} oracle: {old!r}"
    return sql.replace(old, new)


def test_oracle_control_pair_queries_green(
    oracle_con, minhash_spark_result, ngram_spark_result
):
    for (cols, rows), name in [
        (minhash_spark_result, "minhash_near_dup"),
        (ngram_spark_result, "ngram_jaccard_pairs"),
    ]:
        v = gate_verdicts(cols, rows, oracle_con, em.oracle_sql()[name])
        assert v["pass"], f"control {name} must be green: {v}"


def test_oracle_mutant_prefix_filter_off_by_one(oracle_con, minhash_spark_result):
    # seeded bug: PPJoin prefix length |X| - ceil(t*|X|) + 1 loses its
    # "+ 1" — the prefix no longer guarantees every qualifying pair
    # shares a token, so candidate generation silently LOSES pairs
    # (sf0.001: 4 cross-text pairs vanish). This is the exact failure
    # mode the prefix-filter theorem exists to rule out.
    cols, rows = minhash_spark_result
    sql = _mutated(
        "minhash_near_dup",
        "WHERE rn <= n - CAST(ceil(0.9 * n) AS BIGINT) + 1",
        "WHERE rn <= n - CAST(ceil(0.9 * n) AS BIGINT)",
    )
    v = replica_verdict_rows(cols, rows, oracle_con, sql)
    assert not is_green(v), "replica failed to flag a lossy prefix filter"
    assert not v["rows_match"]  # pairs are missing, not mis-valued


def test_oracle_mutant_verify_threshold(oracle_con, minhash_spark_result):
    # seeded bug: exact-verify threshold 0.9 -> 0.95 (a wrong SQL
    # constant); the borderline qualifying pairs drop out of the
    # oracle while Spark still emits them.
    cols, rows = minhash_spark_result
    sql = _mutated(
        "minhash_near_dup",
        "WHERE jaccard_sim >= 0.9",
        "WHERE jaccard_sim >= 0.95",
    )
    v = replica_verdict_rows(cols, rows, oracle_con, sql)
    assert not is_green(v), "replica failed to flag a wrong verify threshold"
    assert not v["rows_match"]


def test_oracle_mutant_same_text_pair_guard(oracle_con, minhash_spark_result):
    # seeded bug: the distinct-text expansion's id guard < becomes <=,
    # emitting (d, d) self-pairs — the guard replicates the all-pairs
    # form's a.doc_id < b.doc_id join, so breaking it breaks the
    # losslessness argument of the r11 rewrite.
    cols, rows = minhash_spark_result
    sql = _mutated(
        "minhash_near_dup",
        "ON m1.tid = m2.tid AND m1.doc_id < m2.doc_id",
        "ON m1.tid = m2.tid AND m1.doc_id <= m2.doc_id",
    )
    v = replica_verdict_rows(cols, rows, oracle_con, sql)
    assert not is_green(v), "replica failed to flag a broken pair guard"
    assert not v["rows_match"]  # sf0.001: 608 -> 1608 rows


def test_oracle_mutant_ngram_band_join_guard(oracle_con, ngram_spark_result):
    # seeded bug, second rewritten oracle: the pigeonhole band join's
    # dedup guard < becomes <= — self-pairs at jaccard 1.0 flood in.
    cols, rows = ngram_spark_result
    sql = _mutated(
        "ngram_jaccard_pairs",
        "ON a.blk = b.blk AND a.doc_id < b.doc_id",
        "ON a.blk = b.blk AND a.doc_id <= b.doc_id",
    )
    v = replica_verdict_rows(cols, rows, oracle_con, sql)
    assert not is_green(v), "replica failed to flag a broken band-join guard"
    assert not v["rows_match"]
