"""Co-occurrence edge generation: hot-cell fan-out bound.

The naive (id, cell) self-join is |cell|^2 per cell — the one
confirmed 100 TB scale-killer in the co-purchase graph family
(VERDICT r4 #4). cooccurrence_edges caps each cell at its 64
smallest ids before pairing, so a planted viral cell
contributes at most cap*(cap-1)/2 pairs no matter how hot it is.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import graph


def _cells(spark, rows):
    return spark.createDataFrame(rows, "user_id bigint, _cell bigint")


def test_hot_cell_fanout_is_capped(spark):
    # planted hot cell: 500 users in one cell; two normal cells of 3
    rows = [(u, 1) for u in range(500)]
    rows += [(u, 2) for u in (1000, 1001, 1002)]
    rows += [(u, 3) for u in (2000, 2001, 2002)]
    edges = graph.cooccurrence_edges(_cells(spark, rows))
    per_cell_max = 64 * 63 // 2
    got = edges.count()
    # hot cell contributes exactly cap*(cap-1)/2, normal cells 3 each
    assert got == per_cell_max + 3 + 3
    # and the survivors of the hot cell are its 64 SMALLEST ids
    # (deterministic construction an oracle can mirror)
    max_node = edges.agg(F.max(F.greatest("u", "v"))).collect()[0][0]
    assert max_node == 2002
    hot_nodes = (
        edges.filter(F.col("u") < 1000)
        .select(F.explode(F.array("u", "v")).alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert hot_nodes == 63


def test_edges_are_canonical_and_distinct(spark):
    # duplicate membership rows must not produce duplicate edges
    rows = [(1, 7), (2, 7), (1, 7), (2, 7), (2, 8), (1, 8)]
    edges = graph.cooccurrence_edges(_cells(spark, rows))
    got = sorted(map(tuple, edges.collect()))
    assert got == [(1, 2)]
