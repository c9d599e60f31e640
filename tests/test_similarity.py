from __future__ import annotations

import math

from pyspark.sql import functions as F

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import similarity


def vec_df(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_dot_and_norm(spark):
    df = spark.createDataFrame([([1.0, 2.0], [3.0, 4.0])], "a array<double>, b array<double>")
    r = df.select(
        similarity.dot(F.col("a"), F.col("b")).alias("d"),
        similarity.l2_norm(F.col("a")).alias("n"),
    ).collect()[0]
    assert r["d"] == 11.0
    assert math.isclose(r["n"], math.sqrt(5.0))


def test_cosine_topk_ranking(spark):
    emb = vec_df(spark)
    out = similarity.cosine_topk(
        emb.filter(F.col("vec_id") == 0), emb, "vec_id", "vec_id"
    ).collect()
    ranked = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0][0] == 1  # most similar
    assert ranked[-1][0] == 3  # least similar (opposite)
    assert all(r["query_id"] == 0 for r in out)
    assert len(out) == 3  # self excluded


def test_lsh_identical_vectors_same_bucket(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0])], "vec_id bigint, embedding array<double>"
    )
    planes = [[0.3, -0.5, 0.8], [-0.2, 0.9, 0.1], [0.7, 0.7, -0.7]]
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in similarity.hyperplane_lsh_buckets(df, "vec_id", "embedding", planes).collect()
    }
    assert buckets[0] == buckets[1]


def test_lsh_topk_finds_identical(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0]), (2, [-1.0, -2.0, -3.0])],
        "vec_id bigint, embedding array<double>",
    )
    planes = [[0.3, -0.5, 0.8], [-0.2, 0.9, 0.1]]
    out = similarity.lsh_cosine_topk(
        df.filter(F.col("vec_id") == 0), df, "vec_id", "vec_id", planes
    ).collect()
    neighbors = {r["neighbor_id"]: r["score"] for r in out}
    assert neighbors.get(1) == 1.0  # identical vector found in same bucket


def test_cosine_near_dup_planted(spark):
    rows = [
        (0, [1.0, 2.0, 3.0], "a"),
        (100, [1.0, 2.0, 3.0], "a"),    # exact copy, same block
        (1, [-3.0, 1.0, 0.5], "a"),     # same block, dissimilar
        (200, [1.0, 2.0, 3.0], "b"),    # copy but different block -> unseen
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label string")
    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.cosine_near_dup(
            df, "vec_id", "embedding", "label"
        ).collect()
    }
    assert pairs == {(0, 100): 1.0}


def test_deterministic_planes_stable():
    p1 = similarity.deterministic_planes(4, 8)
    p2 = similarity.deterministic_planes(4, 8)
    assert p1 == p2
    assert len(p1) == 4 and len(p1[0]) == 8
    assert all(-1.0 <= x < 1.0 for row in p1 for x in row)


def test_lsh_ann_recall_on_planted_copies(spark):
    import __spark_entry__ as entry_mod

    out = entry_mod.queries()["lsh_ann_topk"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r)
    assert set(by_query) == set(range(8))
    for qid, hits in by_query.items():
        top = min(hits, key=lambda r: r["rank"])
        # the planted exact copy lands in the same bucket always and wins
        assert top["neighbor_id"] == qid + 100000
        assert top["score"] == 1.0


def test_ivf_ann_recall_on_planted_copies(spark):
    import __spark_entry__ as entry_mod

    out = entry_mod.queries()["ivf_ann_topk"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r)
    assert set(by_query) == set(range(8))
    for qid, hits in by_query.items():
        top = min(hits, key=lambda r: r["rank"])
        # a query and its exact copy share the same nearest cell, so the
        # copy is always probed and wins at cosine 1.0
        assert top["neighbor_id"] == qid + 100000
        assert top["score"] == 1.0


def test_ivf_cells_partition_corpus(spark):
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    seeds = similarity.sample_centroids(emb, "vec_id", "embedding", n_cells=8)
    cents = similarity.lloyd_refine(emb, "embedding", seeds)
    assert len(cents) == 8 and len(cents[0]) == 64
    cells = similarity.ivf_assign(emb, "embedding", cents)
    counts = {r["cell"]: r["n"] for r in cells.groupBy("cell").count().withColumnRenamed("count", "n").collect()}
    assert sum(counts.values()) == emb.count()  # every vector in exactly one cell
    assert len(counts) > 1  # corpus actually split across cells
