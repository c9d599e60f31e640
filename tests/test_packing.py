from __future__ import annotations

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import packing


def test_pack_sequences_layout(spark):
    # shard A: sizes 300, 300, 500 with capacity 512:
    #   doc1 starts at 0   -> chunk 0, offset 0
    #   doc2 starts at 300 -> chunk 0, offset 300 (straddles into chunk 1)
    #   doc3 starts at 600 -> chunk 1, offset 88
    rows = [(1, "A", 300), (2, "A", 300), (3, "A", 500), (9, "B", 10)]
    df = spark.createDataFrame(rows, "doc_id bigint, shard string, n_tokens bigint")
    out = {
        r["doc_id"]: (r["chunk_id"], r["start_offset"])
        for r in packing.pack_sequences(df, "doc_id", "n_tokens", "shard", 512).collect()
    }
    assert out == {1: (0, 0), 2: (0, 300), 3: (1, 88), 9: (0, 0)}

