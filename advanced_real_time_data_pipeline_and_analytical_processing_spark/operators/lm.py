"""Corpus n-gram language-model scoring (CCNet-style quality signal).

Training-data pipelines score every document's perplexity under a
language model trained on the corpus itself (CCNet uses a 5-gram
KenLM; the same shape works with a bigram model) and keep/bucket docs
by the score. This module builds the LM and the scores as pure
DataFrame ops:

1. corpus pass: bigram counts c2(w1,w2), left-context counts c1(w1),
   vocabulary size V — explode + hash-aggregate, map-side combined.
2. scoring pass: per-doc bigrams join the count tables on the bigram /
   left-token keys (plain shuffled equi-joins that scale linearly),
   add-k smoothing p = (c2 + 0.5) / (c1 + 0.5 V), and the negative
   log-likelihood accumulates in INTEGER MICRO-NATS
   (floor(ln p * 1e6) per bigram, summed as bigint) — the sum is
   reduction-order-proof, so the score is identical on any partitioning
   and replayable exactly in DuckDB. Floats touch the result only in
   the one ln() per distinct bigram and the final exp().

At 100 TB: both passes are linear scans + shuffles on bounded keys
(bigram vocabulary), no collect, no UDF; the count tables behave like
any fact-dimension join (broadcast when small, shuffle when not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from advanced_real_time_data_pipeline_and_analytical_processing_spark.plans.materialize import materialize

from .text import ngrams_from_tokens, tokens


def bigram_model(
    docs: DataFrame, text_col: str, bg: DataFrame
) -> tuple[DataFrame, DataFrame, int]:
    """(c2, c1, V): bigram counts, left-context counts, vocab size.
    c1(w1) = sum_w2 c2(w1, w2) is derived FROM c2 so numerator and
    denominator stay consistent; V counts the full corpus vocabulary.
    ``bg`` is the pre-materialized exploded bigram frame (any frame
    with a ``bg`` column), shared with the other consumers."""
    c2 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = (
        c2.select(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"), "c2")
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"))
    )
    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
        .collect()[0]["v"]
    )
    return c2, c1, int(vocab)


def doc_perplexity(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, n_bigrams, nll_micro, ppl): per-document perplexity under
    the corpus bigram LM with add-0.5 smoothing. nll_micro is the exact
    integer micro-nat negative log-likelihood; ppl = exp(nll/1e6/n),
    rounded to 4 — the only engine-sensitive float steps are one ln and
    one exp, mirrored verbatim in the oracle."""
    # ONE explode, materialized: it feeds the c2 aggregate, the c1
    # aggregate derived from it, and the scoring join — unmaterialized,
    # each consumer re-runs the shingle explode over the corpus
    # (measured 5x slower at sf0.1)
    bgid = (
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
        .select(F.col(id_col), F.explode(ngrams_from_tokens(F.col("_t"), 2)).alias("bg"))
        .transform(materialize)
    )
    c2, c1, v = bigram_model(docs, text_col, bgid)
    per_doc = bgid.select(
        id_col, "bg", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1")
    )
    scored = (
        per_doc.join(c2, "bg")
        .join(c1, "w1")
        .select(
            F.col(id_col),
            F.floor(
                F.log(
                    (F.col("c2") + F.lit(0.5))
                    / (F.col("c1") + F.lit(0.5) * F.lit(float(v)))
                )
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("lp_micro"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.sum("lp_micro")).alias("nll_micro"),
    )
    return agg.select(
        id_col,
        "n_bigrams",
        "nll_micro",
        F.round(
            F.exp(
                F.col("nll_micro").cast("double")
                / F.col("n_bigrams")
                / F.lit(1000000.0)
            ),
            4,
        ).alias("ppl"),
    )


def perplexity_oracle_sql(docs_table: str, id_expr: str, text_expr: str) -> str:
    """DuckDB replay: same tokenization, same smoothing, same integer
    micro-nat floor-sum, same final exp nesting."""
    toks = f"regexp_split_to_array(trim(lower({text_expr})), '\\s+')"
    return f"""
        WITH toks AS (
            SELECT {id_expr} AS id, {toks} AS t FROM {docs_table}
        ), bg AS (
            SELECT id, unnest(list_transform(
                range(1, greatest(len(t), 1)),
                i -> t[i] || ' ' || t[i + 1])) AS bg
            FROM toks
        ), c2 AS (
            SELECT bg, count(*) AS c2 FROM bg GROUP BY bg
        ), c1 AS (
            SELECT split_part(bg, ' ', 1) AS w1, sum(c2) AS c1
            FROM c2 GROUP BY 1
        ), voc AS (
            SELECT count(DISTINCT w) AS v
            FROM (SELECT unnest(t) AS w FROM toks)
        ), scored AS (
            SELECT b.id,
                   CAST(floor(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * CAST(voc.v AS DOUBLE)))
                              * 1000000.0) AS BIGINT) AS lp_micro
            FROM bg b
            JOIN c2 ON b.bg = c2.bg
            JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1
            CROSS JOIN voc
        ), agg AS (
            SELECT id, count(*) AS n_bigrams, -sum(lp_micro) AS nll_micro
            FROM scored GROUP BY id
        )
        SELECT id AS doc_id, n_bigrams, nll_micro,
               round(exp(CAST(nll_micro AS DOUBLE) / n_bigrams / 1000000.0), 4)
                 AS ppl
        FROM agg
    """
