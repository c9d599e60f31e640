"""Benchmark decontamination: n-gram overlap between a training corpus
and an evaluation set.

Before training on a web-scale corpus you must know which training
documents leak evaluation data (the GPT-3 appendix-C / PaLM style
check): a training doc is *contaminated* if it shares at least one
word n-gram with any eval doc. The reference pipeline has no analogue;
this is a required capability for an LLM-data engine.

Shape, and why it scales:

- Each side is reduced to DISTINCT per-doc n-grams with a per-row
  array expression over the projected tokens
  (`dedup.shingles_from_tokens` — no explode until after distinct-ing,
  so the explode carries no within-doc duplicates).
- The eval side is tiny relative to the corpus (benchmarks are
  millions of n-grams; the corpus is 100 TB), so the join is an
  explicit ``broadcast`` hash join on the n-gram string: the corpus
  side streams through map-side, **zero shuffle of corpus data**.
- Per-eval-doc aggregation then shuffles only the matched pairs
  (corpus_id, eval_id, ngram) — a vanishingly small fraction of the
  input at realistic thresholds.

If the eval set ever outgrows broadcast range, drop the broadcast hint
and the same plan becomes a shuffle join on the n-gram hash — the
operator code is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingles_from_tokens
from .text import tokens


def doc_ngrams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, ngram) pairs, one row per DISTINCT n-gram per document."""
    return df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")).select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("ngram"),
    )


def contamination_report(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-eval-doc contamination: how many train docs share an n-gram
    with it, and how many distinct n-grams leak. Eval docs with no
    overlap still appear (zero counts) so the report is a complete
    audit, not just a hit list.

    Returns (eval_id, n_contaminated_train_docs, n_leaked_ngrams).
    """
    train_grams = doc_ngrams(train, id_col, text_col, n).withColumnRenamed(
        id_col, "_train_id"
    )
    eval_grams = doc_ngrams(eval_set, id_col, text_col, n).withColumnRenamed(
        id_col, "_eval_id"
    )
    # Broadcast the eval side: the corpus never shuffles.
    hits = train_grams.join(F.broadcast(eval_grams), "ngram")
    per_eval = hits.groupBy("_eval_id").agg(
        F.countDistinct("_train_id").alias("n_contaminated_train_docs"),
        F.countDistinct("ngram").alias("n_leaked_ngrams"),
    )
    all_eval = eval_set.select(F.col(id_col).alias("_eval_id")).distinct()
    return (
        all_eval.join(per_eval, "_eval_id", "left")
        .select(
            F.col("_eval_id").alias("eval_id"),
            F.coalesce("n_contaminated_train_docs", F.lit(0)).alias(
                "n_contaminated_train_docs"
            ),
            F.coalesce("n_leaked_ngrams", F.lit(0)).alias("n_leaked_ngrams"),
        )
    )
