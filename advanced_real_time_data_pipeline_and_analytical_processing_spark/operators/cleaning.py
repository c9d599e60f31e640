"""Row cleaning (reference P1/P2 — ``code/helpers.py:46-54``).

The reference trims every string column with an N-deep ``withColumn``
chain; here it is a single projection so the analyzed plan stays flat
(SURVEY.md §4.3-5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType


def trim_exprs(schema: StructType) -> list[Column]:
    """The trim projection of `schema`: string columns trimmed, the rest
    passed through. Columns are reusable across frames, so a stream with
    a fixed schema builds this once."""
    return [
        F.trim(F.col(f.name)).alias(f.name)
        if isinstance(f.dataType, StringType)
        else F.col(f.name)
        for f in schema.fields
    ]


def drop_all_null_rows(df: DataFrame) -> DataFrame:
    """Drop rows where every column is null (reference P2)."""
    return df.na.drop(how="all")

