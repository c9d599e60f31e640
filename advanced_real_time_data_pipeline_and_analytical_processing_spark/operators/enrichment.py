"""Lineage / metadata enrichment (reference P8, ``code/helpers.py:208-215``).

The deterministic ``row_hash`` = sha2-256 over the selected columns,
null-coalesced and joined with ``||`` — byte-for-byte the reference's
hash recipe, so downstream idempotent-upsert keys are compatible. The
ingest (``streaming/ingest.process_batch``) projects it beside
``file_path`` and ``ingestion_ts``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_SEP = "||"
NULL_TOKEN = "NULL"


def row_hash_expr(columns: Sequence[str]) -> Column:
    """sha2(concat_ws('||', coalesce(cast(c as string), 'NULL')...), 256).

    Column order is the caller's explicit order — hash determinism must
    not depend on schema field ordering surprises.
    """
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(NULL_TOKEN)) for c in columns
    ]
    return F.sha2(F.concat_ws(HASH_SEP, *parts), 256)

