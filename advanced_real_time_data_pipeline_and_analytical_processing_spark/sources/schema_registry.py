"""Per-dataset schema registry (reference S6, ``code/utils.py:81-130``).

Hybrid explicit + inferred, exactly the reference's contract:
- explicit: a ``{dataset_basename}.json`` document in Spark StructType
  JSON format (``{"type": "struct", "fields": [...]}``), loaded with
  ``StructType.fromJson``; missing per-field metadata is backfilled.
- inferred fallback: absent schema file → None → readers infer.

Schemas live on any filesystem path (local or object store via Hadoop
FS); the registry itself is driver-side metadata, not dataflow.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.types import StructType


def derive_schema_filename(data_file: str) -> str:
    """``data/X.csv`` → ``X.json`` (reference N2, ``code/utils.py:116-130``)."""
    base = os.path.basename(data_file)
    stem = os.path.splitext(base)[0]
    return f"{stem}.json"


def normalize_struct_json(doc: dict) -> dict:
    """Backfill missing per-field ``metadata``/``nullable`` keys
    (reference ``code/utils.py:104-107``)."""
    for fld in doc.get("fields", []):
        fld.setdefault("metadata", {})
        fld.setdefault("nullable", True)
    return doc


def load_schema_any(spark, schema_dir: str, data_file: str) -> StructType | None:
    """Fetch the StructType for a data file; None → caller infers.

    ``schema_dir`` is any Hadoop-resolvable path — ``s3a://bucket/schema``
    on the cluster (the reference read its schema documents from the
    same MinIO bucket it watched for data, ``code/utils.py:81-101``).
    Every path streams through ``FileSystem.open``, so a scheme-less
    path resolves against ``fs.defaultFS`` exactly as
    ``bootstrap.initialize_layout`` and ``deploy/upload_data.py``
    resolved it when they wrote it."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = getattr(jvm, "org.apache.hadoop.fs.Path")(
        schema_dir.rstrip("/") + "/" + derive_schema_filename(data_file)
    )
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # IOUtils drains the Hadoop input stream to a byte array without
        # guessing the length; decode as UTF-8 JSON.
        raw = getattr(jvm, "org.apache.commons.io.IOUtils").toByteArray(stream)
    finally:
        stream.close()
    doc = json.loads(bytes(raw).decode("utf-8"))
    return StructType.fromJson(normalize_struct_json(doc))
