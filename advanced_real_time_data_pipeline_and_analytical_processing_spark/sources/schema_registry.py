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


def load_schema(schema_dir: str, data_file: str) -> StructType | None:
    """Fetch the StructType for a data file; None → caller infers."""
    path = os.path.join(schema_dir, derive_schema_filename(data_file))
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        doc = json.load(fh)
    return StructType.fromJson(normalize_struct_json(doc))


def load_schema_any(spark, schema_dir: str, data_file: str) -> StructType | None:
    """``load_schema`` for ANY Hadoop-resolvable URI — the form the
    cluster job uses, where the schema prefix is ``s3a://bucket/schema``
    (the reference read its schema documents from the same MinIO bucket
    it watched for data, ``code/utils.py:81-101``). Plain paths take the
    local fast path; URIs stream through ``FileSystem.open``."""
    fname = derive_schema_filename(data_file)
    if "://" not in schema_dir and not schema_dir.startswith("file:"):
        return load_schema(schema_dir, fname)
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    p = HPath(schema_dir.rstrip("/") + "/" + fname)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # IOUtils drains the Hadoop input stream to a byte array without
        # guessing the length; decode as UTF-8 JSON.
        raw = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    doc = json.loads(bytes(raw).decode("utf-8"))
    return StructType.fromJson(normalize_struct_json(doc))
