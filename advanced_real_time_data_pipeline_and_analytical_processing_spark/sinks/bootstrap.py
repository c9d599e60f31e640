"""K6: pipeline storage-layout bootstrap (reference parity).

The reference creates its working bucket and the
``data/ processed/ audit/ qurantine/ schema/`` prefixes at startup
with a boto3 MinIO client (``code/utils.py:14-46``, called from
``code/Main.py:34``). The Spark-first equivalent needs no S3 SDK:
Hadoop's ``FileSystem`` resolves ANY supported URI scheme — ``file://``
locally, ``s3a://`` against MinIO/S3 on a cluster (endpoint and
credentials come from the standard ``fs.s3a.*`` Hadoop configs, the
same place the reference's Spark session already put them), ``hdfs://``,
``abfs://`` — so one ``mkdirs`` call is the portable analogue of
"create bucket + folder prefixes". On object stores a "directory" is a
zero-byte prefix marker, exactly what the reference's
``put_object(Key=f"{folder}/")`` wrote.

Idempotent like the reference (``BucketAlreadyOwnedByYou`` tolerated;
``mkdirs`` on an existing path is a no-op success) and wrapped in the
same R1 retry envelope the reference applies to its
``initialize_bucket`` (``@retry`` at ``code/utils.py:14``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .writers import retry

# The reference's startup layout, typo ("qurantine") deliberately NOT
# reproduced: the engine's quarantine sink spells it correctly.
DEFAULT_FOLDERS = ("data", "processed", "audit", "quarantine", "schema")


@retry
def initialize_layout(
    spark: SparkSession,
    base: str,
    folders: tuple[str, ...] = DEFAULT_FOLDERS,
) -> dict[str, str]:
    """Ensure ``base`` and each folder under it exist; return the
    resolved URI per folder name (plus ``""`` -> base). Driver-side
    metadata-only setup — no dataflow, mirroring the reference's
    placement before the stream starts."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    root = HPath(base)
    fs = root.getFileSystem(hconf)
    _ensure_dir(fs, root)
    out = {"": root.toString()}
    for folder in folders:
        p = HPath(root, folder)
        _ensure_dir(fs, p)
        out[folder] = p.toString()
    return out


def _ensure_dir(fs, p) -> None:
    """mkdirs-or-verify: some Hadoop FileSystems return ``false``
    instead of raising when the path exists as a FILE, so the return
    value must be checked on every path — a silent false here would
    hand a file URI to a sink expecting a directory prefix."""
    if not fs.mkdirs(p) and not fs.getFileStatus(p).isDirectory():
        raise IOError(f"layout path exists and is not a directory: {p.toString()}")


def bootstrap_ingest_dirs(spark: SparkSession, cfg) -> None:
    """Ensure an IngestConfig's storage locations exist before the
    stream starts — the reference's ``initialize_bucket`` call sits at
    the same spot (``code/Main.py:34``, before the readStream). Hadoop
    ``mkdirs`` per configured URI; absent/None entries skipped."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    for d in (
        getattr(cfg, "source_dir", None),
        getattr(cfg, "processed_dir", None),
        getattr(cfg, "quarantine_dir", None),
        getattr(cfg, "audit_dir", None),
        getattr(cfg, "checkpoint_dir", None),
    ):
        if d:
            p = HPath(d)
            _ensure_dir(p.getFileSystem(hconf), p)
