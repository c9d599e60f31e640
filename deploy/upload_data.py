"""Seed the pipeline bucket with schema + data files — the analogue of
the reference's ``data_schema_upload.sh`` (mc-cp loops over
``schema/*.json`` and ``dataset/*.csv``), done through the same Hadoop
``FileSystem`` API the engine already uses for K5/K6, so the one
script works against ``file://`` locally and ``s3a://`` MinIO/S3 on a
cluster with zero extra tooling (no mc binary, no boto3).

Usage:
    spark-submit [--properties-file deploy/spark-submit.conf] \
        deploy/upload_data.py <base-uri> <local-schema-dir> <local-data-dir>

Schemas land under <base>/schema/, data files under <base>/data/ —
the prefixes ``initialize_layout`` creates and ``job_ingest`` watches.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.bootstrap import (
    initialize_layout,
)


def upload_dir(spark: SparkSession, local_dir: str, dest_uri: str, exts: tuple[str, ...]) -> int:
    """copyFromLocalFile every ``exts`` file in ``local_dir`` to
    ``dest_uri``; returns the number uploaded. Overwrite=True matches
    the reference's mc cp (last upload wins)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = getattr(jvm, "org.apache.hadoop.fs.Path")
    dest = HPath(dest_uri)
    fs = dest.getFileSystem(hconf)
    n = 0
    for name in sorted(os.listdir(local_dir)):
        if not name.endswith(exts):
            continue
        src = HPath("file://" + os.path.abspath(os.path.join(local_dir, name)))
        fs.copyFromLocalFile(False, True, src, HPath(dest, name))
        print(f"uploaded {name} -> {dest_uri}/{name}")
        n += 1
    return n


def main() -> None:
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    base, schema_dir, data_dir = sys.argv[1:4]
    spark = SparkSession.builder.getOrCreate()
    layout = initialize_layout(spark, base)
    n_schema = upload_dir(spark, schema_dir, layout["schema"], (".json",))
    n_data = upload_dir(spark, data_dir, layout["data"], (".csv", ".json", ".parquet"))
    print(f"upload completed: {n_schema} schema files, {n_data} data files")


if __name__ == "__main__":
    main()
