"""Cluster job entrypoint — the reference ``code/Main.py`` slot,
submitted by ``deploy/submit.sh`` (R4) the way the reference's
``start.sh:36`` ran ``spark-submit /home/spark/main.py`` inside its
compose stack (R3).

Environment surface mirrors the reference's compose service env
(``docker-compose.yml:55-62``): BUCKET_NAME, DB_URL, DB_USER,
DB_PASSWORD, TRIGGER_INTERVAL_SEC. Object-store endpoint/credentials
come from ``deploy/spark-submit.conf`` (``spark.hadoop.fs.s3a.*``),
NOT from here — the session arrives from spark-submit fully built, so
this job only applies the engine's runtime-settable requirements via
``configure_session`` and composes operators, exactly as
``docs/CLUSTER.md`` prescribes.

Pipeline = the reference's end-to-end shape re-expressed Spark-first:
K6 layout bootstrap → per-format streaming ingest (S1–S7) with the
typed rule engine (P1–P7) splitting good/quarantine, observe()-exact
audit (K4/A6), processed-file moves (K5) — all inside
``streaming.ingest`` — supervised with checkpoint restarts (T5/T6),
and the good stream upserted to the warehouse per micro-batch via the
staged JDBC MERGE (K1/K2) whenever DB_URL is injected (compose always
injects it; a bare local submit without it runs parquet-only).
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.validation import (
    reference_ruleset,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.jdbc_upsert import (
    upsert_jdbc,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.session import (
    configure_session,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.bootstrap import (
    initialize_layout,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.sources.schema_registry import (
    load_schema_any,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.ingest import (
    IngestConfig,
    start_ingest,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.supervision import (
    run_supervised,
)


def jdbc_good_sink(fmt: str) -> Callable[[DataFrame, int], None] | None:
    """K1/K2: per-batch staged MERGE into the warehouse (reference
    Main.py wrote every good batch to Postgres via write_jdbc). Reads
    the compose env surface (docker-compose.yml DB_URL/DB_USER/
    DB_PASSWORD); returns None — parquet-only ingest — when no DB_URL
    is injected, so local/backfill submits need no database. Keyed on
    row_hash: replays MERGE-match and leave the target unchanged
    (ADVICE r10: these vars were documented but never read)."""
    url = os.environ.get("DB_URL")
    if not url:
        return None
    props = {}
    if os.environ.get("DB_USER"):
        props["user"] = os.environ["DB_USER"]
    if os.environ.get("DB_PASSWORD"):
        props["password"] = os.environ["DB_PASSWORD"]

    def _sink(good: DataFrame, batch_id: int) -> None:
        upsert_jdbc(
            good,
            url=url,
            table=f"good_{fmt}",
            key_cols=["row_hash"],
            properties=props,
        )

    return _sink


def build_configs(spark: SparkSession, base: str, trigger_s: int) -> list[IngestConfig]:
    """One streaming query per source format over the bucket's data/
    prefix (S7 dispatch); schemas come from the schema/ prefix, the
    reference's dynamic-schema slot (S6, ref Main.py:92-101)."""
    layout = initialize_layout(spark, base)  # K6, idempotent
    cfgs = []
    for fmt in ("csv", "json"):
        schema = load_schema_any(spark, layout["schema"], f"sensors.{fmt}")
        if schema is None:
            continue  # no registered schema for this format yet
        cfgs.append(
            IngestConfig(
                source_dir=layout["data"],
                fmt=fmt,
                schema=schema,
                rules=reference_ruleset(),
                good_dir=f"{layout['']}/good_{fmt}",
                quarantine_dir=f"{layout['quarantine']}/{fmt}",
                audit_dir=f"{layout['audit']}/{fmt}",
                checkpoint_dir=f"{layout['']}/checkpoints/{fmt}",
                processed_dir=layout["processed"],
                trigger={"processingTime": f"{trigger_s} seconds"},
                on_good=jdbc_good_sink(fmt),
            )
        )
    return cfgs


def main() -> None:
    spark = configure_session(SparkSession.builder.getOrCreate())
    base = os.environ["BUCKET_NAME"]  # e.g. s3a://my-bucket
    trigger_s = int(os.environ.get("TRIGGER_INTERVAL_SEC", "60"))
    cfgs = build_configs(spark, base, trigger_s)
    if not cfgs:
        raise SystemExit(
            f"no schemas registered under {base}/schema — upload with "
            "deploy/upload_data.py before submitting"
        )
    # T5/T6: each format's query runs under its own supervision loop
    # (run_supervised restarts from the checkpoint with bounded
    # backoff), one thread per format since the queries are concurrent
    # — the S7 dispatch: one ingest stream per format over the same
    # directory, each individually restartable. A loop that exhausts its restart
    # budget FAILS THE WHOLE JOB (ADVICE r10: previously the exception
    # died with its thread and the driver kept running half-degraded
    # with exit code 0; the reference's supervision loop fails the
    # process): the wrapper records the failure and stops the sibling
    # queries so every join() returns promptly.
    failures: list[tuple[str, BaseException]] = []

    def _supervise(cfg: IngestConfig) -> None:
        try:
            run_supervised(lambda: start_ingest(spark, cfg))
        except BaseException as exc:  # noqa: BLE001 — propagated below
            failures.append((cfg.fmt, exc))
            for q in spark.streams.active:
                q.stop()

    threads = [
        threading.Thread(
            target=_supervise, args=(cfg,), name=f"supervise-{cfg.fmt}"
        )
        for cfg in cfgs
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if failures:
        detail = "; ".join(f"{fmt}: {exc!r}" for fmt, exc in failures)
        raise SystemExit(f"ingest supervision exhausted restarts — {detail}")


if __name__ == "__main__":
    main()
