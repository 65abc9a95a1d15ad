"""The reference's whole DAG as one Spark pipeline (SURVEY.md §3.1).

Reference: a 5-task Airflow DAG every 2 minutes — DDL bootstrap, HTTP
extract, dict transform, check-then-insert load, with XCom serializing the
record between OS processes (``airflow/dags/weather_etl.py:228``).

Here: ``run_cycle`` is ONE lazy DataFrame lineage (extract -> transform ->
anti-join upsert) with no serialization boundaries. The streaming shape is
a landing-directory file stream: ``land_records`` (the poller — driver-side
fetch, one JSON-lines file per tick) decouples ingestion cadence from
processing; ``start_stream`` reads the landing dir with an explicit schema
and a ``processingTime`` trigger for the 2-minute cadence (T1), giving
checkpointed at-least-once delivery (T3) with idempotence enforced by the
upsert's natural-key anti-join (T2) — i.e. effectively-once, the
reference's net semantics. ``availableNow`` drains pending files then stops
(deterministic tests, backfill). At scale the landing dir is object
storage with thousands of files per tick; the file source parallelizes the
read and ``maxFilesPerTrigger`` bounds batch size.

Orchestration stance (BASELINE.json ``spark_approach``): Airflow may still
*schedule* ``run_cycle`` via spark-submit — retries/cadence stay in the
orchestrator, data never rides XCom.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..functions.weather import require_utc_session, transform_weather
from ..operators.upsert import upsert_parquet
from ..schemas import WEATHER_RAW_SCHEMA
from ..sources.rest import extract

DEDUP_KEYS = ["city", "utc"]  # natural key, weather_etl.py:158-166


def run_cycle(
    spark: SparkSession,
    fetch_fn: Callable[[], list[dict]],
    sink_path: str,
    strict_load: bool = True,
) -> int:
    """One extract->transform->load cycle; returns rows actually appended.

    Idempotent on (city, utc): re-running with the same observations
    appends nothing (reference dedup, weather_etl.py:158-187).

    Failure semantics: extract errors always propagate (the reference
    fails the task, weather_etl.py:99,110). ``strict_load=False``
    reproduces the reference's load behavior bit-for-bit — its load task
    logs MySQL errors and continues, so a failed insert does NOT fail the
    DAG run (weather_etl.py:190-191). Default is strict: silently dropped
    data is the wrong default for a batch engine."""
    raw = extract(spark, fetch_fn)
    require_utc_session(raw)
    flat = transform_weather(raw)
    try:
        return upsert_parquet(spark, flat, sink_path, DEDUP_KEYS)
    except Exception:
        if strict_load:
            raise
        import logging

        logging.getLogger(__name__).exception("load failed (swallowed, reference parity)")
        return 0


def land_records(fetch_fn: Callable[[], list[dict]], landing_dir: str) -> str:
    """The poller half of the stream: fetch (driver-side, one tiny record
    per tick — the reference's scheduler-driven pull, weather_etl.py:103)
    and land the raw JSON as one newline-delimited file. Write-then-rename
    so the file source never sees a partial file."""
    os.makedirs(landing_dir, exist_ok=True)
    name = f"batch-{uuid.uuid4().hex}.json"
    tmp = os.path.join(landing_dir, f".{name}.tmp")
    final = os.path.join(landing_dir, name)
    with open(tmp, "w", encoding="utf-8") as f:
        for rec in fetch_fn():
            f.write(json.dumps(rec) + "\n")
    os.rename(tmp, final)
    return final


def start_stream(
    spark: SparkSession,
    landing_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    trigger_interval: str = "2 minutes",  # reference cadence, weather_etl.py:29
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """T1 micro-batch file stream over the landing directory.

    Explicit schema (never inference on a stream), transform + anti-join
    upsert per micro-batch via foreachBatch. ``available_now=True`` drains
    the files pending right now, then stops — deterministic for tests and
    backfill. Checkpointing makes file pickup exactly-once; the upsert's
    natural-key anti-join makes redelivered *data* idempotent too (T2/T3).
    """
    os.makedirs(landing_dir, exist_ok=True)
    reader = spark.readStream.schema(WEATHER_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(landing_dir)

    def _on_batch(batch_df, batch_id: int) -> None:
        # An empty batch needs no guard (each would cost a Spark job): a
        # zero-row upsert writes nothing.
        require_utc_session(batch_df)
        upsert_parquet(spark, transform_weather(batch_df), sink_path, DEDUP_KEYS)

    writer = raw.writeStream.foreachBatch(_on_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def start_stream_jdbc(
    spark: SparkSession,
    landing_dir: str,
    url: str,
    table: str,
    checkpoint_dir: str,
    jdbc_driver: str | None = None,
    trigger_interval: str = "2 minutes",
    available_now: bool = False,
) -> StreamingQuery:
    """The reference's load topology end-to-end: micro-batch stream ->
    dedup probe against the DATABASE -> JDBC append of only-new rows
    (weather_etl.py:158-187, scaled from 1 row/2 round-trips to whole
    batches). Effectively-once into a relational sink: checkpointing
    replays undelivered batches, the natural-key anti-join makes the
    replay idempotent. Executed in tests against embedded Derby; MySQL is
    a URL/driver swap."""
    from ..operators.upsert import dedup_new_rows
    from ..sources.jdbc import jdbc_append, jdbc_read, jdbc_table_exists

    os.makedirs(landing_dir, exist_ok=True)
    raw = spark.readStream.schema(WEATHER_RAW_SCHEMA).json(landing_dir)

    def _on_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        require_utc_session(batch_df)
        flat = transform_weather(batch_df)
        # Explicit JDBC-metadata probe decides the first-ever-batch case
        # (the table is created by the append itself). Any error from the
        # probe or the dedup read propagates and fails the batch — a
        # transient DB error must NEVER silently disable dedup, or
        # checkpoint-replayed batches would double-insert. (Message-text
        # sniffing is vendor-specific: Derby says "does not exist", MySQL
        # says "doesn't exist" — metadata is the portable signal.)
        if jdbc_table_exists(spark, url, table, driver=jdbc_driver):
            existing = jdbc_read(spark, url, table, driver=jdbc_driver).select(
                *DEDUP_KEYS
            )
            fresh = dedup_new_rows(flat, existing, DEDUP_KEYS)
        else:
            fresh = flat
        jdbc_append(fresh, url, table, driver=jdbc_driver)

    writer = raw.writeStream.foreachBatch(_on_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()
