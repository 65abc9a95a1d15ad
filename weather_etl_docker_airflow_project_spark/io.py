"""Table catalog over the driver testdata (SURVEY.md §2.1 S6).

At 100 TB these reads become partitioned parquet/Delta directory scans; the
access pattern is identical — ``spark.read.parquet`` with Catalyst doing
predicate pushdown, column pruning, and partition pruning. Nothing here
collects to the driver.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one testdata table (S6) under its pinned schema.

    The read passes ``schemas.TESTDATA_SCHEMAS[name]``, so building a plan
    runs no Spark job: a schema-less ``spark.read.parquet`` runs one
    footer-inference job per call, at plan-build time. The pinned schemas
    are exactly what Spark infers from the testdata files
    (``tests/test_plan_shapes.py`` holds them to it). A missing table
    still raises Spark's ``AnalysisException`` (PATH_NOT_FOUND).

    ``events.ts`` has shipped as different physical types across testdata
    generations. ``events_read_schema`` types it from one driver-side
    footer read and ``normalize_events_ts`` brings every form to session
    TIMESTAMP (what every downstream window/watermark/oracle expects; the
    session tz is UTC, matching DuckDB's naive read). The decision is made
    on the parquet physical/logical type, not the Arrow type: pyarrow
    reports Spark's default INT96 as ``timestamp[ns]``, the same Arrow type
    as a TIMESTAMP(NANOS) column, but Spark reads INT96 as TIMESTAMP and
    fails with PARQUET_COLUMN_DATA_TYPE_MISMATCH if it is asked for a long.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)
    return normalize_events_ts(
        spark.read.schema(events_read_schema(spark, path)).parquet(path)
    )


def events_read_schema(spark: SparkSession, path: str) -> T.StructType:
    """The events schema with ``ts`` typed as Spark reads the stored column,
    from one driver-side footer read (``path`` is a parquet file, or a
    directory whose first ``*.parquet`` part file is read):

    - INT96 (Spark's default timestamp output): TIMESTAMP.
    - INT64 TIMESTAMP(NANOS): the vectorized reader rejects it; with
      ``nanosAsLong`` (set here, on this branch only) it loads as long
      nanos.
    - INT64 TIMESTAMP(MILLIS/MICROS), isAdjustedToUTC=false: TIMESTAMP_NTZ.
    - INT64 TIMESTAMP(MILLIS/MICROS), isAdjustedToUTC=true: TIMESTAMP.
    """
    if os.path.isfile(path):
        parts = [path]
    else:
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not parts:
        # missing or empty: Spark raises its own AnalysisException
        # (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA) and runs no job
        spark.read.parquet(path)
    import pyarrow.parquet as pq  # local import: keep module light

    footer = pq.read_metadata(parts[0]).schema
    col = footer.column(footer.names.index("ts"))
    logical = json.loads(col.logical_type.to_json())
    if col.physical_type == "INT96":
        ts_type = T.TimestampType()
    elif logical["Type"] != "Timestamp" or logical["timeUnit"] == "nanoseconds":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts_type = T.LongType()
    elif logical["isAdjustedToUTC"]:
        ts_type = T.TimestampType()
    else:
        ts_type = T.TimestampNTZType()
    return T.StructType(
        [
            T.StructField("ts", ts_type) if f.name == "ts" else f
            for f in TESTDATA_SCHEMAS["events"]
        ]
    )


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """``ts`` as session TIMESTAMP, from any ``events_read_schema`` type:
    long nanos are integer-divided to micros (exactly DuckDB's
    nanos->micros truncation); TIMESTAMP_NTZ is cast (identity wall-clock
    in a UTC session)."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_csv(spark: SparkSession, path: str, schema, header: bool = True) -> DataFrame:
    """S7: CSV scan with an explicit schema — never inference in production
    paths (inference double-reads the data and guesses types)."""
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """S8: hive-layout partitioned parquet sink. Readers filtering on the
    partition columns scan only matching directories (partition pruning);
    choose low-cardinality columns (date, source) — at 100 TB, thousands of
    partitions is healthy, millions of tiny files is not."""
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table (hash-partitioned files + metadata): two
    tables bucketed the same way on the join key sort-merge-join with NO
    exchange on either side — the shuffle is paid once at write time, then
    every subsequent join of any two co-bucketed tables is shuffle-free.
    This is the batch answer to repeated large-fact joins at 100 TB
    (n_buckets ~ cluster cores; same bucketing spec on both tables)."""
    writer = df.write.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.mode(mode).format("parquet").saveAsTable(table)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All testdata tables as a dict of lazy DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so ``spark.sql`` queries
    see the same names DuckDB's oracle uses."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def scratch_dir(prefix: str) -> str:
    """Process-scoped scratch directory: a fresh mkdtemp (collision-safe
    under concurrent drivers) registered for removal at interpreter exit —
    query sinks must outlive the lazy plan's collect() but not the
    process, and un-reclaimed copies of fact tables otherwise accumulate
    across bench/driver runs."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d
