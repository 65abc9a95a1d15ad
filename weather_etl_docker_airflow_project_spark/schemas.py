"""Explicit schemas (never rely on inference in production paths — SURVEY.md §1.3).

WEATHER_RAW_SCHEMA mirrors the nested OpenWeatherMap response the reference
consumes (fields read at ``airflow/dags/weather_etl.py:119-128``; fixture
shape in FIXTURES.md §A1). WEATHER_SCHEMA mirrors the MySQL sink DDL
(``airflow/dags/weather_etl.py:67-77``), minus the AUTO_INCREMENT ``id``
which has no deterministic distributed equivalent (FIXTURES.md §A2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Reference-fidelity schemas ------------------------------------------

WEATHER_RAW_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),        # city (weather_etl.py:123)
        T.StructField("dt", T.LongType()),            # epoch secs (:119)
        T.StructField("timezone", T.IntegerType()),   # UTC offset secs (:120)
        T.StructField(
            "main",
            T.StructType(
                [
                    T.StructField("temp", T.DoubleType()),      # :124
                    T.StructField("humidity", T.IntegerType()),  # :126
                    T.StructField("pressure", T.IntegerType()),  # :127
                ]
            ),
        ),
        T.StructField(
            "weather",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("description", T.StringType()),  # :125
                        T.StructField("main", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "wind",
            T.StructType([T.StructField("speed", T.DoubleType())]),  # :128
        ),
    ]
)

# Flat sink row (weather_etl.py:67-77 DDL, string-typed lt/utc per :129-130).
WEATHER_SCHEMA = T.StructType(
    [
        T.StructField("city", T.StringType()),
        T.StructField("temperature", T.FloatType()),
        T.StructField("weather", T.StringType()),
        T.StructField("humidity", T.IntegerType()),
        T.StructField("pressure", T.IntegerType()),
        T.StructField("wind_speed", T.FloatType()),
        T.StructField("lt", T.StringType()),   # local time string (:129)
        T.StructField("utc", T.StringType()),  # UTC time string (:130)
    ]
)

# --- Testdata schemas (TESTDATA.md) ---------------------------------------
# io.load_table reads every testdata table under these schemas, so building
# a plan runs no inference job; each must equal what Spark infers from the
# files (tests/test_plan_shapes.py checks all scale dirs). The TPC-H dates
# are TIMESTAMP_NTZ: the files store naive microsecond timestamps
# (isAdjustedToUTC=false). events.ts is typed per file from its footer
# (io.events_read_schema); the entry here is its normalized type.

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

EMBEDDING_DIM = 64
