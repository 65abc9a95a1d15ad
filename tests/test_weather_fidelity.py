"""Reference-fidelity tests (SURVEY.md §5.2-5.3): golden transform output,
upsert idempotence, late/duplicate-arrival invariance, and the full
micro-batch stream cycle."""

from __future__ import annotations

import os

import pytest

from weather_etl_docker_airflow_project_spark.fixtures import (
    CANNED_WEATHER,
    EXPECTED_WEATHER_ROWS,
)
from weather_etl_docker_airflow_project_spark.functions.weather import transform_weather
from weather_etl_docker_airflow_project_spark.operators.upsert import upsert_parquet
from weather_etl_docker_airflow_project_spark.sources.rest import (
    ExtractError,
    build_owm_url,
    records_to_df,
)
from weather_etl_docker_airflow_project_spark.streaming.pipeline import (
    DEDUP_KEYS,
    land_records,
    run_cycle,
    start_stream,
)


def _approx_row(row):
    return (row[0], round(row[1], 2), row[2], row[3], row[4], round(row[5], 2), row[6], row[7])


def test_golden_transform(spark):
    """One canned record -> exactly the 8-field row the reference would
    produce, including string lt/utc (weather_etl.py:119-131)."""
    flat = transform_weather(records_to_df(spark, CANNED_WEATHER))
    assert flat.columns == ["city", "temperature", "weather", "humidity", "pressure", "wind_speed", "lt", "utc"]
    got = sorted((_approx_row(tuple(r)) for r in flat.collect()))
    expected = sorted(_approx_row(r) for r in EXPECTED_WEATHER_ROWS)
    assert got == expected


def test_upsert_idempotence(spark, tmp_path):
    """load . load == load (reference dedup, weather_etl.py:158-187)."""
    sink = str(tmp_path / "weather_sink")
    fetch = lambda: CANNED_WEATHER  # noqa: E731
    n1 = run_cycle(spark, fetch, sink)
    assert n1 == 3
    n2 = run_cycle(spark, fetch, sink)
    assert n2 == 0
    assert spark.read.parquet(sink).count() == 3


def test_upsert_intra_batch_duplicates(spark, tmp_path):
    """A batch containing the same (city, utc) twice inserts once — the
    batch generalization of the reference's serial-schedule assumption."""
    sink = str(tmp_path / "weather_sink2")
    doubled = CANNED_WEATHER + [dict(CANNED_WEATHER[0])]
    n = run_cycle(spark, lambda: doubled, sink)
    assert n == 3
    assert spark.read.parquet(sink).count() == 3


def test_upsert_late_arrival_new_observation(spark, tmp_path):
    """A genuinely new observation time for a known city IS inserted."""
    sink = str(tmp_path / "weather_sink3")
    run_cycle(spark, lambda: CANNED_WEATHER, sink)
    newer = dict(CANNED_WEATHER[0])
    newer["dt"] = CANNED_WEATHER[0]["dt"] + 7200
    n = run_cycle(spark, lambda: [newer], sink)
    assert n == 1
    sunk = spark.read.parquet(sink)
    assert sunk.count() == 4
    assert sunk.dropDuplicates(DEDUP_KEYS).count() == 4


def test_stream_cycle_available_now(spark, tmp_path):
    """T1/T2/T3: land raw JSON, drain the file stream with availableNow,
    and exactly one copy per (city, utc) reaches the sink — even when the
    same observations are landed again in a second file."""
    landing = str(tmp_path / "landing")
    sink = str(tmp_path / "stream_sink")
    ckpt = str(tmp_path / "ckpt")
    land_records(lambda: CANNED_WEATHER, landing)
    q = start_stream(spark, landing, sink, ckpt, available_now=True)
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 3

    # redelivered data in a NEW file (new offset): picked up, deduped away
    land_records(lambda: CANNED_WEATHER, landing)
    q2 = start_stream(spark, landing, sink, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 3


def test_load_error_swallow_parity(spark, tmp_path):
    """Reference parity: the load task swallows sink errors (log-only
    except, weather_etl.py:190-191) so a failed load doesn't fail the run;
    strict mode (our default) propagates instead."""
    not_a_dir = tmp_path / "file_in_the_way"
    not_a_dir.write_text("occupied")
    sink = str(not_a_dir / "weather")  # parent is a file -> write fails
    assert run_cycle(spark, lambda: CANNED_WEATHER, sink, strict_load=False) == 0
    with pytest.raises(Exception):
        run_cycle(spark, lambda: CANNED_WEATHER, sink, strict_load=True)


def test_extract_fail_fast():
    """Missing config raises (weather_etl.py:98-99 fail-fast guard)."""
    with pytest.raises(ExtractError):
        build_owm_url("", "Tunis", "fr", "metric")
    url = build_owm_url("KEY", "Marseille", "fr", "metric")
    # exact reference URL shape (weather_etl.py:103)
    assert url == (
        "http://api.openweathermap.org/data/2.5/weather"
        "?q=Marseille&lang=fr&appid=KEY&units=metric"
    )


def test_records_to_df_type_contract(spark):
    """JSON-integral numbers load into double fields, a fractional value
    bound for an int field raises instead of truncating, and missing keys
    load as NULL with an empty ``weather`` list."""
    rec = dict(CANNED_WEATHER[0], main={"temp": 20, "humidity": 55, "pressure": 1015}, wind={"speed": 3})
    got = records_to_df(spark, [rec, {"name": "Nowhere"}]).collect()
    assert (got[0].main.temp, got[0].wind.speed) == (20.0, 3.0)
    assert isinstance(got[0].main.temp, float) and got[0].main.humidity == 55
    assert got[1].dt is None and got[1].main.temp is None and got[1].wind.speed is None
    assert got[1].weather == []
    with pytest.raises(TypeError, match="humidity"):
        records_to_df(spark, [dict(rec, main={"temp": 20.5, "humidity": 55.5, "pressure": 1015})])


def test_upsert_self_heals_torn_empty_sink_dir(spark, tmp_path):
    """A sink directory that exists but holds no readable parquet (killed
    first write) must be treated as fresh, not wedge every later upsert."""
    import os

    from weather_etl_docker_airflow_project_spark.operators.upsert import (
        upsert_parquet,
    )

    sink = str(tmp_path / "sink")
    os.makedirs(os.path.join(sink, "_temporary"))  # torn first attempt
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert upsert_parquet(spark, df, sink, ["k"]) == 2
    assert upsert_parquet(spark, df, sink, ["k"]) == 0  # idempotent after heal

    # A killed call's staging dir: written, never moved into the sink. It
    # holds a live key (3) and a stale copy of a stored one (2); neither
    # may reach readers or the next call's key read.
    killed = os.path.join(sink, "_upsert-" + "0" * 32)
    spark.createDataFrame([(2, "stale"), (3, "c")], "k long, v string").write.parquet(killed)
    assert sorted(map(tuple, spark.read.parquet(sink).collect())) == [(1, "a"), (2, "b")]
    more = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    assert upsert_parquet(spark, more, sink, ["k"]) == 1
    assert sorted(map(tuple, spark.read.parquet(sink).collect())) == [(1, "a"), (2, "b"), (3, "c")]


def _sink_parquet_files(sink: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(root, f), sink)
        for root, _, files in os.walk(sink)
        for f in files
        if f.endswith(".parquet")
    )


def test_upsert_file_contract(spark, tmp_path):
    """Every upsert that appends rows adds exactly one file for a small
    batch, and an all-duplicate batch adds none: no empty part file and
    no leftover staging directory (nor a sink, on a zero-row first call)."""
    rows = [(f"City{i % 50}", f"2026-01-01 {i // 50:02d}:00:00", float(i)) for i in range(400)]
    schema = "city string, utc string, temperature double"
    sink = str(tmp_path / "sink")
    first = spark.createDataFrame(rows[:200], schema)
    assert upsert_parquet(spark, first.limit(0), sink, DEDUP_KEYS) == 0
    assert not os.path.exists(sink)
    assert upsert_parquet(spark, first, sink, DEDUP_KEYS) == 200
    before = _sink_parquet_files(sink)

    assert upsert_parquet(spark, first, sink, DEDUP_KEYS) == 0
    assert _sink_parquet_files(sink) == before
    assert [n for n in os.listdir(sink) if n.startswith("_upsert-")] == []

    second = spark.createDataFrame(rows[100:300], schema)  # 100 stored, 100 new
    assert upsert_parquet(spark, second, sink, DEDUP_KEYS) == 100
    added = sorted(set(_sink_parquet_files(sink)) - set(before))
    assert len(added) == 1 and os.sep not in added[0], added
    assert spark.read.parquet(sink).count() == 300
