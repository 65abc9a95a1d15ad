"""REST/JSON source (SURVEY.md §2.1 S1/S2).

The reference does one HTTP GET per run against OpenWeatherMap, fails fast
on HTTP errors, and parses the body as nested JSON
(``airflow/dags/weather_etl.py:90-110``: GET at :103, raise_for_status at
:104, json() at :105). Natively: the fetch stays a *driver-side* call (one
tiny record per tick — shipping it to executors would be pure overhead),
and the records immediately become a DataFrame with an explicit schema so
everything downstream is JVM-side.

Driver records reach the JVM as one Arrow table in one partition
(:func:`records_to_df`). ``spark.createDataFrame(list_of_dicts, schema)``
would instead ``parallelize`` the pickled rows and run a Python worker in
every partition before the first real stage — the largest single cost of
a weather cycle — and the single partition lets the upsert's in-batch
dedup run without a shuffle.

At scale this generalizes: many endpoints/cities per tick -> parallelize
the fetch list with ``spark.createDataFrame(urls).mapInPandas(fetch)`` so
executors fetch concurrently (:func:`fetch_many`); the driver-record path
is the reference-fidelity case.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import WEATHER_RAW_SCHEMA

_WEATHER_RAW_ARROW = pa.struct(list(to_arrow_schema(WEATHER_RAW_SCHEMA)))


class ExtractError(RuntimeError):
    """Fail-fast extract failure (reference AirflowFailException analogue,
    weather_etl.py:99,110)."""


def build_owm_url(api_key: str, city: str, lang: str, units: str) -> str:
    """URL construction exactly as the reference does (weather_etl.py:103:
    ``q={city}&lang={lang}&appid={api_key}&units={units}``), with the same
    fail-fast guard over the same four env-sourced values (:93-99)."""
    if not api_key or not city or not lang or not units:
        # fail-fast env validation (weather_etl.py:98-99)
        raise ExtractError("missing api_key/city/lang/units configuration")
    return (
        "http://api.openweathermap.org/data/2.5/weather"
        f"?q={city}&lang={lang}&appid={api_key}&units={units}"
    )


def fetch_from_env() -> list[dict]:
    """Production fetch closure honoring the reference's .env contract
    (README.md:66-72: WEATHER_API_KEY / WEATHER_CITY / WEATHER_LANG /
    WEATHER_UNITS)."""
    import os

    url = build_owm_url(
        os.getenv("WEATHER_API_KEY", ""),
        os.getenv("WEATHER_CITY", ""),
        os.getenv("WEATHER_LANG", ""),
        os.getenv("WEATHER_UNITS", ""),
    )
    return [fetch_json(url)]


def fetch_json(url: str, timeout: float = 10.0) -> dict:
    """One GET, fail-fast on HTTP errors (weather_etl.py:103-105)."""
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            if resp.status >= 400:
                raise ExtractError(f"HTTP {resp.status} from {url}")
            return json.loads(resp.read().decode("utf-8"))
    except (urllib.error.URLError, OSError, ValueError) as exc:
        raise ExtractError(f"extract failed: {exc}") from exc


def project_raw(rec: dict) -> dict:
    """Project an arbitrary OWM-shaped dict onto WEATHER_RAW_SCHEMA's key
    paths: unknown keys dropped, missing keys null (schema-on-read dict
    of weather_etl.py:105 replaced by an explicit contract)."""
    main = rec.get("main") or {}
    wind = rec.get("wind") or {}
    weather = rec.get("weather") or []
    return {
        "name": rec.get("name"),
        "dt": rec.get("dt"),
        "timezone": rec.get("timezone"),
        "main": {
            "temp": main.get("temp"),
            "humidity": main.get("humidity"),
            "pressure": main.get("pressure"),
        },
        "weather": [
            {"description": w.get("description"), "main": w.get("main")} for w in weather
        ],
        "wind": {"speed": wind.get("speed")},
    }


def _arrow_column(values: list, dtype: pa.DataType, path: str) -> pa.Array:
    """``values`` (JSON-decoded, ``None`` for missing) as an arrow array of
    ``dtype``: structs and lists are assembled field by field, and each
    leaf's type is inferred from its values, checked for kind, then cast
    with ``safe=True`` — so an integral ``20`` loads into a double, while
    a fractional ``55.5`` bound for an int, an overflow, a bool in a
    numeric field or a number in a string field raise instead of being
    coerced."""
    if pa.types.is_struct(dtype):
        children = [
            _arrow_column([v.get(f.name) if v else None for v in values], f.type, f"{path}.{f.name}")
            for f in dtype
        ]
        nulls = pa.array([v is None for v in values], pa.bool_())
        return pa.StructArray.from_arrays(children, fields=list(dtype), mask=nulls)
    if pa.types.is_list(dtype):
        offsets, flat = [0], []
        for v in values:
            flat.extend(v or ())
            offsets.append(len(flat))
        items = _arrow_column(flat, dtype.value_type, f"{path}[]")
        nulls = pa.array([v is None for v in values], pa.bool_())
        return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), items, type=dtype, mask=nulls)
    try:
        arr = pa.array(values)
        src = arr.type
        if pa.types.is_string(dtype):
            ok = pa.types.is_string(src)
        else:
            ok = pa.types.is_integer(src) or pa.types.is_floating(src)
        if not (ok or pa.types.is_null(src)):
            raise pa.ArrowTypeError(f"{src} values do not load as {dtype}")
        return arr.cast(dtype, safe=True)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError) as exc:
        raise TypeError(f"records_to_df: field {path}: {exc}") from exc


def records_to_df(spark: SparkSession, records: list[dict]) -> DataFrame:
    """Materialize raw JSON records with the explicit nested schema (S2).

    The projected rows become one ``pyarrow.Table`` (:func:`_arrow_column`)
    handed to ``spark.createDataFrame``, so no Python worker runs; the
    frame is ``coalesce(1)``: driver records are driver-sized by
    definition (:func:`fetch_many` is the executor-parallel path), and one
    partition makes a downstream ``dropDuplicates`` exchange-free.

    Type contract: JSON numbers load into numeric fields losslessly — an
    integral ``"temp": 20`` is ``20.0`` — and a value that would lose
    information (``"humidity": 55.5``) or has the wrong kind (a string
    temperature) raises ``TypeError``. Missing keys load as NULL and a
    missing ``weather`` list as ``[]`` (:func:`project_raw`)."""
    rows = [project_raw(r) for r in records]
    table = pa.Table.from_struct_array(_arrow_column(rows, _WEATHER_RAW_ARROW, "record"))
    return spark.createDataFrame(table, WEATHER_RAW_SCHEMA).coalesce(1)


def fetch_many(
    urls: DataFrame,
    fetch_fn: Callable[[str], dict] = fetch_json,
    url_col: str = "url",
) -> DataFrame:
    """Executor-parallel fan-out: fetch every URL of a (possibly huge) URL
    table from the executors via mapInPandas — the scale path when one
    tick polls thousands of endpoints instead of the reference's one
    (weather_etl.py:103). Each partition's worker fetches its slice;
    repartition the URL table to control concurrency. Failures follow the
    reference's fail-fast extract semantics (the task raises)."""
    import pandas as pd

    def _fetch(batches):
        for pdf in batches:
            yield pd.DataFrame([project_raw(fetch_fn(u)) for u in pdf[url_col]])

    return urls.mapInPandas(_fetch, WEATHER_RAW_SCHEMA)


def extract(
    spark: SparkSession,
    fetch_fn: Callable[[], list[dict]],
) -> DataFrame:
    """S1 extract step: fetch via the injected callable (production: a
    closure over fetch_json+build_owm_url; tests: canned records) and
    return the raw typed DataFrame."""
    return records_to_df(spark, fetch_fn())
