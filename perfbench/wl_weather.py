"""weather_etl: the reference's own extract -> flatten -> insert-if-absent
job, scaled up. Each op is one ``run_cycle`` of a seeded poll of every
city (four in five observations re-delivered, see ``gen.ObservationFeed``)
into a sink that is fresh per run and grows across it; each round of
ROUND ops ends with a stream tick that lands batch files and drains them
with an ``availableNow`` file stream into a second sink. Runs end on a
round boundary, so every run sees the same mix.

Layers exercised: ``sources.rest``, ``functions.weather``,
``operators.upsert``, ``streaming.pipeline``. Bypassed: ``plans``,
``operators.versioned``.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import gen
from common import Op, dir_bytes, parquet_files, percentile

N_CITIES = 200        # cities polled per ETL cycle (an assumed scale: the reference polls one)
N_STATIONS = 100      # stations polled per landed stream file
ROUND = 4             # ops per round of the mix: ROUND - 1 cycles, then a stream tick
STREAM_FILES = 2      # batch files landed per tick, one micro-batch each
WARM_CYCLES = 2       # cycles run into the sink during set-up
POOL = 30             # cycles generated for the timed loop (more than a run uses)


class Workload:
    name = "weather_etl"

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tr = tracer

    def setup(self, spark, work: str) -> None:
        from weather_etl_docker_airflow_project_spark.streaming import pipeline

        self.spark, self.pipeline = spark, pipeline
        feed = gen.ObservationFeed(self.seed, "City", N_CITIES)
        self.cycles = [feed.batch() for _ in range(WARM_CYCLES + POOL)]
        stream_feed = gen.ObservationFeed(self.seed + 1, "Station", N_STATIONS)
        self.ticks = [[stream_feed.batch()[0] for _ in range(STREAM_FILES)]
                      for _ in range(1 + POOL // (ROUND - 1))]
        self.sink = os.path.join(work, "sink")
        self.stream_root = os.path.join(work, "stream")
        self.cycles_done = self.ticks_done = 0
        self.owner: dict[tuple[str, int], Op] = {}  # ("cycle" | "tick", index) -> timed op
        self.rows_in = self.rows_visible = 0  # observations delivered; rows made visible
        self.stream_progress: list[dict] = []  # durationMs of each micro-batch with input
        # Warm up on the run's own sinks: the first polls (every city new)
        # and the first stream tick, so every timed op meets the steady
        # share of re-delivered observations and a resumed stream.
        for batch, fresh in self.cycles[:WARM_CYCLES]:
            err = self._appended(self._run_cycle(batch), fresh)
            if err:
                raise RuntimeError(f"warm-up {err}")
        err = self._ticked(self._run_tick(self.ticks[0]))
        if err:
            raise RuntimeError(f"warm-up {err}")
        self.rows_in = self.rows_visible = 0
        self.stream_progress.clear()

    def _run_tick(self, files: list[list[dict]]) -> list[dict]:
        """Land ``files`` then drain them; returns the micro-batches' phases."""
        root = self.stream_root
        for f in files:
            self.pipeline.land_records(lambda f=f: f, os.path.join(root, "landing"))
        with self.tr.span("stream.run"):
            with self.tr.span("stream.start"):
                q = self.pipeline.start_stream(
                    self.spark, os.path.join(root, "landing"), os.path.join(root, "sink"),
                    os.path.join(root, "checkpoint"), available_now=True, max_files_per_trigger=1)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        self.ticks_done += 1
        self.rows_in += sum(map(len, files))
        return [dict(p.durationMs) for p in q.recentProgress if p.numInputRows > 0]

    def _run_cycle(self, batch):
        n = self.pipeline.run_cycle(self.spark, lambda: batch, self.sink)
        self.cycles_done += 1
        self.rows_in += len(batch)
        return n

    def ops(self):
        for r in range(len(self.ticks) - 1):
            for i in range(WARM_CYCLES + r * (ROUND - 1), WARM_CYCLES + (r + 1) * (ROUND - 1)):
                batch, fresh = self.cycles[i]
                op = self.owner["cycle", i] = Op(
                    "write", "cycle", lambda b=batch: self._run_cycle(b),
                    lambda n, f=fresh: self._appended(n, f), boundary=False)
                yield op
            files = self.ticks[r + 1]
            op = self.owner["tick", r + 1] = Op(
                "write", "stream_tick", lambda f=files: self._run_tick(f), self._ticked)
            yield op

    def _ticked(self, phases: list[dict]) -> str | None:
        if len(phases) != STREAM_FILES:
            return f"stream tick ran {len(phases)} micro-batches for {STREAM_FILES} files"
        self.stream_progress += phases
        return None

    def _appended(self, n: int, fresh: int) -> str | None:
        if n != fresh:
            return f"cycle appended {n} rows, expected {fresh} new keys"
        self.rows_visible += n
        return None

    def finish(self) -> list[tuple[Op | None, str]]:
        """Both sinks against the generator, untimed. A wrong key is blamed
        on the op that first delivered it."""
        sink = self._keyed("cycle", [b for b, _ in self.cycles[:self.cycles_done]])
        self.live_rows = [row for row, _ in sink.values()]
        errors = _check_sink(self.spark, self.sink, sink, "sink")
        stream = self._keyed("tick", [[r for f in t for r in f] for t in self.ticks[:self.ticks_done]])
        errors += _check_sink(self.spark, os.path.join(self.stream_root, "sink"), stream, "stream sink")
        self.rows_visible += sum(op is not None for _, op in stream.values())
        return errors

    def _keyed(self, kind: str, batches: list[list[dict]]) -> dict:
        """Natural key -> (expected sink row, the timed op that first
        delivered it, None for set-up) over every delivered observation."""
        out = {}
        for i, batch in enumerate(batches):
            for rec in batch:
                out.setdefault((rec["name"], gen.owm_time(rec["dt"])),
                               (gen.flat_row(rec), self.owner.get((kind, i))))
        return out

    def report(self) -> dict:
        amp = dir_bytes(self.sink) / gen.plain_parquet_bytes(self.live_rows, gen.SINK_ARROW_SCHEMA)
        return {"stream_batch_p50_ms": (percentile([p["triggerExecution"] for p in self.stream_progress], 50), "ms"),
                "storage_amplification": (amp, "ratio"),
                "sink_parquet_files": (len(parquet_files(self.sink)), "count")}


def _check_sink(spark, path: str, expected: dict, label: str) -> list[tuple[Op | None, str]]:
    """The sink's every (city, utc) -> lt against ``expected``: no key
    missing, extra or duplicated, and every lt string equal to Python's
    rendering."""
    got: dict[tuple[str, str], str] = {}
    dups = set()
    for r in spark.read.parquet(path).select("city", "utc", "lt").collect():
        key = (r.city, r.utc)
        if key in got:
            dups.add(key)
        got[key] = r.lt
    errors = []
    for key, (row, op) in expected.items():
        if key in dups or got.get(key) != row[6]:
            state = "duplicated" if key in dups else f"lt={got.get(key)!r}"
            errors.append((op, f"{label}: {key} {state}, expected lt={row[6]!r}"))
    errors += [(None, f"{label}: unexpected key {key}") for key in sorted(got.keys() - expected.keys())]
    return errors


@contextmanager
def traced_layers(tr):
    """Wrap the library calls ``run_cycle`` and the stream's batch function
    make into the rest, weather and upsert layers in spans, for the
    duration of a traced run."""
    from weather_etl_docker_airflow_project_spark.sources import rest
    from weather_etl_docker_airflow_project_spark.streaming import pipeline

    records_to_df, transform, upsert = rest.records_to_df, pipeline.transform_weather, pipeline.upsert_parquet

    def traced_records_to_df(spark, records):
        with tr.span("rest.records_to_df", rows=len(records)):
            return records_to_df(spark, records)

    def traced_transform(raw):
        with tr.span("weather.transform_weather"):
            return transform(raw)

    def traced_upsert(spark, incoming, path, keys, key_pruning_filter=None):
        with tr.bookkeeping():
            files, nbytes = len(parquet_files(path)), dir_bytes(path)
        with tr.span("upsert.upsert_parquet", sink_files=files) as s:
            n = upsert(spark, incoming, path, keys, key_pruning_filter)
        with tr.bookkeeping():
            s.attrs.update(appended=n, files_written=len(parquet_files(path)) - files,
                           bytes_written=dir_bytes(path) - nbytes)
        return n

    rest.records_to_df = traced_records_to_df
    pipeline.transform_weather, pipeline.upsert_parquet = traced_transform, traced_upsert
    try:
        yield
    finally:
        rest.records_to_df = records_to_df
        pipeline.transform_weather, pipeline.upsert_parquet = transform, upsert
