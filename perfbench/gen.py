"""Seeded input generators. Every input a workload feeds the engine comes
from here, so the same seed gives the same inputs; nothing here touches
Spark."""

from __future__ import annotations

import datetime as dt
import io
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- weather_etl: OpenWeatherMap-shaped observations ----------------------

# UTC offsets in seconds: whole hours both sides of UTC, plus the
# non-hour zones (+5:30, +5:45, -3:30, +9:30) that pin the fixed-offset
# shift of the reference transform.
TZ_OFFSETS = (0, 3600, 7200, -18000, -28800, 19800, 20700, -12600, 34200, 32400, -36000, 50400)
DESCRIPTIONS = (("clear sky", "Clear"), ("haze", "Haze"), ("mist", "Mist"),
                ("light rain", "Rain"), ("overcast clouds", "Clouds"), ("snow", "Snow"))
BASE_DT = 1696752000  # 2023-10-08 08:00:00 UTC
# The reference polls every 2 minutes (airflow/dags/weather_etl.py:29);
# OpenWeather updates a location's current weather at most once every 10
# minutes (openweathermap.org/appid). So a city's observation, and its
# ``dt``, changes on one poll in five; the other four polls re-deliver the
# observation already stored, which the upsert's natural-key anti-join
# must drop.
POLL_S = 120
UPDATE_S = 600


def owm_time(epoch: int) -> str:
    """The reference's rendering of an epoch as a UTC wall-clock string."""
    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


class ObservationFeed:
    """Polls of many cities, one batch per poll of every city. Each city's
    ``dt`` steps by UPDATE_S on one poll in UPDATE_S // POLL_S, at a phase
    drawn from the seed and spread evenly over the cities, so after the
    first poll the same share of every batch is new and the rest
    re-delivers each city's latest observation. ``expected`` maps every
    delivered natural key ``(city, utc)`` to its flat sink row."""

    def __init__(self, seed: int, prefix: str, n_cities: int):
        self.rng = np.random.default_rng(seed)
        self.cities = [f"{prefix}-{i:03d}" for i in range(n_cities)]
        self.tz = self.rng.choice(TZ_OFFSETS, size=n_cities)
        self.next_dt = BASE_DT + UPDATE_S * self.rng.integers(0, 6 * 24 * 365, size=n_cities)
        self.phase = self.rng.permutation(n_cities) % (UPDATE_S // POLL_S)
        self.latest: list[dict | None] = [None] * n_cities
        self.polls = 0
        self.expected: dict[tuple[str, str], tuple] = {}

    def _observe(self, c: int) -> dict:
        rng = self.rng
        epoch = int(self.next_dt[c])
        self.next_dt[c] += UPDATE_S
        desc, main = DESCRIPTIONS[int(rng.integers(len(DESCRIPTIONS)))]
        return {
            "name": self.cities[c],
            "dt": epoch,
            "timezone": int(self.tz[c]),
            "main": {"temp": round(float(rng.uniform(-20, 40)), 2),
                     "humidity": int(rng.integers(5, 100)),
                     "pressure": int(rng.integers(960, 1050))},
            "weather": [{"description": desc, "main": main}],
            "wind": {"speed": round(float(rng.uniform(0, 30)), 2)},
        }

    def batch(self) -> tuple[list[dict], int]:
        """One poll of every city and the number of natural keys in it
        never seen before."""
        period = UPDATE_S // POLL_S
        for c in range(len(self.cities)):
            if self.latest[c] is None or (self.polls + self.phase[c]) % period == 0:
                self.latest[c] = self._observe(c)
        self.polls += 1
        out = list(self.latest)
        fresh = 0
        for rec in out:
            key = (rec["name"], owm_time(rec["dt"]))
            if key not in self.expected:
                fresh += 1
                self.expected[key] = flat_row(rec)
        return out, fresh


def flat_row(rec: dict) -> tuple:
    """The sink row the reference transform makes of one observation, in
    sink column order."""
    return (rec["name"], rec["main"]["temp"], rec["weather"][0]["description"],
            rec["main"]["humidity"], rec["main"]["pressure"], rec["wind"]["speed"],
            owm_time(rec["dt"] + rec["timezone"]), owm_time(rec["dt"]))


SINK_ARROW_SCHEMA = pa.schema([("city", pa.string()), ("temperature", pa.float32()),
                               ("weather", pa.string()), ("humidity", pa.int32()),
                               ("pressure", pa.int32()), ("wind_speed", pa.float32()),
                               ("lt", pa.string()), ("utc", pa.string())])


def plain_parquet_bytes(rows: list[tuple], schema: pa.Schema) -> int:
    """Size of ``rows`` written once as one snappy parquet file: the
    denominator of storage amplification."""
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.tell()


# --- analytic_mix: TPC-H-shaped star schema plus events/documents/vectors --

SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
WORDS = ("join hash row batch scan column customer filter small slow merge order vector line "
         "table data agg value key stream window a spark part group big sort query fast the").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("de", 0.14), ("fr", 0.15), ("es", 0.15))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(int) + 1, size=n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def write_analytic_tables(seed: int, out_dir: str, scale: float = 0.01) -> dict[str, int]:
    """Write the ten tables the registered queries read, shaped like the
    engine's test data (same columns, types and value domains), at
    ``scale`` (0.01 gives 60k lineitem rows). Returns row counts."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in dict(
        customer=150_000, supplier=10_000, part=200_000, orders=1_500_000,
        lineitem=6_000_000, events=1_000_000, documents=50_000, embeddings=50_000).items()}
    tables: dict[str, dict] = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
    }
    c = n["customer"]
    tables["customer"] = {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, size=c, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, size=c)}
    s = n["supplier"]
    tables["supplier"] = {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, size=s, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)}
    p = n["part"]
    tables["part"] = {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, size=p), rng.choice(NOUN, size=p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=p)],
        "p_type": rng.choice(PART_TYPES, size=p),
        "p_size": rng.integers(1, 51, size=p, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2)}
    o = n["orders"]
    tables["orders"] = {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, size=o, dtype=np.int64),
        "o_orderstatus": rng.choice(("O", "P", "F"), size=o),
        "o_totalprice": _money(rng, 1000, 500_000, o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": rng.choice(PRIORITIES, size=o)}
    li = n["lineitem"]
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, o, size=li, dtype=np.int64),
        "l_partkey": rng.integers(0, p, size=li, dtype=np.int64),
        "l_suppkey": rng.integers(0, s, size=li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, size=li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, size=li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, li),
        "l_discount": rng.integers(0, 11, size=li) / 100,
        "l_tax": rng.integers(0, 9, size=li) / 100,
        "l_returnflag": rng.choice(("A", "N", "R"), size=li),
        "l_linestatus": rng.choice(("O", "F"), size=li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li)}
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    tables["events"] = {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, span_us, size=e)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(2, e // 66), size=e, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=e),
        "value": np.round(rng.exponential(60, size=e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=e)]}
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 10 and rng.random() < 0.01:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, size=int(rng.integers(10, 100)))))
    langs, weights = zip(*LANGS)
    tables["documents"] = {
        "doc_id": np.arange(d, dtype=np.int64), "text": texts,
        "lang": rng.choice(langs, size=d, p=weights),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=m, dtype=np.int32)}

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        table = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in cols.items()})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        counts[name] = table.num_rows
    return counts


# --- lakehouse_rw: versioned-table rows and a seeded op sequence ----------

LAKE_COLUMNS = ("k", "g", "x", "s", "d")
LAKE_DDL = "k long, g int, x double, s string, d int"
LAKE_ARROW_SCHEMA = pa.schema([("k", pa.int64()), ("g", pa.int32()), ("x", pa.float64()),
                               ("s", pa.string()), ("d", pa.int32())])


def row_checksum(row: tuple) -> int:
    """Order-insensitive row digest; the Spark side computes the same
    ``crc32(concat_ws('|', k, g, x, s, d))``. ``x`` is always a multiple of
    0.25 below 1e6, so Python's ``repr`` and Spark's double-to-string agree."""
    k, g, x, s, d = row
    return zlib.crc32(f"{k}|{g}|{x!r}|{s}|{d}".encode())


class LakeModel:
    """Plain-Python model of the versioned table: key -> row, plus a
    running (row count, checksum sum) per day so any read's expected
    digest costs O(days read)."""

    def __init__(self):
        self.rows: dict[int, tuple] = {}
        self.days: dict[int, list[int]] = {}

    def _put(self, row: tuple, sign: int) -> None:
        acc = self.days.setdefault(row[4], [0, 0])
        acc[0] += sign
        acc[1] += sign * row_checksum(row)

    def apply(self, op: dict) -> None:
        kind = op["kind"]
        if kind in ("append", "merge"):
            gone = [self.rows[r[0]] for r in op["rows"] if r[0] in self.rows]
            new = op["rows"]
        elif kind in ("delete_keys", "delete_keys_mor"):
            gone = [self.rows[k] for k in op["keys"] if k in self.rows]
            new = []
        elif kind == "delete_where_mor":
            lo, hi = op["range"]
            gone = [r for k, r in self.rows.items() if lo <= k < hi]
            new = []
        else:
            return
        for r in gone:
            del self.rows[r[0]]
            self._put(r, -1)
        for r in new:
            self.rows[r[0]] = r
            self._put(r, 1)

    def digest(self, days: tuple[int, int] | None = None) -> tuple[int, int]:
        if days is None:
            accs = self.days.values()
        else:
            accs = [self.days[d] for d in range(*days) if d in self.days]
        return sum(a[0] for a in accs), sum(a[1] for a in accs)


# One round of the op mix, in a fixed order so that every run of any
# length sees the same mix at the same positions; the seed draws each op's
# keys, rows and ranges. The mix is assumed, not taken from a measured
# trace: each write kind once (appends twice), about one read per write,
# and op sizes small enough that a whole round runs in a few seconds.
LAKE_ROUND = ("append", "read_where", "merge", "read", "delete_keys_mor", "read_where",
              "append", "read_version", "delete_where_mor", "read_where", "delete_keys", "read")


class LakeOps:
    """Seed rows plus an endless op stream over a versioned table.
    Op parameters are drawn against a simulated model, so deletes and
    updates hit live keys, and every read carries its expected
    ``(rows, checksum)``. ``history[i]`` is the digest after the i-th
    write (0 = the seed commit), which time-travel reads address."""

    WRITES = ("append", "merge", "delete_keys", "delete_keys_mor", "delete_where_mor")

    def __init__(self, seed: int, seed_rows: int = 20_000, append_rows: int = 400, day_rows: int = 400):
        self.rng = np.random.default_rng(seed)
        self.day_rows = day_rows
        self.append_rows = append_rows
        self.next_key = 0
        self.model = LakeModel()
        self.seed_rows = self._new_rows(seed_rows)
        self.model.apply({"kind": "append", "rows": self.seed_rows})
        self.history = [self.model.digest()]
        self._n = 0

    def _row(self, k: int) -> tuple:
        r = self.rng
        return (k, int(r.integers(0, 50)), int(r.integers(0, 4_000_000)) / 4,
                f"s{int(r.integers(0, 10**9)):09d}", k // self.day_rows)

    def _new_rows(self, n: int) -> list[tuple]:
        rows = [self._row(k) for k in range(self.next_key, self.next_key + n)]
        self.next_key += n
        return rows

    def _live(self, n: int) -> list[int]:
        keys = list(self.model.rows)
        return sorted(int(k) for k in self.rng.choice(keys, size=min(n, len(keys)), replace=False))

    def next(self) -> dict:
        kind = LAKE_ROUND[self._n % len(LAKE_ROUND)]
        self._n += 1
        r = self.rng
        if kind == "append":
            op = {"rows": self._new_rows(self.append_rows)}
        elif kind == "merge":
            op = {"rows": [self._row(k) for k in self._live(150)] + self._new_rows(50)}
        elif kind in ("delete_keys", "delete_keys_mor"):
            op = {"keys": self._live(40)}
        elif kind == "delete_where_mor":
            lo = int(r.integers(0, self.next_key - 40))
            op = {"range": (lo, lo + 40)}
        elif kind == "read_where":
            lo = int(r.integers(0, (self.next_key - 1) // self.day_rows + 1))
            op = {"days": (lo, lo + 2), "expect": self.model.digest((lo, lo + 2))}
        elif kind == "read":
            op = {"expect": self.model.digest()}
        else:  # read_version
            i = int(r.integers(0, len(self.history)))
            op = {"write_index": i, "expect": self.history[i]}
        op["kind"] = kind
        if kind in self.WRITES:
            self.model.apply(op)
            self.history.append(self.model.digest())
        return op
