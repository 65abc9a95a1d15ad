"""lakehouse_rw: one versioned table, seeded from generated rows, then a
fixed mix of seeded writes (appends, merges, copy-on-write and merge-on-read
key deletes, position-deletion-vector predicate deletes) and reads
(selective ``read_where`` range reads, full snapshots, time travel), with
``compact_incremental`` every COMPACT_EVERY writes. The log grows over
the run, which ends on a round boundary (after a compaction), so every
run sees the same mix. Every read computes a row count and an order-insensitive
checksum of every column, which is compared with a plain-Python model.

Layer exercised: ``operators.versioned`` (manifest, commit chain,
deletion-vector read paths). Bypassed: ``operators.upsert``,
``streaming.pipeline``.
"""

from __future__ import annotations

import os
import shutil

import gen
from common import Op, dir_bytes, parquet_files, walk_files

POOL = 72           # ops generated up front (more than a run uses)
COMPACT_EVERY = 6   # writes between compactions: one per round of the mix
N_BUCKETS = 8


class Workload:
    name = "lakehouse_rw"

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tr = tracer
        self.rows_visible = 0
        self.write_log: list[tuple[str, int, int, int]] = []  # (op, files, bytes, user bytes)
        self.prune: list[tuple[int, int]] = []

    def setup(self, spark, work: str) -> None:
        from weather_etl_docker_airflow_project_spark.operators import versioned

        self.spark, self.V = spark, versioned
        self.gen = gen.LakeOps(self.seed)
        self.plan = [self.gen.next() for _ in range(POOL)]
        warm = gen.LakeOps(self.seed + 1, seed_rows=2_000)
        self._open(os.path.join(work, "warm"), warm.seed_rows)
        todo = set(gen.LAKE_ROUND)
        while todo:
            op = warm.next()
            if op["kind"] in todo:
                todo.discard(op["kind"])
                if op["kind"] == "read_version":
                    op["write_index"] = 0
                self._exec(op)
        self._compact()
        shutil.rmtree(os.path.join(work, "warm"), ignore_errors=True)
        self._open(os.path.join(work, "table"), self.gen.seed_rows)
        self.write_log.clear()
        self.prune.clear()

    def _open(self, path: str, seed_rows: list[tuple]) -> None:
        self.table = self.V.VersionedTable(self.spark, path)
        self.table.set_layout(["k"], N_BUCKETS)
        self.table.set_stats_columns(["k", "d"])
        self.versions = [self.table.commit(self._df(seed_rows))]

    def _df(self, rows):
        return self.spark.createDataFrame(rows, gen.LAKE_DDL)

    def _read(self, op: dict):
        t, kind = self.table, op["kind"]
        with self.tr.span("versioned.read", read=kind) as s:
            if kind == "read_where":
                lo, hi = op["days"]
                df, rep = t.read_where(f"d >= {lo} AND d < {hi}")
                self.prune.append((rep.scanned_dirs, rep.total_dirs))
            elif kind == "read":
                df = t.read()
            else:
                df = t.read(version=self.versions[op["write_index"]])
            out = _digest(df)
            if s is not None:
                s.attrs["rows_out"] = out[0]
        return out

    def _write(self, op: dict) -> int:
        V, t, kind = self.V, self.table, op["kind"]
        if "rows" in op:
            arg = self._df(op["rows"])
        elif "keys" in op:
            arg = self.spark.createDataFrame([(k,) for k in op["keys"]], "k long")
        with self.tr.span(f"versioned.{kind}"):
            if kind == "append":
                return t.commit(arg)
            if kind == "merge":
                return V.merge_upsert(t, arg, ["k"])
            if kind in ("delete_keys", "delete_keys_mor"):
                return V.delete_by_keys(t, arg, ["k"], merge_on_read=kind == "delete_keys_mor")
            lo, hi = op["range"]
            return V.delete_where(t, f"k >= {lo} AND k < {hi}", merge_on_read=True)

    def _compact(self):
        with self.tr.span("versioned.compact"):
            return self.V.compact_incremental(self.table)

    def _exec(self, op: dict):
        return self._read(op) if op["kind"].startswith("read") else self._write(op)

    def _logged_write(self, op: dict | None):
        """Run a write; when traced, log the files and bytes it added."""
        if not self.tr.enabled:
            return self._write(op) if op else self._compact()
        with self.tr.bookkeeping():
            before = dir_bytes(self.table.dir), len(parquet_files(self.table.dir))
        out = self._write(op) if op else self._compact()
        with self.tr.bookkeeping():
            user = gen.plain_parquet_bytes(op["rows"], gen.LAKE_ARROW_SCHEMA) if op and "rows" in op else 0
            self.write_log.append((op["kind"] if op else "compact",
                                   len(parquet_files(self.table.dir)) - before[1],
                                   dir_bytes(self.table.dir) - before[0], user))
        return out

    def ops(self):
        writes = 0
        for op in self.plan:
            if op["kind"].startswith("read"):
                yield Op("read", op["kind"], lambda o=op: self._read(o),
                         lambda got, o=op: None if got == o["expect"]
                         else f"{o['kind']} read {got}, model says {o['expect']}", boundary=False)
                continue
            yield Op("write", op["kind"], lambda o=op: self._logged_write(o),
                     lambda v, o=op: self._written(v, o), boundary=False)
            writes += 1
            if writes % COMPACT_EVERY == 0:
                yield Op("write", "compact", lambda: self._logged_write(None),
                         lambda rep: None if rep.files_after <= rep.files_before
                         else f"compaction grew files {rep.files_before} -> {rep.files_after}",
                         boundary=True)

    def _written(self, version, op: dict) -> str | None:
        if version is None or version < self.versions[-1]:
            return f"{op['kind']} published version {version} after {self.versions[-1]}"
        self.versions.append(version)
        self.rows_visible += len(op.get("rows", ()))
        return None

    def finish(self) -> list[tuple[Op | None, str]]:
        """The final snapshot against the model; no single op is to blame."""
        got = _digest(self.table.read())
        self.live_rows = list(self._live_rows())
        want = (len(self.live_rows), sum(gen.row_checksum(r) for r in self.live_rows))
        return [] if got == want else [(None, f"final snapshot {got}, model says {want}")]

    def _live_rows(self):
        """Live rows after the writes that ran, replayed on a fresh model."""
        model = gen.LakeModel()
        model.apply({"kind": "append", "rows": self.gen.seed_rows})
        done = len(self.versions) - 1
        for op in self.plan:
            if done == 0:
                break
            if op["kind"] in gen.LakeOps.WRITES:
                model.apply(op)
                done -= 1
        return model.rows.values()

    def report(self) -> dict:
        amp = dir_bytes(self.table.dir) / gen.plain_parquet_bytes(self.live_rows, gen.LAKE_ARROW_SCHEMA)
        return {"storage_amplification": (amp, "ratio")}

    def log_files(self) -> tuple[int, int]:
        files = list(walk_files(os.path.join(self.table.dir, "_versions")))
        return len(files), sum(os.path.getsize(f) for f in files)


def _digest(df) -> tuple[int, int]:
    """(rows, checksum) of a snapshot, touching every column."""
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)),
                 F.sum(F.crc32(F.concat_ws("|", *gen.LAKE_COLUMNS).cast("binary")))).first()
    return int(row[0]), int(row[1] or 0)
