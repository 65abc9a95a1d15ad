"""Streaming SOURCE over a versioned table's commit log — Delta's
``spark.readStream.format("delta")`` in miniature, the read half of the
lakehouse streaming loop whose write half is t20's commit-per-batch sink
(`streaming/windows.stream_versioned_commits`).

Offsets ARE version numbers: micro-batch (start, end] replays exactly the
batch dirs that APPEND commits start+1..end added (manifest set
difference — pure metadata). That makes the source replayable/exactly-
once-capable by construction: data files are immutable and the manifest
is the commit, so ``partitions(start, end)`` re-resolves to byte-
identical files after any crash. Non-append commits (overwrite/merge/
delete rewrites, or a deletion-vector commit changing visible rows
without touching dirs) have no well-defined append delta — the reader
raises unless ``ignoreChanges=true``, which applies Delta's exact
contract: the commit's NEW dirs are still delivered (a rewrite's
carried rows arrive again — consumers must tolerate duplicates, the
documented trade), only the removals are invisible.

Scale shape: the DRIVER does only manifest arithmetic (O(dirs) per
trigger); each added parquet FILE becomes one InputPartition, and
executors stream it through pyarrow as Arrow RecordBatches — no
per-row Python, no driver data movement. Files written before an
additive schema evolution surface NULL for the evolved-in columns
(the same fill the batch reader applies).

Implemented with the Python DataSource streaming API (pyspark 4,
`DataSourceStreamReader` — the partition-planning variant, not
`SimpleDataSourceStreamReader`, precisely so reads stay executor-side).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..operators.versioned import (
    VersionedTable,
    _dir_may_match,
    _feed_schema,
    _parquet_files,
    _source_names,
    read_projected,
)


class _FileSlice(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _open(options, source: str) -> VersionedTable:
    table_dir = options.get("tabledir") or options.get("path")
    if not table_dir:
        raise ValueError(f"{source} needs .option('tableDir', ...)")
    # VersionedTable's manifest accessors are pure path arithmetic — no
    # SparkSession needed on this side
    return VersionedTable(None, table_dir)


def _as_of(table: VersionedTable, options) -> int:
    """The snapshot a batch read resolves to: ``versionAsOf`` /
    ``timestampAsOf`` (epoch seconds), else the latest version."""
    v, ts = options.get("versionasof"), options.get("timestampasof")
    return table._resolve(
        None if v is None else int(v), None if ts is None else float(ts)
    )


class _ArrowSchema:
    """The declared schema as Arrow, derived LAZILY (r16): reader
    ``__init__`` also runs in the long-lived offsets/partitions runner
    process, which never reads data — deferring ``to_arrow_schema``
    keeps pyarrow (~0.2s import) out of that process entirely; executor
    ``read()`` tasks compute it once per unpickled reader instance."""

    @functools.cached_property
    def _arrow_schema(self):
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(self._schema)


class VersionedTableStreamReader(_ArrowSchema, DataSourceStreamReader):
    def __init__(self, schema, options):
        self._table = _open(options, "versioned_table_stream")
        self._start = int(options.get("startingversion", 0))
        self._ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self._per_batch = int(options.get("maxversionsperbatch", 0))
        # round-13 (r12 verdict item 6): pace by FILES, not only commit
        # count — offsets can split one huge commit across micro-batches
        self._per_batch_files = int(options.get("maxfilesperbatch", 0))
        self._pace_dir = options.get("pacestatedir")
        self._last_end: tuple[int, int] | None = None
        self._schema = schema
        # column mapping: files carry PHYSICAL names; the stream's
        # declared schema is logical. Physical ids are stable across
        # renames, so the map captured at plan time reads every commit
        # in the range correctly even if logical names evolved.
        head = self._table.latest_version()
        self._phys = (
            self._table.column_mapping(head) if head is not None else None
        ) or {}

    @staticmethod
    def _off_tuple(offset: dict) -> tuple[int, int]:
        """(version, files): commits <= version are fully delivered,
        PLUS the first ``files`` delta files of the SUCCESSOR commit
        (``files > 0`` = a split commit in flight — stable because file
        enumeration is fully sorted and data dirs are immutable). The
        encoding is chosen so plain tuple order IS delivery order:
        (v, 0) < (v, k) < (v+1, 0)."""
        return (offset["version"], offset.get("files", 0))

    def initialOffset(self) -> dict:
        return {"version": self._start, "files": 0}

    def _succ(self, v: int) -> int | None:
        """The smallest committed version above ``v`` (the split-commit
        identity for a mid-commit offset). Versions are allocated
        contiguously, so v+1 existing answers in one stat — the full
        listing only runs when v+1 was vacuumed from under the
        offset."""
        if os.path.exists(
            os.path.join(self._table._versions, str(v + 1))
        ):
            return v + 1
        later = [c for c in self._table.versions() if c > v]
        return later[0] if later else None

    def _load_pace_floor(self) -> tuple[int, int] | None:
        if self._pace_dir is None:
            return None
        try:
            with open(os.path.join(self._pace_dir, "floor")) as f:
                raw = f.read().strip()
        except FileNotFoundError:
            return None
        try:
            if raw.startswith("{"):
                import json

                d = json.loads(raw)
                return (int(d["version"]), int(d.get("files", 0)))
            return (int(raw), 0)  # pre-r13 floor file: version only
        except (ValueError, KeyError):
            return None

    def _save_pace_floor(self, off: tuple[int, int]) -> None:
        if self._pace_dir is None:
            return
        import json

        os.makedirs(self._pace_dir, exist_ok=True)
        tmp = os.path.join(self._pace_dir, ".floor.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps({"version": off[0], "files": off[1]}))
        os.replace(tmp, os.path.join(self._pace_dir, "floor"))

    def latestOffset(self) -> dict:
        # per-trigger poll: checkpoint-bounded latest resolution keeps
        # this O(commits since the log checkpoint) at any table age —
        # the call that would otherwise list 10^5 manifests per trigger
        # on a year-old 2-minute-cadence table
        head = self._table.latest_version()
        latest = head if head is not None else self._start
        latest = max(latest, self._start)
        paced = self._per_batch > 0 or self._per_batch_files > 0
        if not paced:
            end = (latest, 0)
            self._last_end = max(self._last_end or (0, 0), end)
            return {"version": end[0], "files": end[1]}
        # pacing: advance at most k commits and/or m files per trigger
        # so a drain exercises real multi-batch replay. The floor must
        # SURVIVE a checkpoint restart: a fresh reader pacing from
        # startingVersion would report an offset BELOW the engine's
        # recovered offset, the offset log would step backward, and
        # already-delivered versions would re-deliver under new batch
        # ids (a real duplicate the restart pytest caught — 280 rows
        # from a 240-row table). ``paceStateDir`` (point it inside the
        # query's checkpoint dir) persists the floor across restarts;
        # without it, a paced RESTART is refused in partitions() rather
        # than allowed to duplicate.
        #
        # IDEMPOTENCE (round-13 lesson): the floor advances only when
        # partitions() actually PLANS a batch — the engine may invoke
        # latestOffset more than once per trigger (progress reporting),
        # and a floor ratcheted here would silently merge several pacing
        # steps into one oversized batch.
        floor = self._last_end
        persisted = self._load_pace_floor()
        if persisted is not None:
            floor = max(floor or (0, 0), persisted)
        if floor is None:
            floor = (self._start, 0)
        v_hi = latest
        if self._per_batch > 0:
            # a mid-commit floor's in-flight successor counts as the
            # first budgeted commit, so floor[0] + per_batch bounds both
            # cases uniformly under this offset encoding
            v_hi = min(latest, floor[0] + self._per_batch)
        if self._per_batch_files <= 0:
            end = (v_hi, 0) if (v_hi, 0) > floor else floor
        else:
            deltas = self._delta_slices(floor[0], max(v_hi, floor[0]))
            budget = self._per_batch_files
            end = floor
            prev_done = floor[0]
            first_v = deltas[0][0] if deltas else None
            for v, slices in deltas:
                skip = floor[1] if (floor[1] > 0 and v == first_v) else 0
                avail = len(slices) - skip
                if avail <= budget:
                    budget -= avail
                    end = (v, 0)
                    prev_done = v
                    if budget == 0:
                        break
                else:
                    end = (prev_done, skip + budget)
                    break
            if end < floor:
                end = floor
        return {"version": end[0], "files": end[1]}

    def _delta_dirs(self, v_from: int, v_to: int) -> list[tuple[int, list[str]]]:
        """Per-commit added dirs in ``(v_from, v_to]`` (the shared walk,
        :meth:`VersionedTable._deltas` — O(range), and it refuses a
        vacuumed offset) under the append-stream contract: raises on
        non-append commits (removed dirs or changed deletion vectors)
        unless ``ignoreChanges``."""
        out: list[tuple[int, list[str]]] = []
        for d in self._table._deltas(v_from, v_to):
            if (d.removed or d.vectors_changed) and not self._ignore_changes:
                raise ValueError(
                    f"commit {d.version} at {self._table.dir} is not a pure "
                    "append (dirs removed or deletion vectors "
                    "changed); the streamed delta is undefined — set "
                    ".option('ignoreChanges','true') to skip such "
                    "commits (Delta's contract)"
                )
            # Every commit's NEW dirs are delivered — including a
            # non-append commit under ignoreChanges (Delta's exact
            # contract: a rewrite's carried-forward rows arrive AGAIN,
            # consumers must tolerate duplicates — the documented
            # trade); only the removal itself is invisible to an
            # append stream. A DV commit adds no dirs, so it
            # contributes nothing either way.
            out.append((d.version, d.added))
        return out

    def _delta_slices(
        self, v_from: int, v_to: int
    ) -> list[tuple[int, list[InputPartition]]]:
        """Per-commit InputPartitions (one per parquet FILE, fully
        sorted) — the unit both pacing dials and split-commit offsets
        count in."""
        return [
            (v, [_FileSlice(f) for d in ds for f in _parquet_files(d)])
            for v, ds in self._delta_dirs(v_from, v_to)
        ]

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        s, e = self._off_tuple(start), self._off_tuple(end)
        if e < s:
            # only reachable when a PACED query was restarted without
            # paceStateDir: the fresh floor reported an offset below the
            # engine's recovered one. Refuse loudly — committing the
            # backward offset would re-deliver versions under new batch
            # ids (silent duplicates)
            raise ValueError(
                f"paced offset {e} is behind the recovered "
                f"offset {s} — a restarted paced query "
                "needs .option('paceStateDir', <dir inside the "
                "checkpoint>) so the pacing floor survives restarts "
                "(or drop maxVersionsPerBatch/maxFilesPerBatch)"
            )
        # planned ranges reveal the engine's real offset position — the
        # pacing floor ratchets HERE (a real batch is being planned),
        # never in latestOffset
        self._last_end = max(self._last_end or (0, 0), s, e)
        self._save_pace_floor(self._last_end)
        # a mid-commit endpoint names files of its SUCCESSOR commit
        s_split = self._succ(s[0]) if s[1] > 0 else None
        e_hi = (self._succ(e[0]) or e[0]) if e[1] > 0 else e[0]
        parts: list[InputPartition] = []
        for v, slices in self._delta_slices(s[0], e_hi):
            lo = s[1] if v == s_split else 0
            hi = e[1] if (e[1] > 0 and v == e_hi) else len(slices)
            parts.extend(slices[lo:hi])
        # an empty micro-batch is legal (e.g. every windowed commit was
        # skipped under ignoreChanges) but the API needs >= 1 partition;
        # a sentinel with no path yields zero rows
        return parts or [self._empty_slice()]

    def _empty_slice(self) -> InputPartition:
        return _FileSlice("")

    def read(self, partition: _FileSlice):
        if partition.path:
            names = _source_names(self._arrow_schema.names, self._phys)
            out = read_projected(partition.path, self._arrow_schema, names)
            yield from out.to_batches()

    def commit(self, end: dict) -> None:
        pass


class VersionedTableStreamSource(DataSource):
    """``spark.readStream.format("versioned_table_stream")``. Options:
    ``tableDir`` (required), ``startingVersion`` (default 0 = from the
    beginning; pass the current version to stream only future commits),
    ``ignoreChanges`` (Delta semantics: non-append commits stop raising;
    their new dirs are still delivered — possible duplicates — and
    removals/DV deletes stay invisible),
    ``maxVersionsPerBatch`` (pace a drain into real multi-batch replay),
    ``maxFilesPerBatch`` (round 13: pace by FILES — offsets carry a
    ``files`` cursor so one huge commit SPLITS across micro-batches
    instead of landing whole, Delta's ``maxFilesPerTrigger``; both dials
    compose). A PACED query that must survive checkpoint restarts also
    needs ``paceStateDir`` — a dir inside its checkpoint — so the pacing
    floor persists; without it a paced restart is refused rather than
    allowed to re-deliver.
    The stream's schema is the table's RECORDED manifest schema (the
    ``#schema=`` header riding every commit) — resolved once at plan
    time, O(1) metadata."""

    @classmethod
    def name(cls) -> str:
        return "versioned_table_stream"

    def schema(self):
        t = _open(self.options, "versioned_table_stream")
        return t._recorded_schema(t._resolve())

    def streamReader(self, schema) -> VersionedTableStreamReader:
        return VersionedTableStreamReader(schema, self.options)


class _CDFSlice(InputPartition):
    def __init__(self, path: str, version: int, kind: str):
        self.path = path
        self.version = version
        self.kind = kind  # 'cdf' (materialized feed file) | 'insert'


class VersionedCDFStreamReader(VersionedTableStreamReader):
    """Streaming ROW-LEVEL change feed — Delta's
    ``readChangeFeed`` streaming (t23), the streaming twin of the batch
    ``read_changes_cdf``. Offsets are version numbers exactly like the
    t22 commit-log reader (the offset/pacing machinery is inherited);
    what differs is partition planning, per commit by the feed rule
    both feed readers share (:meth:`VersionedTable._feed`):

    - a commit with a MATERIALIZED feed (``#cdf=`` header — MERGE and
      DELETE commits on a CDF-enabled table) streams its cdf files:
      full rows + ``_change_type`` as written, O(changed rows);
    - a pure APPEND commit streams its added data files as ``insert``
      rows (no cdf file is ever written for appends — Delta's cost
      model: the delta IS the added files);
    - a row-preserving rewrite (``compact``/``zorder`` op) is SKIPPED —
      Delta's dataChange=false;
    - any other non-append commit without a feed (overwrite, restore,
      pre-CDF merges) raises: its row delta was never recorded and
      cannot be synthesized from the manifest (enable the feed before
      writing, or fall back to batch ``read_changes_cdc``).

    Executors stream files through the shared per-file kernel exactly
    like the parent — zero per-row Python, zero driver data. The
    declared schema is the table schema plus
    ``_change_type``/``_commit_version`` metadata columns (Delta's CDF
    read schema)."""

    def _delta_slices(
        self, v_from: int, v_to: int
    ) -> list[tuple[int, list[InputPartition]]]:
        out: list[tuple[int, list[InputPartition]]] = []
        for d, kind in self._table._feed(v_from, v_to):
            srcs = {"cdf": [d.cdf], "insert": d.added}.get(kind, [])
            out.append(
                (
                    d.version,
                    [
                        _CDFSlice(f, d.version, kind)
                        for src in srcs
                        for f in _parquet_files(src)
                    ],
                )
            )
        return out

    def _empty_slice(self) -> InputPartition:
        return _CDFSlice("", 0, "insert")

    def read(self, partition: _CDFSlice):
        if not partition.path:
            return
        # a cdf file holds its commit's LOGICAL names (one O(1) manifest
        # header read per task); a data file holds physical names
        commit_map = (
            self._table.column_mapping(partition.version)
            if partition.kind == "cdf"
            else None
        )
        names = _source_names(self._arrow_schema.names, self._phys, commit_map)
        consts = {"_commit_version": partition.version}
        if partition.kind == "insert":
            consts["_change_type"] = "insert"
        out = read_projected(partition.path, self._arrow_schema, names, consts)
        yield from out.to_batches()


class VersionedCDFStreamSource(DataSource):
    """``spark.readStream.format("versioned_cdf_stream")`` — the
    streaming row-level change feed (Delta's ``readChangeFeed``).
    Options: ``tableDir`` (required), ``startingVersion``,
    ``maxVersionsPerBatch`` / ``maxFilesPerBatch`` + ``paceStateDir``
    (same pacing contract as `versioned_table_stream` — file pacing
    splits a large commit's cdf/insert file list across micro-batches).
    Schema: the table's recorded manifest schema plus ``_change_type``
    (string) and ``_commit_version`` (long)."""

    @classmethod
    def name(cls) -> str:
        return "versioned_cdf_stream"

    def schema(self):
        t = _open(self.options, "versioned_cdf_stream")
        return _feed_schema(t._recorded_schema(t._resolve()))

    def streamReader(self, schema) -> VersionedCDFStreamReader:
        return VersionedCDFStreamReader(schema, self.options)


class _BatchSlice(InputPartition):
    def __init__(self, path: str, dv_paths: list[str], pdv_paths: list[str]):
        self.path = path
        self.dv_paths = dv_paths  # DV key files covering this file's dir
        self.pdv_paths = pdv_paths  # position-vector files covering it


class VersionedTableBatchReader(_ArrowSchema, DataSourceReader):
    """Batch reader half of :class:`VersionedTableBatchSource` — see its
    docstring for the contract. Planning is driver-side manifest
    metadata (dir list + optional stats pruning); executors stream each
    parquet file through the shared per-file kernel, translating
    physical column names, NULL-filling pre-evolution files, and
    applying covering deletion vectors as pyarrow anti-joins (the DV
    broadcast-size contract: each task reads the O(deleted keys) key
    file, never another data file)."""

    def __init__(self, schema, options):
        self._table = _open(options, "versioned_table")
        self._version = _as_of(self._table, options)
        self._schema = schema
        self._phys = self._table.column_mapping(self._version) or {}
        self._preds: list[tuple] = []

    def pushFilters(self, filters):
        """Record prunable predicates for MANIFEST-STATS dir pruning at
        planning time (the S33 payoff surfaced through the DataSource
        API), then hand every filter BACK to Spark — pruning is a sound
        under-approximation, the exact predicate still applies above."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            Not,
        )

        ops = {
            EqualTo: "=",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
            In: "in",
        }

        def _triple(f):
            # NULL-test filters carry no value; Not(EqualTo) is the one
            # negation whose pruning form (!=) the stats grammar bounds
            if isinstance(f, IsNull) and len(f.attribute) == 1:
                return (f.attribute[0], "isnull", None)
            if isinstance(f, IsNotNull) and len(f.attribute) == 1:
                return (f.attribute[0], "notnull", None)
            if isinstance(f, Not) and isinstance(f.child, EqualTo):
                c = f.child
                if len(c.attribute) == 1:
                    return (c.attribute[0], "!=", c.value)
            for klass, op in ops.items():
                if isinstance(f, klass) and len(f.attribute) == 1:
                    val = f.value if op != "in" else list(f.value)
                    return (f.attribute[0], op, val)
            return None

        for f in filters:
            t = _triple(f)
            if t is not None:
                self._preds.append(t)
            yield f  # Spark re-applies everything; we only prune dirs

    def partitions(self):
        dirs = self._table._manifest(self._version)
        if self._preds:
            dirs = self._table._prune(
                self._version, dirs, lambda s: _dir_may_match(s, self._preds)
            )[0]
        parts = []
        for d, (dvs, pdvs) in self._table._coverage(self._version, dirs).items():
            # vector PART files, resolved at plan time
            pdv_parts = [f for p in pdvs for f in _parquet_files(p)]
            parts += [
                _BatchSlice(f, list(dvs), pdv_parts) for f in _parquet_files(d)
            ]
        return parts or [_BatchSlice("", [], [])]

    def read(self, partition: _BatchSlice):
        if not partition.path:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        # POSITION vectors mask inside the shared kernel: this task reads
        # only the positions covering ITS file, exactly like the library
        # scan, so the two paths can never disagree
        out = read_projected(
            partition.path,
            self._arrow_schema,
            _source_names(self._arrow_schema.names, self._phys),
            pdv_parts=partition.pdv_paths,
        )
        for dv_path in partition.dv_paths:
            dv = pq.read_table(dv_path)
            # DV files carry LOGICAL key names (delete_by_keys wrote
            # them); `out` is already logical, so the anti-join keys
            # line up. Cast DV key types to the table's (a widening
            # evolution can leave old DVs narrower).
            keys = [c for c in dv.column_names]
            dv = pa.table(
                {
                    c: dv.column(c).cast(out.schema.field(c).type)
                    for c in keys
                }
            )
            out = out.join(
                dv.group_by(keys).aggregate([]),  # distinct keys
                keys=keys,
                join_type="left anti",
            ).select([f.name for f in self._arrow_schema])
        out = out.cast(self._arrow_schema)
        yield from out.to_batches()


class VersionedCDFBatchReader(DataSourceReader):
    """BATCH change-feed read through the vanilla format reader
    (round-13 S54 — Delta's ``spark.read.format("delta")
    .option("readChangeFeed","true")``): plans exactly the per-commit
    cdf/insert slices the T23 stream plans (composition over the stream
    reader) for the RANGE ``(startingVersion, endingVersion]``
    (exclusive-from, the same convention as the library
    ``read_changes_cdf`` and the stream offsets). Rows carry
    ``_change_type`` / ``_commit_version``; appends synthesize inserts,
    compact/zorder are skipped (dataChange=false), feed-less
    row-changing commits raise. All three feed readers — this one, the
    stream and the library ``read_changes_cdf`` — plan through one
    per-commit rule (:meth:`VersionedTable._feed`) and resolve columns
    through one name rule (``_source_names``), so they cannot
    disagree."""

    def __init__(self, schema, options):
        self._inner = VersionedCDFStreamReader(schema, options)
        self._v_from = int(options.get("startingversion", 0))
        ev = options.get("endingversion")
        self._v_to = self._inner._table._resolve(None if ev is None else int(ev))

    def partitions(self):
        slices = self._inner._delta_slices(self._v_from, self._v_to)
        parts = [sl for _v, ss in slices for sl in ss]
        return parts or [self._inner._empty_slice()]

    def read(self, partition):
        yield from self._inner.read(partition)


class VersionedTableBatchSource(DataSource):
    """``spark.read/write.format("versioned_table")`` — the full BATCH
    DataSource over the versioned table format, so ANY Spark job (plain
    SQL users included) uses it without importing this library.

    READ (S45): snapshot reads, ``versionAsOf`` / ``timestampAsOf``
    time travel, recorded-schema scans with pre-evolution NULL-fill,
    column-mapping resolution, deletion-vector application (key-set
    anti-joins + per-file position masks), and manifest-stats dir
    pruning for pushed filters (filters are still re-applied by Spark —
    pruning only cuts I/O). Options: ``tableDir`` (required),
    ``versionAsOf`` (int), ``timestampAsOf`` (epoch seconds).

    WRITE (S49, round 13): ``df.write...mode("append"|"overwrite")``
    publishes a real commit through the manifest CAS with append
    auto-rebase, CHECK constraints, bucket layout, column mapping, and
    skipping stats; ``.option("mergeSchema","true")`` allows additive
    append evolution. STREAMING WRITE (T24):
    ``df.writeStream.format("versioned_table")`` commits one atomic
    append per micro-batch with ``#sbatch=`` exactly-once redelivery
    protection. See ``sources/versioned_sink.py`` for both."""

    @classmethod
    def name(cls) -> str:
        return "versioned_table"

    def _cdf_mode(self) -> bool:
        return (
            str(self.options.get("readchangefeed", "false")).lower() == "true"
        )

    def schema(self):
        t = _open(self.options, "versioned_table")
        if not self._cdf_mode():
            return t._recorded_schema(_as_of(t, self.options))
        if any(self.options.get(k) for k in ("versionasof", "timestampasof")):
            raise ValueError(
                "readChangeFeed takes startingVersion/endingVersion, "
                "not versionAsOf/timestampAsOf (a feed is a range, "
                "not a snapshot)"
            )
        return _feed_schema(t._recorded_schema(t._resolve()))

    def reader(self, schema):
        if self._cdf_mode():
            return VersionedCDFBatchReader(schema, self.options)
        return VersionedTableBatchReader(schema, self.options)

    def writer(self, schema, overwrite: bool):
        # round-13: the WRITE half — df.write.format("versioned_table")
        # .mode("append"|"overwrite").option("tableDir", ...).save()
        # stages per-task parquet through the S16 commit protocol and
        # publishes via the manifest CAS (see sources/versioned_sink.py)
        from .versioned_sink import VersionedTableWriter

        return VersionedTableWriter(schema, self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        # round-13 T24: the STREAMING write half — every micro-batch is
        # one atomic append commit, #sbatch-header idempotence against
        # foreachBatch-style redelivery (see sources/versioned_sink.py)
        if overwrite:
            raise ValueError(
                "versioned_table streaming sink supports append output "
                "mode only (complete-mode overwrite would rewrite the "
                "table every trigger)"
            )
        from .versioned_sink import VersionedTableStreamWriter

        return VersionedTableStreamWriter(schema, self.options, False)


def register(spark) -> None:
    """Register the three ``versioned_table*`` sources on the session.

    Documented side effect: enables the session-wide conf
    ``spark.sql.python.filterPushdown.enabled`` (runtime-mutable,
    default false) when it is not already on — the batch reader
    implements ``pushFilters()``, which pyspark refuses to PLAN while
    the conf is off, so a vanilla session (the driver contract) could
    not read the format at all. The conf affects every Python
    DataSource in the session, but only gates whether pushdown is
    OFFERED to them — a source that ignores/yields back its filters
    plans identically, so results never change. A value already set to
    ``true`` is left untouched."""
    spark.dataSource.register(VersionedTableStreamSource)
    spark.dataSource.register(VersionedCDFStreamSource)
    try:
        cur = spark.conf.get("spark.sql.python.filterPushdown.enabled")
    except Exception:  # noqa: BLE001 - conf not defined on this build
        cur = None
    if str(cur).lower() != "true":
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(VersionedTableBatchSource)
