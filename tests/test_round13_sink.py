"""Round-13 gates: the vanilla DataSource WRITE path
(``df.write.format("versioned_table")`` → ``sources/versioned_sink.py``)
and its supporting machinery — the NumPy xxHash64 parity with
``F.xxhash64`` (bucket placement), CAS + rebase against library
interlopers, CHECK-constraint enforcement without a SparkSession, and
the vacuum ∥ writer staging-grace race."""

from __future__ import annotations

import datetime
import os
import random
import threading

import pyarrow as pa
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.operators.versioned import (
    BUCKET_COL,
    ConcurrentCommitError,
    VersionedTable,
    merge_upsert,
    vacuum,
)
from weather_etl_docker_airflow_project_spark.sources.versioned_sink import (
    VersionedTableWriter,
)


@pytest.fixture(autouse=True)
def _register(spark):
    from weather_etl_docker_airflow_project_spark.sources import (
        versioned_stream,
    )

    versioned_stream.register(spark)


def _vw(df, tdir, mode="append"):
    df.write.format("versioned_table").mode(mode).option(
        "tableDir", tdir
    ).save()


# ---------------------------------------------------------------------------
# xxHash64 parity: the executor-side bucket hash must be bit-identical
# to F.xxhash64 or granular merges silently miss vanilla-written rows
# ---------------------------------------------------------------------------


def test_python_xxhash64_matches_spark(spark):
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from weather_etl_docker_airflow_project_spark.functions.xxh64 import (
        xxhash64_arrow,
    )

    random.seed(13)
    rows = []
    for i in range(300):
        rows.append(
            Row(
                a=None if i % 13 == 0 else random.randint(-(2**31), 2**31 - 1),
                b=random.randint(-(2**62), 2**62),
                s=None if i % 7 == 0 else "päy'lod" * (i % 5) + str(i),
                f=random.choice([0.0, -0.0, 1.5, float(i), -3.25, None]),
                g=random.choice([0.0, -0.0, 2.5]),
                t=bool(i % 3 == 0),
                dt=datetime.date(2019, 1, 1) + datetime.timedelta(days=i),
                ts=datetime.datetime(2021, 5, 4) + datetime.timedelta(seconds=i * 7919),
            )
        )
    schema = StructType(
        [
            StructField("a", IntegerType()),
            StructField("b", LongType()),
            StructField("s", StringType()),
            StructField("f", DoubleType()),
            StructField("g", FloatType()),
            StructField("t", BooleanType()),
            StructField("dt", DateType()),
            StructField("ts", TimestampType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    cols = list(df.columns)
    expected = [r.h for r in df.select(F.xxhash64(*cols).alias("h")).collect()]
    pdf = df.toPandas()
    arrays = [
        pa.array(pdf["a"], type=pa.int32()),
        pa.array(pdf["b"], type=pa.int64()),
        pa.array(pdf["s"], type=pa.string()),
        pa.array(pdf["f"], type=pa.float64()),
        pa.array(pdf["g"], type=pa.float32()),
        pa.array(pdf["t"], type=pa.bool_()),
        pa.array(pdf["dt"], type=pa.date32()),
        pa.array(pdf["ts"], type=pa.timestamp("us")),
    ]
    got = xxhash64_arrow(arrays, len(pdf)).tolist()
    assert got == expected


# ---------------------------------------------------------------------------
# vanilla write path: create / append / overwrite / interop / time travel
# ---------------------------------------------------------------------------


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )


def test_vanilla_create_append_overwrite_interop(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _vw(_kv(spark, 0, 100), tdir)
    t = VersionedTable(spark, tdir)
    assert t.versions() == [1]
    assert t.read().count() == 100
    assert t.snapshot_schema(1).simpleString() == "struct<k:bigint,v:double>"
    # library append on a vanilla-created table
    t.commit(_kv(spark, 100, 150), mode="append")
    # vanilla append on top of the library commit
    _vw(_kv(spark, 150, 200), tdir)
    assert t.read().count() == 200
    # the vanilla READER closes the loop
    assert (
        spark.read.format("versioned_table").option("tableDir", tdir).load().count()
        == 200
    )
    # overwrite truncates forward, time travel preserves backward
    _vw(_kv(spark, 0, 7), tdir, mode="overwrite")
    assert t.read().count() == 7
    assert t.read(version=3).count() == 200
    assert [h.get("op") for h in t.history()][-1] == "overwrite"


def test_vanilla_append_schema_drift_refused(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _vw(_kv(spark, 0, 10), tdir)
    bad = spark.range(5).select(
        F.col("id").alias("k"), F.lit("oops").alias("v")
    )
    with pytest.raises(Exception, match="differs from the table schema"):
        _vw(bad, tdir)
    assert VersionedTable(spark, tdir).versions() == [1]


def test_vanilla_write_records_skipping_stats(spark, tmp_path):
    tdir = str(tmp_path / "t")
    t = VersionedTable(spark, tdir)
    t.set_stats_columns(["k"])
    _vw(_kv(spark, 0, 100).coalesce(1), tdir)
    _vw(_kv(spark, 100, 200).coalesce(1), tdir)
    df, rep = t.read_where([("k", ">=", 150)])
    assert rep.total_dirs == 2 and rep.scanned_dirs == 1
    assert df.count() == 50


def test_vanilla_constraints_enforced_and_3vl(spark, tmp_path):
    tdir = str(tmp_path / "t")
    t = VersionedTable(spark, tdir)
    t.set_constraints(["v >= 0.0 OR v IS NULL", "k < 1000"])
    _vw(_kv(spark, 0, 10), tdir)
    # NULL v satisfies (UNKNOWN -> pass): SQL CHECK semantics
    nullv = spark.range(3).select(
        (F.col("id") + 10).alias("k"), F.lit(None).cast("double").alias("v")
    )
    _vw(nullv, tdir)
    assert t.read().count() == 13
    bad = spark.range(2).select(
        F.col("id").alias("k"), F.lit(-5.0).alias("v")
    )
    with pytest.raises(Exception, match="CHECK constraint"):
        _vw(bad, tdir)
    assert t.versions() == [1, 2]  # violating write published nothing
    # a constraint outside the sink grammar refuses at PLAN time
    t.set_constraints(["length(cast(k as string)) > 0"])
    with pytest.raises(Exception, match="grammar"):
        _vw(_kv(spark, 20, 21), tdir)


def test_vanilla_bucketed_layout_matches_library_placement(spark, tmp_path):
    tdir = str(tmp_path / "b")
    t = VersionedTable(spark, tdir)
    t.set_layout(["k"], 8)
    _vw(_kv(spark, 0, 200), tdir)
    dirs = t._manifest(1)
    assert all(BUCKET_COL + "=" in d for d in dirs)
    # every file sits in the bucket F.xxhash64 assigns its keys
    for d in dirs:
        b = int(d.split("=")[-1])
        got = (
            spark.read.parquet(d)
            .select(F.pmod(F.xxhash64("k"), F.lit(8)).alias("bb"))
            .distinct()
            .collect()
        )
        assert [r.bb for r in got] == [b], d
    # granular merge against the vanilla-written layout stays sound
    src = spark.createDataFrame([(3, 999.0), (777, 1.0)], "k bigint, v double")
    v = merge_upsert(t, src, ["k"])
    assert len(set(t._manifest(1)) & set(t._manifest(v))) > 0  # carried dirs
    snap = {r.k: r.v for r in t.read().collect()}
    assert snap[3] == 999.0 and snap[777] == 1.0 and len(snap) == 201
    # bucket-pruned point lookup finds vanilla-written rows
    probe = spark.createDataFrame([(42,)], "k bigint")
    assert t.read_at_keys(probe, ["k"]).count() == 1


def test_vanilla_write_under_column_mapping(spark, tmp_path):
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        rename_column,
    )

    tdir = str(tmp_path / "cm")
    t = VersionedTable(spark, tdir)
    t.enable_column_mapping()
    t.commit(_kv(spark, 0, 10))
    rename_column(t, "v", "val")
    renamed = spark.range(10, 20).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("val")
    )
    _vw(renamed, tdir)
    snap = t.read()
    assert snap.columns == ["k", "val"] and snap.count() == 20
    # physical files never carry the logical name
    import pyarrow.parquet as pq

    for d in t._manifest(t.versions()[-1]):
        for root, _s, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    names = pq.read_schema(os.path.join(root, f)).names
                    assert "val" not in names and "k" not in names


# ---------------------------------------------------------------------------
# concurrency: CAS + rebase against library interlopers
# ---------------------------------------------------------------------------


def _task_batches(spark_schema, rows):
    """Drive VersionedTableWriter.write() in-process: the writer is plain
    Python, so a deterministic interleave needs no Spark executors."""
    from pyspark.sql.pandas.types import to_arrow_schema

    aschema = to_arrow_schema(spark_schema)
    return [pa.record_batch([pa.array(c, type=f.type) for c, f in zip(rows, aschema)], schema=aschema)]


def test_vanilla_commit_rebases_over_library_append(spark, tmp_path):
    from pyspark.sql.types import StructType

    tdir = str(tmp_path / "t")
    t = VersionedTable(spark, tdir)
    t.commit(_kv(spark, 0, 10))
    schema = t.snapshot_schema(1)
    w = VersionedTableWriter(schema, {"tabledir": tdir}, overwrite=False)
    msg = w.write(
        iter(_task_batches(schema, [[100, 101], [1.0, 2.0]]))
    )
    # interloper lands AFTER the vanilla tasks staged, BEFORE commit
    t.commit(_kv(spark, 10, 20), mode="append")
    w.commit([msg])
    assert t.versions() == [1, 2, 3]
    assert t.read().count() == 22  # nothing lost on either side
    assert {r.k for r in t.read().collect()} >= {100, 101, 15}


def test_vanilla_commit_refuses_metadata_interlopers(spark, tmp_path):
    tdir = str(tmp_path / "t")
    t = VersionedTable(spark, tdir)
    t.commit(_kv(spark, 0, 10))
    schema = t.snapshot_schema(1)
    w = VersionedTableWriter(schema, {"tabledir": tdir}, overwrite=False)
    msg = w.write(iter(_task_batches(schema, [[50], [5.0]])))
    t.set_constraints(["k >= 0"])  # constraint added mid-write
    with pytest.raises(ConcurrentCommitError, match="constraints"):
        w.commit([msg])
    t.set_constraints([])
    w2 = VersionedTableWriter(schema, {"tabledir": tdir}, overwrite=False)
    msg2 = w2.write(iter(_task_batches(schema, [[51], [5.0]])))
    t.set_layout(["k"], 4)  # layout declared mid-write
    with pytest.raises(ConcurrentCommitError, match="layout"):
        w2.commit([msg2])


def test_concurrent_vanilla_and_library_writers(spark, tmp_path):
    """The verdict item's 'Done =' gate: vanilla-API writer ∥ library
    writer racing on one table — every commit must land exactly once."""
    tdir = str(tmp_path / "race")
    t = VersionedTable(spark, tdir)
    t.commit(_kv(spark, 0, 10))
    errs = []

    def _library_side():
        try:
            for i in range(4):
                t.commit(_kv(spark, 1000 + i * 10, 1010 + i * 10), mode="append")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = threading.Thread(target=_library_side)
    th.start()
    for i in range(3):
        _vw(_kv(spark, 2000 + i * 10, 2010 + i * 10), tdir)
    th.join()
    assert not errs
    assert t.versions() == list(range(1, 9))
    assert t.read().count() == 10 + 4 * 10 + 3 * 10


# ---------------------------------------------------------------------------
# vacuum ∥ writer: staging grace
# ---------------------------------------------------------------------------


def test_vacuum_defers_inflight_staging(spark, tmp_path):
    tdir = str(tmp_path / "t")
    t = VersionedTable(spark, tdir)
    t.commit(_kv(spark, 0, 10))
    t.commit(_kv(spark, 10, 20), mode="overwrite")
    schema = t.snapshot_schema(2)
    w = VersionedTableWriter(schema, {"tabledir": tdir}, overwrite=False)
    msg = w.write(iter(_task_batches(schema, [[99], [9.0]])))
    # vacuum races the in-flight writer: v1's dropped dir reclaims
    # immediately (ever-referenced), the staged never-referenced batch
    # is DEFERRED by the grace window instead of swept
    rep = vacuum(t, retain_versions=1)
    assert len(rep.removed_dirs) == 1
    assert any("batch_w_" in d for d in rep.deferred_dirs)
    w.commit([msg])  # the staged batch survived: publish succeeds
    assert t.read().count() == 11
    # once referenced, later vacuums never touch it
    rep2 = vacuum(t, retain_versions=1)
    assert not rep2.deferred_dirs and not rep2.removed_dirs
    # grace=0 restores unconditional reclaim for single-writer jobs
    stale = os.path.join(tdir, "data", "batch_w_orphan")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-x.parquet"), "wb") as f:
        f.write(b"torn")
    assert vacuum(t, retain_versions=1).deferred_dirs == [stale]
    assert vacuum(t, retain_versions=1, staged_grace_seconds=0).removed_dirs == [stale]


def test_vanilla_overwrite_empty_truncates(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _vw(_kv(spark, 0, 10), tdir)
    _vw(_kv(spark, 0, 10).filter("k < 0"), tdir, mode="overwrite")
    t = VersionedTable(spark, tdir)
    assert t.read().count() == 0 and t.read(version=1).count() == 10


def test_vanilla_merge_schema_appends_additively(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _vw(_kv(spark, 0, 10), tdir)
    evolved = spark.range(10, 15).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("v"),
        F.lit("en").alias("lang"),
    )
    # without the option: refused with a pointer to it
    with pytest.raises(Exception, match="mergeSchema"):
        _vw(evolved, tdir)
    evolved.write.format("versioned_table").mode("append").option(
        "tableDir", tdir
    ).option("mergeSchema", "true").save()
    t = VersionedTable(spark, tdir)
    snap = t.read()
    assert snap.columns == ["k", "v", "lang"]
    # pre-evolution rows NULL-fill the evolved-in column
    assert snap.filter("lang IS NULL").count() == 10
    assert snap.filter("lang = 'en'").count() == 5
    # non-additive shapes stay refused
    narrowed = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(Exception, match="additive"):
        narrowed.write.format("versioned_table").mode("append").option(
            "tableDir", tdir
        ).option("mergeSchema", "true").save()


def test_xxhash_kernels_do_not_leak_errstate(spark):
    """Round-13 review finding: reusing one np.errstate instance across
    NESTED decorated calls corrupted its saved state on numpy 1.x and
    left over=ignore set globally. The kernels must restore the
    caller's error state exactly."""
    import numpy as np

    from weather_etl_docker_airflow_project_spark.functions.xxh64 import (
        bucket_ids,
    )

    before = np.geterr()
    cols = [pa.array(["abc", None, "x" * 40]), pa.array([1, 2, None], type=pa.int64())]
    bucket_ids(cols, 3, 16)  # nested decorated calls
    assert np.geterr() == before


def test_vanilla_write_stages_per_task_dirs(spark, tmp_path):
    """Round-13 review finding: all tasks staging into ONE shared dir
    would publish a failed attempt's closed parquet files. Each task
    attempt stages its own dir and only message-named dirs publish."""
    tdir = str(tmp_path / "t")
    _vw(_kv(spark, 0, 100).repartition(4), tdir)
    t = VersionedTable(spark, tdir)
    dirs = t._manifest(1)
    assert len(dirs) == 4  # one staged dir per task
    assert all(os.path.basename(d).startswith("batch_w_") for d in dirs)
    assert t.read().count() == 100
    # a never-published orphan dir (failed attempt stand-in) stays
    # invisible and is grace-deferred, not swept mid-write
    orphan = os.path.join(tdir, "data", "batch_w_failedattempt")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-x.parquet"), "wb") as f:
        f.write(b"partial")
    assert t.read().count() == 100
    rep = vacuum(t, retain_versions=1)
    assert orphan in rep.deferred_dirs


def test_merge_schema_relaxes_added_columns_to_nullable(spark, tmp_path):
    """Round-13 review finding: an added column arriving NON-nullable
    (the plain F.lit()/createDataFrame shape) must be RECORDED nullable
    — pre-evolution files NULL-fill it, and a non-null recorded schema
    would let Catalyst prune IS NULL to empty (wrong results)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    tdir = str(tmp_path / "t")
    _vw(_kv(spark, 0, 5), tdir)
    schema = StructType(
        [
            StructField("k", LongType(), True),
            StructField("v", DoubleType(), True),
            StructField("lang", StringType(), False),  # NOT nullable
        ]
    )
    evolved = spark.createDataFrame([(9, 1.0, "en")], schema)
    evolved.write.format("versioned_table").mode("append").option(
        "tableDir", tdir
    ).option("mergeSchema", "true").save()
    t = VersionedTable(spark, tdir)
    recorded = {f.name: f.nullable for f in t.snapshot_schema(2).fields}
    assert recorded["lang"] is True  # relaxed, not recorded non-null
    snap = t.read()
    assert snap.filter("lang IS NULL").count() == 5  # NOT pruned to empty
    assert snap.filter("lang = 'en'").count() == 1


def test_add_constraint_preserves_concurrent_writer(spark, tmp_path, monkeypatch):
    """Round-13 review finding: the constraint list is re-read at
    PUBLISH time, so a CHECK another writer adds during our (long)
    validation scan survives."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.range(10).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    )
    state = {"raced": False}
    orig_read = t.read

    def read_hook(*a, **k):
        if not state["raced"]:
            state["raced"] = True
            other = VersionedTable(spark, t.dir)
            other.set_constraints(other.constraints() + ["v IS NOT NULL"])
        return orig_read(*a, **k)

    monkeypatch.setattr(t, "read", read_hook)
    t.add_constraint("k >= 0")
    assert state["raced"]
    assert set(t.constraints()) == {"v IS NOT NULL", "k >= 0"}


def test_add_constraint_refuses_batch_staged_before_it(spark, tmp_path):
    """A library commit whose batch was staged BEFORE a concurrent
    add_constraint landed loses its publish: the constraint is a commit
    of its own, and a write never rebases across a property change —
    so the staged violating row never becomes visible."""

    class RacedTable(VersionedTable):
        raced = False

        def _publish_manifest(self, manifest, version):
            if not RacedTable.raced and version == 2:
                RacedTable.raced = True
                # the batch (holding k = -1) is staged; the constraint
                # validates the clean snapshot and publishes first
                VersionedTable(self.spark, self.dir).add_constraint("k >= 0")
            return super()._publish_manifest(manifest, version)

    t = RacedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([Row(k=i, v=1.0) for i in range(5)]))
    with pytest.raises(ConcurrentCommitError, match="constraints"):
        t.commit(
            spark.createDataFrame([Row(k=-1, v=1.0)]), mode="append"
        )
    assert RacedTable.raced
    assert t.versions() == [1, 2]  # the data commit published nothing
    assert t.commit_op(2) == "add_constraint"
    assert t.read().filter("k < 0").count() == 0
