"""Round-13 gates: the vanilla STREAMING sink
(``writeStream.format("versioned_table")`` →
``sources/versioned_sink.VersionedTableStreamWriter``) — one atomic
append commit per micro-batch, #sbatch-header exactly-once against
redelivery, checkpoint-restart continuation, constraint enforcement
executor-side, and interop with library readers."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.operators.versioned import (
    VersionedTable,
)
from weather_etl_docker_airflow_project_spark.sources.versioned_sink import (
    VersionedTableStreamWriter,
)


@pytest.fixture(autouse=True)
def _register(spark):
    from weather_etl_docker_airflow_project_spark.sources import (
        versioned_stream,
    )

    versioned_stream.register(spark)


def _drop(srcdir, name, lo, hi):
    with open(os.path.join(srcdir, name), "w") as f:
        for k in range(lo, hi):
            f.write('{"k": %d, "v": %f}\n' % (k, k * 1.0))


def _stream(spark, srcdir, tdir, ck):
    return (
        spark.readStream.schema("k bigint, v double")
        .option("maxFilesPerTrigger", "1")
        .json(srcdir)
        .writeStream.format("versioned_table")
        .option("tableDir", tdir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def test_stream_sink_commit_per_batch_and_restart(spark, tmp_path):
    srcdir = str(tmp_path / "src")
    os.makedirs(srcdir)
    for i in range(3):
        _drop(srcdir, f"f{i}.json", i * 10, (i + 1) * 10)
    tdir, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    q = _stream(spark, srcdir, tdir, ck)
    assert q.awaitTermination(180)
    t = VersionedTable(spark, tdir)
    assert t.versions() == [1, 2, 3]  # one commit per micro-batch
    assert [h.get("op") for h in t.history()] == ["stream append"] * 3
    assert t.read().count() == 30
    # restart from the same checkpoint with one more file: continuation
    # is exactly-once (no replays of batches 0-2)
    _drop(srcdir, "f3.json", 30, 40)
    q2 = _stream(spark, srcdir, tdir, ck)
    assert q2.awaitTermination(180)
    assert sorted(r.k for r in t.read().collect()) == list(range(40))
    assert t.versions() == [1, 2, 3, 4]


def _task_batches(spark, t, rows):
    from pyspark.sql.pandas.types import to_arrow_schema

    asch = to_arrow_schema(t.snapshot_schema(t.versions()[-1]))
    return iter(
        [
            pa.record_batch(
                [pa.array(c, type=f.type) for c, f in zip(rows, asch)],
                schema=asch,
            )
        ]
    )


def test_stream_sink_redelivery_is_noop(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.range(5).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    )
    w = VersionedTableStreamWriter(
        t.snapshot_schema(1), {"tabledir": t.dir, "txnappid": "qA"}, False
    )
    msg = w.write(_task_batches(spark, t, [[100], [2.0]]))
    w.commit([msg], 7)
    assert t.read().count() == 6
    # the SAME batch id redelivered (crash between sink commit and
    # checkpoint advance): no-op, staged files dropped
    msg2 = w.write(_task_batches(spark, t, [[100], [2.0]]))
    staged = msg2.root
    w.commit([msg2], 7)
    assert t.read().count() == 6
    assert not os.path.exists(staged)
    # the NEXT id commits normally
    msg3 = w.write(_task_batches(spark, t, [[101], [3.0]]))
    w.commit([msg3], 8)
    assert t.read().count() == 7


def test_stream_sink_empty_batch_publishes_nothing(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.range(3).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    )
    w = VersionedTableStreamWriter(
        t.snapshot_schema(1), {"tabledir": t.dir, "txnappid": "qE"}, False
    )
    w.commit([], 0)
    assert t.versions() == [1]


def test_stream_sink_enforces_constraints(spark, tmp_path):
    srcdir = str(tmp_path / "src")
    os.makedirs(srcdir)
    _drop(srcdir, "bad.json", -5, 5)  # negative keys violate
    tdir = str(tmp_path / "t")
    t = VersionedTable(spark, tdir)
    t.set_constraints(["k >= 0"])
    q = _stream(spark, srcdir, tdir, str(tmp_path / "ck"))
    with pytest.raises(Exception, match="CHECK constraint"):
        q.awaitTermination(180)
        if q.exception() is not None:
            raise q.exception()
    assert t.versions() == []  # nothing published


def test_stream_sink_interops_with_library_and_granular_merge(spark, tmp_path):
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        merge_upsert,
    )

    srcdir = str(tmp_path / "src")
    os.makedirs(srcdir)
    _drop(srcdir, "a.json", 0, 50)
    tdir = str(tmp_path / "t")
    t = VersionedTable(spark, tdir)
    t.set_layout(["k"], 4)  # streamed rows must bucket correctly
    q = _stream(spark, srcdir, tdir, str(tmp_path / "ck"))
    assert q.awaitTermination(180)
    dirs = t._manifest(t.versions()[-1])
    assert all("bkt=" in d for d in dirs)
    v = merge_upsert(
        t,
        spark.createDataFrame([(7, 99.0)], "k bigint, v double"),
        ["k"],
    )
    snap = {r.k: r.v for r in t.read().collect()}
    assert snap[7] == 99.0 and len(snap) == 50
    assert len(set(dirs) & set(t._manifest(v))) > 0  # granular carry


def test_stream_sink_batch_ids_are_query_scoped(spark, tmp_path):
    """A NEW query's restarting batchIds must not be mistaken for
    replays of an earlier query's (round-13 review finding): the
    #sbatch header is scoped by txnAppId/checkpoint identity."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.range(2).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    )
    wa = VersionedTableStreamWriter(
        t.snapshot_schema(1), {"tabledir": t.dir, "txnappid": "qA"}, False
    )
    for bid in range(3):
        msg = wa.write(_task_batches(spark, t, [[100 + bid], [2.0]]))
        wa.commit([msg], bid)
    assert t.read().count() == 5
    # a DIFFERENT query starts at batchId 0 against the same table:
    # its batches must land, not be dropped as replays
    wb = VersionedTableStreamWriter(
        t.snapshot_schema(1), {"tabledir": t.dir, "txnappid": "qB"}, False
    )
    msg = wb.write(_task_batches(spark, t, [[200], [3.0]]))
    wb.commit([msg], 0)
    assert t.read().count() == 6
    # and qA's OWN replay detection still works across qB's interleave
    msg = wa.write(_task_batches(spark, t, [[102], [2.0]]))
    wa.commit([msg], 2)  # replay of qA's batch 2
    assert t.read().count() == 6
    # missing scope refuses at plan time
    with pytest.raises(ValueError, match="txnAppId"):
        VersionedTableStreamWriter(
            t.snapshot_schema(1), {"tabledir": t.dir}, False
        )


def test_vanilla_batch_change_feed_reader(spark, tmp_path):
    """S54: the batch CDF read through the format reader — range
    bounds, synthesized inserts, skip of row-preserving rewrites, and
    refusal contracts (composes over the T23 stream planner)."""
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        compact,
        delete_where,
        merge_upsert,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.enable_change_data_feed()
    t.commit(
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )
    )
    merge_upsert(
        t,
        spark.createDataFrame([(5, 99.0), (200, 1.0)], "k bigint, v double"),
        ["k"],
    )
    compact(t)  # dataChange=false: must contribute nothing
    delete_where(t, "k < 3", merge_on_read=True)

    def feed(**opts):
        r = (
            spark.read.format("versioned_table")
            .option("tableDir", t.dir)
            .option("readChangeFeed", "true")
        )
        for k, v in opts.items():
            r = r.option(k, str(v))
        return r.load()

    full = feed()
    by = {
        (r._commit_version, r._change_type): r["count"]
        for r in full.groupBy("_commit_version", "_change_type")
        .count()
        .collect()
    }
    assert by == {
        (1, "insert"): 100,
        (2, "update"): 1,
        (2, "insert"): 1,
        (4, "delete"): 3,
    }  # compact (v3) contributed nothing
    assert feed(startingVersion=2).count() == 3  # (2, 4] = delete leg
    assert feed(startingVersion=1, endingVersion=2).count() == 2
    with pytest.raises(Exception, match="range, not a snapshot"):
        feed(versionAsOf=1)


def test_sbatch_marker_survives_vacuum(spark, tmp_path):
    """Round-13 review finding: the exactly-once watermark must survive
    retention — every publish re-carries the newest #sbatch per app, so
    a vacuum dropping the marker's own manifest cannot re-open the
    replay window."""
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        vacuum,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.range(5).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    )
    w = VersionedTableStreamWriter(
        t.snapshot_schema(1), {"tabledir": t.dir, "txnappid": "qA"}, False
    )
    msg = w.write(_task_batches(spark, t, [[100], [2.0]]))
    w.commit([msg], 7)  # v2 carries #sbatch=qA:7
    # library commits push the marker's manifest out of retention
    t.commit(
        spark.range(1).select(F.col("id").alias("k"), F.lit(0.0).alias("v")),
        mode="append",
    )
    vacuum(t, retain_versions=1, staged_grace_seconds=0)
    assert t.versions() == [3]
    # crash-style redelivery of batch 7 AFTER the vacuum: still a no-op
    msg2 = w.write(_task_batches(spark, t, [[100], [2.0]]))
    w.commit([msg2], 7)
    assert t.read().filter("k = 100").count() == 1  # not duplicated
    # and the next id still lands
    msg3 = w.write(_task_batches(spark, t, [[101], [2.0]]))
    w.commit([msg3], 8)
    assert t.read().filter("k = 101").count() == 1


def test_cdf_feed_resolves_renamed_columns(spark, tmp_path):
    """Round-13 review finding: cdf files carry COMMIT-TIME logical
    names; a later rename must resolve through the stable physical id
    instead of NULL-filling the renamed column. The library feed and the
    DataSource feed share one name rule, so both legs (a merge's feed
    row and a pre-rename append's inserts) resolve on both paths."""
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        merge_upsert,
        rename_column,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.enable_column_mapping()
    t.enable_change_data_feed()
    t.commit(
        spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    )
    merge_upsert(
        t,
        spark.createDataFrame([(3, 99.0)], "k bigint, v double"),
        ["k"],
    )  # v2 stages a cdf file under logical name 'v'
    t.commit(
        spark.createDataFrame([(20, 20.0), (21, 21.0)], "k bigint, v double"),
        mode="append",
    )  # v3: a pre-rename append, its inserts are its data files
    rename_column(t, "v", "val")  # v4
    feed = (
        spark.read.format("versioned_table")
        .option("tableDir", t.dir)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
    )
    upd = feed.filter("_change_type = 'update'").collect()
    assert len(upd) == 1
    assert upd[0].val == 99.0  # resolved through the physical id, not NULL
    lib_upd = t.read_changes_cdf(1).filter("_change_type = 'update'").collect()
    assert [r.val for r in lib_upd] == [99.0]

    def inserts(df):
        rows = df.filter("_change_type = 'insert'").collect()
        return sorted((r.k, r.val) for r in rows)

    want = [(k, k * 1.0) for k in range(10)] + [(20, 20.0), (21, 21.0)]
    assert inserts(t.read_changes_cdf(0)) == want
    assert inserts(feed) == want
