"""Sources/sinks coverage (SURVEY.md §2.1): CSV schema scans (S7),
partitioned parquet sink with partition pruning (S8), catalog DDL (S4/S5),
and the T1 processingTime trigger of the weather stream."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from weather_etl_docker_airflow_project_spark.fixtures import CANNED_WEATHER
from weather_etl_docker_airflow_project_spark.io import (
    read_csv,
    write_partitioned_parquet,
)
from weather_etl_docker_airflow_project_spark.sources.jdbc import (
    DERBY_EMBEDDED_DRIVER,
    catalog_ddl,
    derby_url,
    jdbc_append,
    jdbc_read,
)
from weather_etl_docker_airflow_project_spark.streaming.pipeline import (
    land_records,
    start_stream,
)

ROWS = [("Tunis", 22.5, "clear"), ("Sfax", 25.0, "cloudy"), ("Gabes", 28.5, "clear")]
SCHEMA = T.StructType(
    [
        T.StructField("city", T.StringType()),
        T.StructField("temp", T.DoubleType()),
        T.StructField("sky", T.StringType()),
    ]
)


def test_csv_scan_with_schema(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "w.csv")
    df.write.option("header", "true").csv(path)
    back = read_csv(spark, path, SCHEMA)
    assert back.schema == SCHEMA
    assert sorted(tuple(r) for r in back.collect()) == sorted(ROWS)


def test_partitioned_sink_prunes(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "part")
    write_partitioned_parquet(df, path, ["sky"])
    assert os.path.isdir(os.path.join(path, "sky=clear"))
    pruned = spark.read.parquet(path).filter(F.col("sky") == "clear")
    assert pruned.count() == 2
    # the filter must become a partition filter, not a data filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "sky" in plan.split("PartitionFilters")[1][:120]


def test_catalog_ddl_idempotent(spark):
    catalog_ddl(spark, database="weather_test_db", table="weather")
    catalog_ddl(spark, database="weather_test_db", table="weather")  # IF NOT EXISTS
    cols = spark.table("weather_test_db.weather").columns
    assert cols == [
        "city", "temperature", "weather", "humidity", "pressure",
        "wind_speed", "lt", "utc",
    ]
    spark.sql("DROP TABLE weather_test_db.weather")
    spark.sql("DROP DATABASE weather_test_db")


def test_jdbc_executed_roundtrip_with_dedup_upsert(spark, tmp_path):
    """S3 executed end-to-end against embedded Derby (in Spark's own
    jars): append through the JDBC sink, read back through the JDBC
    source, then replay the reference's dedup-before-insert
    (weather_etl.py:158-187) — the second load inserts only the new row.
    MySQL is the same code with a different URL/driver."""
    from weather_etl_docker_airflow_project_spark.functions.weather import (
        transform_weather,
    )
    from weather_etl_docker_airflow_project_spark.operators.upsert import (
        dedup_new_rows,
    )
    from weather_etl_docker_airflow_project_spark.sources.rest import records_to_df

    url = derby_url(str(tmp_path / "weatherdb"))
    batch1 = transform_weather(records_to_df(spark, CANNED_WEATHER[:2]))
    jdbc_append(batch1, url, "weather", driver=DERBY_EMBEDDED_DRIVER)

    existing = jdbc_read(spark, url, "weather", driver=DERBY_EMBEDDED_DRIVER)
    assert existing.count() == 2
    assert set(existing.columns) == set(batch1.columns)

    # second cycle: 2 duplicates + 1 new record -> only the new one lands
    batch2 = transform_weather(records_to_df(spark, CANNED_WEATHER))
    fresh = dedup_new_rows(
        batch2,
        jdbc_read(spark, url, "weather", driver=DERBY_EMBEDDED_DRIVER).select("city", "utc"),
        ["city", "utc"],
    )
    assert fresh.count() == 1
    jdbc_append(fresh, url, "weather", driver=DERBY_EMBEDDED_DRIVER)
    final = jdbc_read(spark, url, "weather", driver=DERBY_EMBEDDED_DRIVER)
    assert final.count() == 3
    assert final.select("city", "utc").distinct().count() == 3


def test_stream_to_jdbc_effectively_once(spark, tmp_path):
    """The full reference topology executed: landing-file stream ->
    transform -> dedup against the JDBC sink -> append, against embedded
    Derby. Redelivering every record plus one new one inserts exactly the
    new one (effectively-once, weather_etl.py:158-187 semantics)."""
    from weather_etl_docker_airflow_project_spark.streaming.pipeline import (
        land_records,
        start_stream_jdbc,
    )

    landing = str(tmp_path / "landing")
    url = derby_url(str(tmp_path / "weatherdb"))

    land_records(lambda: CANNED_WEATHER[:2], landing)
    q = start_stream_jdbc(
        spark, landing, url, "weather", str(tmp_path / "ck1"),
        jdbc_driver=DERBY_EMBEDDED_DRIVER, available_now=True,
    )
    q.awaitTermination(120)
    assert jdbc_read(spark, url, "weather", driver=DERBY_EMBEDDED_DRIVER).count() == 2

    # second drain: 2 duplicates + 1 new record -> exactly 3 rows total
    land_records(lambda: CANNED_WEATHER, landing)
    q = start_stream_jdbc(
        spark, landing, url, "weather", str(tmp_path / "ck1"),
        jdbc_driver=DERBY_EMBEDDED_DRIVER, available_now=True,
    )
    q.awaitTermination(120)
    final = jdbc_read(spark, url, "weather", driver=DERBY_EMBEDDED_DRIVER)
    assert final.count() == 3
    assert final.select("city", "utc").distinct().count() == 3


def test_stream_processing_time_trigger(spark, tmp_path):
    """T1: the 2-minute-cadence trigger shape, at 1s for the test; rows
    landed while the stream runs are picked up by a later micro-batch."""
    landing = str(tmp_path / "landing")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    land_records(lambda: CANNED_WEATHER[:2], landing)
    q = start_stream(
        spark, landing, sink, ckpt, trigger_interval="1 second"
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if spark.read.parquet(sink).count() == 2:
                    break
            except Exception:
                pass
            time.sleep(1)
        assert spark.read.parquet(sink).count() == 2
        land_records(lambda: CANNED_WEATHER, landing)  # 1 new + 2 dups
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.read.parquet(sink).count() == 3:
                break
            time.sleep(1)
        assert spark.read.parquet(sink).count() == 3
    finally:
        q.stop()


def test_orc_scan_pushes_filters(spark, tmp_path):
    """ORC scans must push predicates and prune columns like parquet —
    the property s14_orc_roundtrip relies on at scale."""
    from weather_etl_docker_airflow_project_spark.io import load_table

    dst = str(tmp_path / "orders_orc")
    load_table(spark, "/root/testdata/sf0.001", "orders").write.orc(dst)
    df = (
        spark.read.orc(dst)
        .filter("o_orderstatus = 'O'")
        .select("o_orderpriority")
    )
    import io as _io
    from contextlib import redirect_stdout

    buf = _io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "o_orderstatus" in plan.split("PushedFilters")[1][:200]
    assert "ReadSchema" in plan
    sch = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_totalprice" not in sch, f"column pruning failed: {sch}"


def test_versioned_table_snapshot_isolation_and_torn_commit(spark, tmp_path):
    """VersionedTable contract: append lineage, overwrite isolation,
    historical reads pinned, torn commits invisible, replay monotonic."""
    import os

    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        VersionedTable,
    )

    t = VersionedTable(spark, str(tmp_path / "vt"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no commits"):
        t.read()

    df1 = spark.createDataFrame([(1,), (2,)], "k long")
    df2 = spark.createDataFrame([(3,)], "k long")
    df3 = spark.createDataFrame([(9,)], "k long")
    assert t.commit(df1) == 1
    assert t.commit(df2, mode="append") == 2
    # a reader holding v2 must not see the later overwrite
    assert {r["k"] for r in t.read(2).collect()} == {1, 2, 3}
    assert t.commit(df3, mode="overwrite") == 3
    assert {r["k"] for r in t.read().collect()} == {9}
    assert {r["k"] for r in t.read(1).collect()} == {1, 2}
    assert {r["k"] for r in t.read(2).collect()} == {1, 2, 3}

    # torn commit: a stray tmp manifest is never listed as a version
    with open(os.path.join(str(tmp_path / "vt"), "_versions", ".4.tmp"), "w") as f:
        f.write("/nonexistent\n")
    assert t.versions() == [1, 2, 3]
    with _pytest.raises(ValueError, match="not committed"):
        t.read(4)


def test_versioned_table_concurrent_commit_loses_cleanly(spark, tmp_path):
    """Two writers racing for the same version: exactly one publishes;
    the loser raises ConcurrentCommitError, the winner's manifest is
    untouched (no rename-clobber lost update), the loser's staged batch
    is unreferenced (vacuum bait, not data), and a retry lands as the
    NEXT version."""
    import pytest

    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        ConcurrentCommitError,
        VersionedTable,
        vacuum,
    )

    t = VersionedTable(spark, str(tmp_path / "vt"))
    t.commit(spark.createDataFrame([(1,)], "k long"))  # v1

    # simulate writer B publishing v2 between A's version pick and A's
    # manifest publish: freeze A's view of versions() at [1]
    b = VersionedTable(spark, str(tmp_path / "vt"))
    assert b.commit(spark.createDataFrame([(2,)], "k long"), mode="append") == 2
    t.versions = lambda: [1]  # A's stale snapshot
    with pytest.raises(ConcurrentCommitError, match="version 2"):
        t.commit(spark.createDataFrame([(99,)], "k long"), mode="append")

    # B's v2 survived intact; A's orphan batch is invisible to reads
    assert {r["k"] for r in b.read(2).collect()} == {1, 2}
    assert b.versions() == [1, 2]
    # no tmp litter
    import os

    vdir = os.path.join(str(tmp_path / "vt"), "_versions")
    assert [f for f in os.listdir(vdir) if f.startswith(".")] == []

    # retry with a fresh view lands as v3 and vacuum reaps the orphan
    del t.versions  # restore the real method
    assert t.commit(spark.createDataFrame([(99,)], "k long"), mode="append") == 3
    assert {r["k"] for r in t.read().collect()} == {1, 2, 99}
    # default staging grace DEFERS the fresh never-referenced orphan
    # (it is indistinguishable from an in-flight writer's staging) …
    rep0 = vacuum(b, retain_versions=1)
    assert len(rep0.deferred_dirs) == 1 and not rep0.removed_dirs
    # … and grace=0 (single-writer maintenance) reclaims it
    rep = vacuum(b, retain_versions=1, staged_grace_seconds=0)
    data_dirs = os.listdir(os.path.join(str(tmp_path / "vt"), "data"))
    # v3's manifest references 3 batch dirs; the orphan is gone
    assert len(data_dirs) == 3 and len(rep.removed_dirs) == 1


def test_versioned_table_vacuum_retention(spark, tmp_path):
    """VACUUM contract: retained versions keep every referenced dir
    (shared append lineage included), dropped versions' exclusive dirs
    are deleted, manifests go before data, and re-running is a no-op."""
    import os

    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        VersionedTable,
        vacuum,
    )

    t = VersionedTable(spark, str(tmp_path / "vt"))
    t.commit(spark.createDataFrame([(1,)], "k long"))                    # v1
    t.commit(spark.createDataFrame([(2,)], "k long"), mode="append")     # v2 = v1+b2
    t.commit(spark.createDataFrame([(9,)], "k long"), mode="overwrite")  # v3 = b3
    t.commit(spark.createDataFrame([(10,)], "k long"), mode="append")    # v4 = b3+b4

    rep = vacuum(t, retain_versions=2)
    assert rep.dropped_versions == [1, 2]
    # v1/v2's dirs (b1, b2) are unreferenced by v3/v4 -> both removed
    assert len(rep.removed_dirs) == 2
    assert t.versions() == [3, 4]
    assert {r["k"] for r in t.read(3).collect()} == {9}
    assert {r["k"] for r in t.read(4).collect()} == {9, 10}
    # data root holds exactly the two retained batch dirs
    assert len(os.listdir(os.path.join(str(tmp_path / "vt"), "data"))) == 2

    rep2 = vacuum(t, retain_versions=2)  # idempotent
    assert rep2.dropped_versions == [] and rep2.removed_dirs == []


def test_versioned_vacuum_normalizes_paths(spark, tmp_path):
    """A handle opened through a denormalized spelling of table_dir must
    not treat every batch dir as unreferenced (realpath on both sides)."""
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        VersionedTable,
        vacuum,
    )

    canonical = str(tmp_path / "vt")
    t = VersionedTable(spark, canonical)
    t.commit(spark.createDataFrame([(1,)], "k long"))
    t2 = VersionedTable(spark, str(tmp_path / "." / "vt"))  # same dir, odd spelling
    rep = vacuum(t2, retain_versions=1)
    assert rep.removed_dirs == []  # v1's dir is referenced -> untouched
    assert {r["k"] for r in t.read().collect()} == {1}
