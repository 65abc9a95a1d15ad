"""Round-13 gates: the SQL statement front (`operators/dml_sql`) —
statement parsing, lowering onto the library operators, and the P12
injection-safety contract for ``:name`` parameters."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.operators.dml_sql import (
    _bind,
    engine_sql,
)
from weather_etl_docker_airflow_project_spark.operators.versioned import (
    VersionedTable,
)


def _mk(spark, tmp_path, n=100):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["k"])
    t.commit(
        spark.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.0).alias("v"),
            F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        )
    )
    return t


def test_update_delete_roundtrip(spark, tmp_path):
    t = _mk(spark, tmp_path)
    r = engine_sql(
        spark,
        f"UPDATE '{t.dir}' SET v = v + 100.0 WHERE k < :lo OR k >= :hi",
        {"lo": 5, "hi": 95},
    ).first()
    assert (r.op, r.version) == ("update", 2)
    snap = {x.k: x.v for x in t.read().collect()}
    assert snap[0] == 100.0 and snap[50] == 50.0 and snap[99] == 199.0
    engine_sql(spark, f"DELETE FROM '{t.dir}' WHERE k BETWEEN 10 AND 19")
    assert t.read().count() == 90
    engine_sql(spark, f"DELETE FROM '{t.dir}' WHERE k = 42 MERGE ON READ")
    assert t.read().count() == 89
    assert len(t.position_dvs(t.versions()[-1])) == 1  # MOR took effect


def test_merge_optimize_vacuum_restore(spark, tmp_path):
    t = _mk(spark, tmp_path)
    spark.createDataFrame(
        [(7, -1.0, "NEW"), (500, 1.0, "INS")], "k bigint, v double, s string"
    ).createOrReplaceTempView("sqlf_src")
    engine_sql(
        spark, f"MERGE INTO '{t.dir}' USING sqlf_src ON t.k = s.k"
    )
    snap = {x.k: x.v for x in t.read().collect()}
    assert snap[7] == -1.0 and snap[500] == 1.0 and len(snap) == 101
    v = engine_sql(spark, f"OPTIMIZE '{t.dir}' ZORDER BY (k)").first().version
    assert t.read(version=v).count() == 101
    engine_sql(spark, f"VACUUM '{t.dir}' RETAIN 1 VERSIONS")
    assert t.versions() == [v]
    # RESTORE refuses (history vacuumed) then works on surviving version
    engine_sql(
        spark, f"UPDATE '{t.dir}' SET v = 0.0 WHERE k >= 0"
    )
    rv = engine_sql(
        spark, f"RESTORE '{t.dir}' TO VERSION AS OF {v}"
    ).first().version
    assert {x.v for x in t.read(version=rv).filter("k = 500").collect()} == {1.0}


def test_param_binding_quotes_not_splices(spark, tmp_path):
    """The P12 contract: a hostile string parameter arrives as a quoted
    LITERAL — it can never terminate the string and splice predicate
    syntax."""
    t = _mk(spark, tmp_path)
    hostile = "x' OR k >= 0 OR s = 'y"
    engine_sql(
        spark,
        f"DELETE FROM '{t.dir}' WHERE s = :val",
        {"val": hostile},
    )
    # nothing matched the literal string: zero rows deleted
    assert t.read().count() == 100
    # and the rendering really is a single literal
    assert _bind("s = :v", {"v": "a'b"}) == "s = 'a''b'"
    with pytest.raises(ValueError, match="unbound"):
        engine_sql(spark, f"DELETE FROM '{t.dir}' WHERE k = :missing", {})


def test_malformed_statements_refuse(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for bad in [
        "DROP TABLE everything",
        f"UPDATE '{t.dir}' SET WHERE k = 1",
        f"MERGE INTO '{t.dir}' USING v ON t.k = s.other",
        f"OPTIMIZE '{t.dir}' WHERE k < 5",  # WHERE needs ZORDER BY
    ]:
        with pytest.raises(ValueError):
            engine_sql(spark, bad)
    assert t.versions() == [1]  # nothing published by refused statements


def test_update_where_string_prunes(spark, tmp_path):
    """The SQL front's WHERE rides the same stats scope as the API."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["k"])
    for lo in (0, 100, 200):
        t.commit(
            spark.range(lo, lo + 100).select(
                F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
            ),
            mode="append",
        )
    base = set(t._manifest(3))
    engine_sql(spark, f"UPDATE '{t.dir}' SET v = 0.0 WHERE k >= 250")
    carried = base & set(t._manifest(4))
    assert len(carried) == 2  # first two batches untouched by reference


def test_alter_table_and_view_statements(spark, tmp_path):
    """Round-13 DDL completion: ALTER TABLE ADD CONSTRAINT / RENAME /
    DROP COLUMN and CREATE TEMP VIEW ... AS VERSIONED (the SELECT
    surface — plain spark.sql works over the registered view)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.enable_column_mapping()
    t.commit(
        spark.range(20).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.0).alias("v"),
            (F.col("id") * 2).alias("w"),
        )
    )
    engine_sql(
        spark, f"ALTER TABLE '{t.dir}' ADD CONSTRAINT CHECK (v >= 0.0)"
    )
    assert t.constraints() == ["v >= 0.0"]
    with pytest.raises(Exception, match="violate"):
        engine_sql(
            spark, f"ALTER TABLE '{t.dir}' ADD CONSTRAINT CHECK (k > 5)"
        )
    # renaming a constraint-referenced column refuses (library contract)
    with pytest.raises(ValueError, match="references"):
        engine_sql(spark, f"ALTER TABLE '{t.dir}' RENAME COLUMN v TO val")
    engine_sql(spark, f"ALTER TABLE '{t.dir}' RENAME COLUMN k TO key")
    engine_sql(spark, f"ALTER TABLE '{t.dir}' DROP COLUMN w")
    assert t.read().columns == ["key", "v"]
    # versioned SELECT surface: current + time travel views
    engine_sql(
        spark,
        f"CREATE OR REPLACE TEMP VIEW sqlf_now AS VERSIONED '{t.dir}'",
    )
    engine_sql(
        spark,
        f"CREATE OR REPLACE TEMP VIEW sqlf_v1 AS VERSIONED '{t.dir}' "
        "VERSION AS OF 1",
    )
    assert spark.sql("SELECT count(*) AS n FROM sqlf_now").first().n == 20
    assert spark.sql(
        "SELECT count(*) AS n FROM sqlf_v1 WHERE w >= 0"
    ).first().n == 20  # the pre-DDL schema, via time travel


def test_enable_change_data_feed_statement(spark, tmp_path):
    t = _mk(spark, tmp_path, n=20)
    r = engine_sql(
        spark, f"ALTER TABLE '{t.dir}' ENABLE CHANGE DATA FEED"
    ).first()
    assert (r.op, r.version) == ("enable_cdf", 2)  # its own commit
    assert t.change_data_feed_enabled()
    hist = engine_sql(spark, f"DESCRIBE HISTORY '{t.dir}'").collect()
    assert hist[-1].version == 2
    assert hist[-1].op == "enable_change_data_feed"
    engine_sql(spark, f"DELETE FROM '{t.dir}' WHERE k < 5")
    feed = t.read_changes_cdf(1, 3)
    assert feed.filter("_change_type = 'delete'").count() == 5
