"""Round-13 gates: POSITION deletion vectors
(``delete_where(merge_on_read=True)`` → ``#pdv=`` manifest lines) —
the flat-in-|DV| merge-on-read representation next to the S32 key-set
vectors. Lifecycle under test: generation exactness (visible rows
only), read/time-travel/read_where, stacking, re-insert semantics,
compact materialization, restore/clone carry, vacuum reference
protection, CDC/CDF emission, the vanilla batch DataSource read, the
streaming non-append contract, and the append-commute CAS rebase."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.operators.versioned import (
    VersionedTable,
    clone,
    compact,
    delete_by_keys,
    delete_where,
    restore,
    vacuum,
)


def _mk(spark, tmp_path, n=1000, parts=4):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["k"])
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    t.commit(df.filter(f"k < {n // 2}").repartition(parts))
    t.commit(df.filter(f"k >= {n // 2}").repartition(parts), mode="append")
    return t


def test_pdv_delete_is_metadata_only_and_exact(spark, tmp_path):
    t = _mk(spark, tmp_path)
    scattered = tuple(range(3, 1000, 10))
    v = delete_where(t, [("k", "in", scattered)], merge_on_read=True)
    assert t._manifest(v) == t._manifest(v - 1)  # zero data rewritten
    assert len(t.position_dvs(v)) == 1
    assert t.read().count() == 900
    assert t.read().filter(F.col("k").isin(list(scattered))).count() == 0
    assert t.read(version=2).count() == 1000  # time travel unaffected
    # vector records exactly the deleted rows (sorted by file for
    # row-group pruning)
    pdv = t.position_dvs(v)[0]
    n_pos = spark.read.parquet(pdv["path"]).count()
    assert n_pos == 100


def test_pdv_stacking_reinsert_and_read_where(spark, tmp_path):
    t = _mk(spark, tmp_path)
    delete_where(t, [("k", "in", tuple(range(3, 1000, 10)))], merge_on_read=True)
    delete_where(t, "k < 50", merge_on_read=True)
    assert t.read().count() == 855
    # DELETE-then-INSERT: the re-inserted key lands in an uncovered dir
    t.commit(spark.createDataFrame([(3, 6.0)], "k bigint, v double"), mode="append")
    assert t.read().filter("k = 3").count() == 1
    df, rep = t.read_where("k BETWEEN 100 AND 120")
    assert sorted(r.k for r in df.collect()) == [
        x for x in range(100, 121) if x % 10 != 3
    ]


def test_pdv_no_match_is_noop(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100)
    base = t.versions()[-1]
    assert delete_where(t, "k > 5000", merge_on_read=True) == base
    assert not t.position_dvs(base)
    # the staged empty vector dir was cleaned up
    assert not [
        d for d in os.listdir(t._data) if d.startswith("pdv_")
    ]


def test_pdv_generation_skips_already_deleted_rows(spark, tmp_path):
    """A second overlapping delete records only the STILL-VISIBLE rows —
    phantom-free CDC/CDF depends on it."""
    t = _mk(spark, tmp_path, n=200)
    delete_where(t, "k BETWEEN 10 AND 29", merge_on_read=True)
    v = delete_where(t, "k BETWEEN 20 AND 39", merge_on_read=True)
    pdv = t.position_dvs(v)[-1]
    assert spark.read.parquet(pdv["path"]).count() == 10  # 30..39 only
    assert t.read().count() == 170
    # key-set DV then position DV on the same table compose
    delete_by_keys(
        t, spark.createDataFrame([(50,), (51,)], "k long"), ["k"],
        merge_on_read=True,
    )
    v2 = delete_where(t, "k BETWEEN 50 AND 59", merge_on_read=True)
    pdv2 = t.position_dvs(v2)[-1]
    assert spark.read.parquet(pdv2["path"]).count() == 8  # 52..59
    assert t.read().count() == 160  # 170 - {50,51} (key DV) - {52..59}


def test_pdv_compact_materializes_and_restore_carries(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v = delete_where(t, "k >= 990", merge_on_read=True)
    rep = compact(t)
    assert not t.position_dvs(rep if isinstance(rep, int) else t.versions()[-1])
    assert t.read().count() == 990
    rv = restore(t, v)
    assert len(t.position_dvs(rv)) == 1
    assert t.read().count() == 990


def test_pdv_clone_and_vacuum_protection(spark, tmp_path):
    t = _mk(spark, tmp_path)
    delete_where(t, "k < 100", merge_on_read=True)
    c = clone(t, str(tmp_path / "c"))
    assert c.read().count() == 900
    # vacuum on the source keeps the vector (referenced by the retained
    # manifest) and the clone protects it too
    rep = vacuum(t, retain_versions=1, protect_roots=[str(tmp_path)])
    assert not any("pdv_" in d for d in rep.removed_dirs)
    assert t.read().count() == 900 and c.read().count() == 900


def test_pdv_cdc_and_change_feed(spark, tmp_path):
    t = _mk(spark, tmp_path, n=400)
    t.enable_change_data_feed()
    v = delete_where(t, "k BETWEEN 100 AND 149", merge_on_read=True)
    # CDF: full deleted payloads
    feed = t.read_changes_cdf(v - 1, v)
    rows = feed.collect()
    assert len(rows) == 50
    assert {r._change_type for r in rows} == {"delete"}
    assert sorted(r.k for r in rows) == list(range(100, 150))
    # manifest CDC (keys only) agrees
    cdc = t.read_changes_cdc(v - 1, v, keys=["k"])
    dels = sorted(r.k for r in cdc.filter("change_type = 'delete'").collect())
    assert dels == list(range(100, 150))


def test_pdv_cdc_without_feed_still_exact(spark, tmp_path):
    t = _mk(spark, tmp_path, n=300)
    v = delete_where(t, "k BETWEEN 7 AND 21", merge_on_read=True)
    cdc = t.read_changes_cdc(v - 1, v, keys=["k"])
    dels = sorted(r.k for r in cdc.filter("change_type = 'delete'").collect())
    assert dels == list(range(7, 22))


def test_pdv_read_changes_refuses_and_stream_contract(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100)
    v = delete_where(t, "k = 5", merge_on_read=True)
    with pytest.raises(ValueError, match="deletion-vector commit"):
        t.read_changes(v - 1, v)
    # the streaming source treats a pdv commit as non-append
    from weather_etl_docker_airflow_project_spark.sources.versioned_stream import (
        VersionedTableStreamReader,
    )

    reader = VersionedTableStreamReader(
        t.snapshot_schema(v), {"tabledir": t.dir}
    )
    with pytest.raises(ValueError, match="not a pure append"):
        reader._delta_dirs(v - 1, v)


def test_pdv_vanilla_batch_source_applies_masks(spark, tmp_path):
    from weather_etl_docker_airflow_project_spark.sources import (
        versioned_stream,
    )

    versioned_stream.register(spark)
    t = _mk(spark, tmp_path)
    delete_where(t, [("k", "in", tuple(range(0, 1000, 7)))], merge_on_read=True)
    got = (
        spark.read.format("versioned_table")
        .option("tableDir", t.dir)
        .load()
    )
    assert got.count() == 1000 - 143
    assert got.filter("k = 7").count() == 0
    assert got.filter("k = 8").count() == 1
    # versionAsOf before the delete sees everything
    v1 = (
        spark.read.format("versioned_table")
        .option("tableDir", t.dir)
        .option("versionAsOf", "2")
        .load()
    )
    assert v1.count() == 1000


def test_pdv_commutes_with_append_interloper(spark, tmp_path, monkeypatch):
    """A CAS loss against a pure append rebases (positions reference
    immutable files an append never touches)."""
    t = _mk(spark, tmp_path, n=200)
    orig = t._publish_manifest
    state = {"raced": False}

    def _racing(manifest, version):
        if not state["raced"] and manifest.op == "delete (merge-on-read)":
            state["raced"] = True
            t2 = VersionedTable(spark, t.dir)
            t2.commit(
                spark.range(999, 1000).select(
                    F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
                ),
                mode="append",
            )
        return orig(manifest, version)

    monkeypatch.setattr(t, "_publish_manifest", _racing)
    v = delete_where(t, "k < 10", merge_on_read=True)
    assert state["raced"]
    assert v == t.versions()[-1]
    snap = t.read()
    assert snap.count() == 191  # 200 - 10 deleted + 1 appended
    assert snap.filter("k = 999").count() == 1


def test_pdv_survives_rename_column(spark, tmp_path):
    """Position vectors are column-agnostic: a rename that would refuse
    under an active key-set DV sails through."""
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        rename_column,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.enable_column_mapping()
    t.commit(
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )
    )
    delete_where(t, "k < 10", merge_on_read=True)
    rename_column(t, "v", "val")
    snap = t.read()
    assert snap.columns == ["k", "val"]
    assert snap.count() == 90


def test_pdv_survives_granular_bucket_rewrite(spark, tmp_path):
    """Round-13 review finding: _commit_granular must carry position
    vectors for untouched-bucket dirs — a granular merge after a
    merge-on-read delete must not resurrect the deleted rows."""
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        compact_incremental,
        merge_upsert,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 4)
    t.commit(
        spark.range(400).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )
    )
    delete_where(t, "k BETWEEN 100 AND 199", merge_on_read=True)
    assert t.read().count() == 300
    # granular merge touching ONE key's bucket: the carried buckets'
    # position coverage must ride along
    v = merge_upsert(
        t, spark.createDataFrame([(0, 999.0)], "k bigint, v double"), ["k"]
    )
    assert len(t.position_dvs(v)) == 1
    snap = t.read()
    assert snap.count() == 300
    assert snap.filter("k BETWEEN 100 AND 199").count() == 0
    assert snap.filter("k = 0").first().v == 999.0
    # incremental compaction (granular path) keeps coverage too
    compact_incremental(t, min_dir_bytes=1)
    assert t.read().count() == 300
    assert t.read().filter("k = 150").count() == 0


def test_pdv_table_path_with_space(spark, tmp_path):
    """Round-13 review finding: Spark reports _metadata.file_path
    URI-ENCODED ('%20' for spaces); the recorded vector spelling must
    still match the manifest's plain paths at mask time."""
    t = VersionedTable(spark, str(tmp_path / "my table" / "t"))
    t.set_stats_columns(["k"])
    t.commit(
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )
    )
    v = delete_where(t, "k < 30", merge_on_read=True)
    assert len(t.position_dvs(v)) == 1
    assert t.read().count() == 70  # masks applied, not silently skipped
    assert t.read().filter("k < 30").count() == 0


def test_pdv_columns_named_file_and_pos(spark, tmp_path):
    """Round-13 review finding: user columns named 'file'/'pos' must
    neither break the position scan nor vanish from the change feed."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.enable_change_data_feed()
    t.commit(
        spark.range(50).select(
            F.col("id").alias("k"),
            F.concat(F.lit("f"), F.col("id").cast("string")).alias("file"),
            F.col("id").alias("pos"),
        )
    )
    v = delete_where(t, "k < 10", merge_on_read=True)
    assert t.read().count() == 40
    feed = t.read_changes_cdf(v - 1, v)
    assert feed.count() == 10
    assert set(feed.columns) >= {"k", "file", "pos", "_change_type"}
    assert sorted(r.file for r in feed.collect()) == sorted(
        f"f{i}" for i in range(10)
    )
