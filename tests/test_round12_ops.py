"""Round-12 gates, part 1: the r11 ADVICE fixes and the widened
granular-merge trigger.

- granular merge + schema evolution on a column-mapped bucketed table
  (the colmap must mint fresh physical ids for evolved-in columns)
- identity commits pin their base version (two racing identity writers
  can no longer issue duplicate id ranges)
- ignoreChanges delivers a rewrite commit's NEW dirs (Delta's exact
  contract: duplicates possible, removals invisible)
- rename_column re-keys the layout and stats columns inside its own
  manifest commit, so a lost race leaves them untouched
- a vacuumed stream offset raises instead of re-delivering the next
  manifest wholesale
- rewrite keys ⊇ bucket keys still takes the bucket-granular path with
  untouched dirs carried byte-identical
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.operators import versioned as V
from weather_etl_docker_airflow_project_spark.operators.versioned import (
    ConcurrentCommitError,
    VersionedTable,
    _granular_split,
    commit_with_identity,
    delete_by_keys,
    merge_upsert,
    rename_column,
)


def _rows(n, off=0):
    return [Row(k=off + i, extra=(off + i) % 3, val=float(off + i)) for i in range(n)]


# ---------------------------------------------------------------- ADVICE 1


def test_granular_merge_schema_evolution_on_mapped_bucketed_table(
    spark, tmp_path
):
    """A granular merge with allow_schema_evolution=True on a
    column-mapped bucketed table must mint a FRESH physical id for the
    evolved-in column (the r11 ADVICE medium: deriving the colmap from
    the base version KeyErrored in _write_batch)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.enable_column_mapping()
    t.set_layout(["k"], 8)
    t.commit(spark.createDataFrame([Row(k=i, val=float(i)) for i in range(40)]))
    src = spark.createDataFrame(
        [Row(k=3, val=99.0, tag="new"), Row(k=100, val=1.0, tag="ins")]
    )
    v2 = merge_upsert(t, src, keys=["k"], allow_schema_evolution=True)
    # the merge stayed granular (carried dirs by reference)
    carried = set(t._manifest(1)) & set(t._manifest(v2))
    assert carried, "granular merge carried nothing"
    # the evolved column got its own physical id in the published map
    cm = t.column_mapping(v2)
    assert "tag" in cm
    assert cm["tag"] not in {p for c, p in cm.items() if c != "tag"}
    out = t.read()
    assert out.columns == ["k", "val", "tag"]
    got = {r.k: r.tag for r in out.collect()}
    assert got[3] == "new" and got[100] == "ins"
    # carried rows (untouched buckets) surface NULL for the new column
    assert got[4] is None


# ---------------------------------------------------------------- ADVICE 2


def test_identity_commit_detects_concurrent_writer(spark, tmp_path, monkeypatch):
    """Two identity writers both reading hwm=N: the second must fail
    with ConcurrentCommitError, never issue duplicate ids (the commit is
    pinned to the version observed at the hwm read)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    commit_with_identity(
        t,
        spark.createDataFrame([Row(ts=float(i)) for i in range(10)]),
        id_col="id",
        order_cols=["ts"],
    )
    real_hwm = V.identity_high_water

    def racing_hwm(table, id_col):
        hwm = real_hwm(table, id_col)
        # interloper identity commit lands AFTER our hwm read
        monkeypatch.setattr(V, "identity_high_water", real_hwm)
        commit_with_identity(
            VersionedTable(spark, t.dir),
            spark.createDataFrame([Row(ts=100.0 + i) for i in range(5)]),
            id_col="id",
            order_cols=["ts"],
        )
        return hwm

    monkeypatch.setattr(V, "identity_high_water", racing_hwm)
    with pytest.raises(ConcurrentCommitError):
        commit_with_identity(
            t,
            spark.createDataFrame([Row(ts=200.0 + i) for i in range(5)]),
            id_col="id",
            order_cols=["ts"],
        )
    # no duplicate ids were ever issued
    ids = [r.id for r in t.read().select("id").collect()]
    assert sorted(ids) == list(range(1, 16))


# ---------------------------------------------------------------- ADVICE 3


def test_ignore_changes_delivers_rewrite_new_dirs(spark, tmp_path):
    """Delta's ignoreChanges contract exactly: a non-append commit's NEW
    dirs are still streamed (duplicates possible), removals invisible."""
    from weather_etl_docker_airflow_project_spark.streaming.windows import (
        drain_versioned_source,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([Row(k=i, grp=i % 5) for i in range(50)]))
    t.commit(
        spark.createDataFrame([Row(k=50 + i, grp=i % 5) for i in range(50)]),
        mode="append",
    )
    # overwrite rewrites the snapshot down to 10 rows
    t.commit(
        spark.createDataFrame([Row(k=1000 + i, grp=0) for i in range(10)]),
        mode="overwrite",
    )
    drained, _ = drain_versioned_source(
        spark, t, per_batch=1, ignore_changes=True
    )
    got = sorted(r.k for r in drained.collect())
    # both appends streamed, AND the overwrite's new dirs delivered
    assert got == list(range(100)) + list(range(1000, 1010))


# ---------------------------------------------------------------- ADVICE 4


def test_rename_lost_race_leaves_layout_and_stats_untouched(spark, tmp_path):
    """rename_column re-keys the layout and stats columns in the same
    manifest commit as the schema: when the CAS loses a concurrent-commit
    race, both must keep the OLD column name (a lost race must never
    leave the table bucketing/collecting stats under a name the schema
    doesn't have)."""

    class RacedTable(VersionedTable):
        raced = False

        def _publish_manifest(self, manifest, version):
            if not RacedTable.raced and manifest.op == "rename_column":
                RacedTable.raced = True
                # interloper append lands first, taking our version slot
                VersionedTable(self.spark, self.dir).commit(
                    self.spark.createDataFrame([Row(k=999, val=0.0)]),
                    mode="append",
                )
            return super()._publish_manifest(manifest, version)

    t = RacedTable(spark, str(tmp_path / "t"))
    t.enable_column_mapping()
    t.set_layout(["k"], 4)
    t.set_stats_columns(["k"])
    t.commit(spark.createDataFrame([Row(k=i, val=float(i)) for i in range(20)]))
    with pytest.raises(ConcurrentCommitError):
        rename_column(t, "k", "key_id")
    assert t.layout()["bucket_keys"] == ["k"]
    assert t.stats_columns() == ["k"]
    # schema unchanged too: the rename was a clean no-op
    assert [f.name for f in t.read().schema.fields] == ["k", "val"]
    # and a retry against the new base succeeds, updating everything
    rename_column(t, "k", "key_id")
    assert t.layout()["bucket_keys"] == ["key_id"]
    assert t.stats_columns() == ["key_id"]


# ---------------------------------------------------------------- ADVICE 5


def test_stream_offset_vacuumed_raises(spark, tmp_path):
    """A micro-batch whose start offset's manifest was vacuumed must
    raise, not silently re-deliver the entire next manifest as added."""
    from weather_etl_docker_airflow_project_spark.sources.versioned_stream import (
        VersionedTableStreamReader,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    for c in range(4):
        t.commit(
            spark.createDataFrame([Row(k=c * 10 + i) for i in range(10)]),
            mode="append",
        )
    V.vacuum(t, retain_versions=1)  # versions 1..3 retired
    reader = VersionedTableStreamReader(
        t.snapshot_schema(4), {"tabledir": t.dir}
    )
    with pytest.raises(ValueError, match="no longer in the commit log"):
        reader._delta_dirs(2, 4)
    # offset 0 (stream-from-beginning) stays legal
    assert any(dirs for _v, dirs in reader._delta_dirs(0, 4))


# ------------------------------------------------- superset-key granular


def test_superset_key_merge_takes_granular_path(spark, tmp_path):
    """A merge keyed on (k, extra) over a table bucketed on k alone is
    still bucket-prunable (r11 verdict item 5): untouched dirs must be
    carried BYTE-IDENTICAL and the result must match full-merge
    semantics."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 16)
    t.commit(spark.createDataFrame(_rows(80)))
    base_dirs = set(t._manifest(1))
    file_bytes = {}
    for d in base_dirs:
        for root, _s, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    file_bytes[p] = open(p, "rb").read()
    src = spark.createDataFrame(
        [Row(k=7, extra=1, val=777.0), Row(k=500, extra=2, val=5.0)]
    )
    split = _granular_split(t, 1, src, ["k", "extra"])
    assert split[3] is not None, "superset-key rewrite did not take the granular path"
    v2 = merge_upsert(t, src, keys=["k", "extra"])
    carried = set(t._manifest(v2)) & base_dirs
    assert len(carried) >= len(base_dirs) - 2
    for d in carried:
        for root, _s, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    assert open(p, "rb").read() == file_bytes[p]
    out = {(r.k, r.extra): r.val for r in t.read().collect()}
    assert out[(7, 1)] == 777.0 and out[(500, 2)] == 5.0
    assert len(out) == 81  # (7,1) replaced, (500,2) inserted
    # rows sharing bucket key but differing on extra were NOT replaced
    assert out[(8, 2)] == 8.0


def test_superset_key_merge_respects_full_key_matching(spark, tmp_path):
    """The widened trigger must not change matching semantics: a source
    row agreeing on the bucket key but not the full merge key INSERTS
    (no phantom update of the same-bucket row)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 8)
    t.commit(spark.createDataFrame([Row(k=1, extra=0, val=1.0)]))
    src = spark.createDataFrame([Row(k=1, extra=9, val=9.0)])
    merge_upsert(t, src, keys=["k", "extra"])
    out = sorted((r.k, r.extra, r.val) for r in t.read().collect())
    assert out == [(1, 0, 1.0), (1, 9, 9.0)]


def test_superset_key_delete_granular(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 16)
    t.commit(spark.createDataFrame(_rows(60)))
    base_dirs = set(t._manifest(1))
    dels = spark.createDataFrame([Row(k=5, extra=2), Row(k=9, extra=0)])
    v2 = delete_by_keys(t, dels, keys=["k", "extra"])
    assert len(set(t._manifest(v2)) & base_dirs) >= len(base_dirs) - 2
    remaining = {(r.k, r.extra) for r in t.read().collect()}
    assert (5, 2) not in remaining and (9, 0) not in remaining
    assert len(remaining) == 58
