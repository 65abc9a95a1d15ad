"""Round-12 gates, part 3: multi-writer AUTO-REBASE of commuting
commits (the r11 verdict's item 2 — Delta's OptimisticTransaction in
miniature, with S28 bucket-disjointness as the conflict predicate).

Contract under test:
- blind append ∥ any commit: the loser republishes on top of the new
  latest, metadata-only (the staged batch is never rewritten), both
  land with NO caller retry;
- granular merge ∥ disjoint-bucket commit: commutes, auto-rebases;
- granular merge ∥ same-bucket commit / DV change: hard conflict,
  ConcurrentCommitError (caller re-runs);
- a keyed merge/delete that is NOT bucket-granular ∥ any commit, even
  an append into a bucket no base dir holds: hard conflict;
- scoped OPTIMIZE ∥ append: commutes, appended dirs carry unclustered.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.operators.versioned import (
    ConcurrentCommitError,
    VersionedTable,
    _bucket_column,
    _dir_zchunk,
    cluster_rewrite,
    delete_by_keys,
    merge_upsert,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _bucket_of(spark, key, n_buckets):
    return (
        spark.createDataFrame([(key,)], "k long")
        .select(_bucket_column(["k"], n_buckets).alias("b"))
        .first()
        .b
    )


def _keys_same_diff_bucket(spark, anchor, n_buckets, lo=9000, hi=9100):
    """(same-bucket key, different-bucket key) relative to anchor."""
    target = _bucket_of(spark, anchor, n_buckets)
    rows = (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), _bucket_column(["k"], n_buckets).alias("b"))
        .collect()
    )
    same = next(r.k for r in rows if r.b == target)
    diff = next(r.k for r in rows if r.b != target)
    return same, diff


def test_blind_append_auto_rebases_on_lost_race(spark, tmp_path, monkeypatch):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(i, f"v{i}") for i in range(10)]))
    other = VersionedTable(spark, t.dir)
    real = t._write_batch
    fired = []

    def staged_then_raced(df, version, colmap=None):
        dirs = real(df, version, colmap=colmap)
        if not fired:
            fired.append(True)
            other.commit(_mk(spark, [(100, "B")]), mode="append")
        return dirs

    monkeypatch.setattr(t, "_write_batch", staged_then_raced)
    v = t.commit(_mk(spark, [(200, "A")]), mode="append")
    # interloper took version 2; the rebase republished ours as 3
    assert v == 3
    snap = {r.k: r.v for r in t.read().collect()}
    assert snap[100] == "B" and snap[200] == "A" and len(snap) == 12
    # exactly one staged batch for our append — no data rewrite on rebase
    assert len(fired) == 1


def test_append_rebase_refuses_when_schema_moved(spark, tmp_path, monkeypatch):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    other = VersionedTable(spark, t.dir)
    real = t._write_batch
    fired = []

    def staged_then_evolved(df, version, colmap=None):
        dirs = real(df, version, colmap=colmap)
        if not fired:
            fired.append(True)
            other.commit(
                spark.createDataFrame([(2, "b", 1.5)], "k long, v string, w double"),
                mode="append",
                allow_schema_evolution=True,
            )
        return dirs

    monkeypatch.setattr(t, "_write_batch", staged_then_evolved)
    # our batch lacks the evolved-in column — republishing our schema
    # would silently revert the evolution; must raise instead
    with pytest.raises(ConcurrentCommitError):
        t.commit(_mk(spark, [(3, "c")]), mode="append")


def _bucketed(spark, tmp_path, n=64, buckets=8):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], buckets)
    t.commit(_mk(spark, [(i, f"v{i}") for i in range(n)]))
    return t


def _race_read(monkeypatch, t, interloper):
    """Monkeypatch t.read so the FIRST call runs `interloper` (a
    concurrent writer landing between base read and publish), then
    restores the real read."""
    real_read = t.read

    def read_once(version=None):
        monkeypatch.setattr(t, "read", real_read)
        interloper()
        return real_read(version=version)

    monkeypatch.setattr(t, "read", read_once)


def test_disjoint_bucket_merges_both_land_no_retry(
    spark, tmp_path, monkeypatch
):
    t = _bucketed(spark, tmp_path)
    other = VersionedTable(spark, t.dir)
    _same, diff = _keys_same_diff_bucket(spark, 1, 8)

    _race_read(
        monkeypatch,
        t,
        lambda: merge_upsert(other, _mk(spark, [(diff, "B")]), keys=["k"]),
    )
    merge_upsert(t, _mk(spark, [(1, "A")]), keys=["k"])  # no raise
    snap = {r.k: r.v for r in t.read().collect()}
    assert snap[1] == "A" and snap[diff] == "B"
    assert len(snap) == 65  # 64 base rows, key 1 updated, `diff` inserted
    # both merge commits are in the history
    assert [h["op"] for h in t.history()][-2:] == ["merge", "merge"]


def test_same_bucket_merge_is_a_hard_conflict(spark, tmp_path, monkeypatch):
    t = _bucketed(spark, tmp_path)
    other = VersionedTable(spark, t.dir)
    same, _diff = _keys_same_diff_bucket(spark, 1, 8)

    _race_read(
        monkeypatch,
        t,
        lambda: merge_upsert(other, _mk(spark, [(same, "B")]), keys=["k"]),
    )
    with pytest.raises(ConcurrentCommitError):
        merge_upsert(t, _mk(spark, [(1, "A")]), keys=["k"])
    # retry against the new base succeeds
    merge_upsert(t, _mk(spark, [(1, "A")]), keys=["k"])
    snap = {r.k: r.v for r in t.read().collect()}
    assert snap[1] == "A" and snap[same] == "B"


def test_dv_change_blocks_merge_rebase(spark, tmp_path, monkeypatch):
    """An interloper merge-on-read DELETE changes DV lines: the in-flight
    merge's rewritten buckets were read WITHOUT that DV, so rebasing
    would resurrect deleted rows — must raise regardless of buckets."""
    t = _bucketed(spark, tmp_path)
    other = VersionedTable(spark, t.dir)
    _same, diff = _keys_same_diff_bucket(spark, 1, 8)

    _race_read(
        monkeypatch,
        t,
        lambda: delete_by_keys(
            other,
            spark.createDataFrame([Row(k=diff)]),
            keys=["k"],
            merge_on_read=True,
        ),
    )
    with pytest.raises(ConcurrentCommitError):
        merge_upsert(t, _mk(spark, [(1, "A")]), keys=["k"])


def test_disjoint_granular_deletes_both_land(spark, tmp_path, monkeypatch):
    t = _bucketed(spark, tmp_path)
    other = VersionedTable(spark, t.dir)
    same, diff = _keys_same_diff_bucket(spark, 2, 8, lo=0, hi=64)

    _race_read(
        monkeypatch,
        t,
        lambda: delete_by_keys(
            other, spark.createDataFrame([Row(k=diff)]), keys=["k"]
        ),
    )
    delete_by_keys(t, spark.createDataFrame([Row(k=2)]), keys=["k"])
    remaining = {r.k for r in t.read().collect()}
    assert 2 not in remaining and diff not in remaining
    assert len(remaining) == 62
    del same


@pytest.mark.parametrize("rewrite", ["merge", "delete"])
def test_non_granular_keyed_rewrite_refuses_disjoint_bucket_append(
    spark, tmp_path, monkeypatch, rewrite
):
    """Keys that do not cover the bucket keys make the rewrite a
    whole-snapshot one: a concurrent append can hold rows matching its
    keys in ANY bucket, including one no base dir holds. Rebasing over
    it (as a granular rewrite would over a disjoint bucket) would leave
    the appended key-1 row unmerged / undeleted."""
    ddl = "k long, g long, v string"
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["g"], 8)
    t.commit(spark.createDataFrame([(i, 0, f"v{i}") for i in range(20)], ddl))
    assert len(t._manifest(1)) == 1  # every base row is in g=0's bucket
    _same, other_g = _keys_same_diff_bucket(spark, 0, 8, lo=1, hi=100)

    def apply():
        if rewrite == "merge":
            src = spark.createDataFrame([(1, 0, "A")], ddl)
            return merge_upsert(t, src, keys=["k"])
        dels = spark.createDataFrame([(1,)], "k long")
        return delete_by_keys(t, dels, keys=["k"])

    _race_read(
        monkeypatch,
        t,
        lambda: VersionedTable(spark, t.dir).commit(
            spark.createDataFrame([(1, other_g, "late")], ddl)
        ),
    )
    with pytest.raises(ConcurrentCommitError):
        apply()
    assert t.latest_version() == 2  # only the interloper landed
    # the retry against the new base sees the appended key-1 row too
    apply()
    key1 = [r.v for r in t.read().collect() if r.k == 1]
    assert key1 == (["A"] if rewrite == "merge" else [])
    assert t.read().count() == (20 if rewrite == "merge" else 19)


def test_optimize_rebases_over_concurrent_append(spark, tmp_path, monkeypatch):
    """OPTIMIZE ∥ ingest — the standard maintenance race: the append's
    dirs join the new manifest un-clustered (carried), both commits
    land, and the next incremental OPTIMIZE picks the append up."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [Row(k=i, x=float(i % 100)) for i in range(2000)]
        )
    )
    other = VersionedTable(spark, t.dir)
    real_dvs = t.deletion_vectors
    fired = []

    def dvs_racing(version):
        if not fired:
            fired.append(True)
            other.commit(
                spark.createDataFrame(
                    [Row(k=9000 + i, x=float(i)) for i in range(50)]
                ),
                mode="append",
            )
        return real_dvs(version)

    monkeypatch.setattr(t, "deletion_vectors", dvs_racing)
    v = cluster_rewrite(t, ["x"], n_chunks=4, bits=5)
    monkeypatch.setattr(t, "deletion_vectors", real_dvs)
    manifest = t._manifest(v)
    unclustered = [d for d in manifest if not _dir_zchunk(d)]
    assert len(unclustered) == 1  # the interloper's append dir, carried
    assert t.read().count() == 2050
    # incremental pickup
    v2 = cluster_rewrite(t, ["x"], n_chunks=2, bits=5, incremental=True)
    assert all(_dir_zchunk(d) for d in t._manifest(v2))
    assert t.read().count() == 2050


def test_mor_key_delete_rebases_over_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """merge-on-read delete_by_keys ∥ append: the vector covers only the
    base snapshot's dirs, which an append never touches, so the lost CAS
    rebases onto the append and both commits land with no caller retry."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(i, f"v{i}") for i in range(10)]))
    real = t._publish_manifest
    fired = []

    def raced(manifest, version):
        if not fired:
            fired.append(version)
            VersionedTable(spark, t.dir).commit(
                _mk(spark, [(100, "B"), (3, "again")]), mode="append"
            )
        return real(manifest, version)

    monkeypatch.setattr(t, "_publish_manifest", raced)
    v = delete_by_keys(
        t,
        spark.createDataFrame([Row(k=3), Row(k=4)]),
        keys=["k"],
        merge_on_read=True,
    )
    # the interloper took version 2; the rebase republished ours as 3
    assert fired == [2] and v == 3
    assert [h["op"] for h in t.history()] == [
        "append", "append", "delete (merge-on-read)"
    ]
    snap = {r.k: r.v for r in t.read().collect()}
    # the appended key 3 lands in an uncovered dir and survives
    # (delete-as-of-read); 4 and the base row 3 are gone
    assert snap[100] == "B" and snap[3] == "again" and 4 not in snap
    assert len(snap) == 10
