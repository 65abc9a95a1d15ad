"""Round-11 surface: key-bucketed table layout with bucket-granular
copy-on-write (the r10 verdict's top task) — sparse merges/deletes must
rewrite ONLY touched buckets and carry the rest by manifest reference;
the change feed must prune overwrite-leg diffs to changed buckets; clones
must carry constraints+layout; vacuum must honor clone references
(protect_roots) and reclaim orphaned buckets inside live batch dirs."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.operators.versioned import (
    ConcurrentCommitError,
    ConstraintViolation,
    VersionedTable,
    _dir_bucket,
    clone,
    compact,
    delete_by_keys,
    merge_upsert,
    vacuum,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _dir_fingerprint(d):
    """(relative path, byte hash) of every file under a dir — byte-level
    identity for the untouched-bucket assertion."""
    out = {}
    for root, _sub, files in os.walk(d):
        for f in sorted(files):
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return out


def _bucketed(spark, tmp_path, n=200, buckets=8, name="t"):
    t = VersionedTable(spark, str(tmp_path / name))
    t.set_layout(["k"], buckets)
    df = spark.range(0, n).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    t.commit(df)
    return t


# ---------------------------------------------------------------------------
# sparse merge: untouched buckets carried by reference, byte-identical
# ---------------------------------------------------------------------------


def test_sparse_merge_rewrites_only_touched_buckets(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=200, buckets=8)
    m1 = t._manifest(1)
    assert len(m1) == 8 and all(_dir_bucket(d) is not None for d in m1)
    before = {d: _dir_fingerprint(d) for d in m1}
    # single-key merge -> exactly one touched bucket
    merge_upsert(t, _mk(spark, [(7, "NEW")]), keys=["k"])
    m2 = t._manifest(2)
    carried = [d for d in m2 if d in set(m1)]
    fresh = [d for d in m2 if d not in set(m1)]
    assert len(fresh) == 1, f"one touched bucket expected, got {fresh}"
    assert len(carried) == 7
    # carried dirs are the SAME paths and byte-identical (never rewritten)
    for d in carried:
        assert _dir_fingerprint(d) == before[d]
    # and the snapshot is the correct merge result
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap[7] == "NEW" and snap[6] == "v6" and len(snap) == 200


def test_sparse_merge_insert_only_into_empty_bucket_region(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=10, buckets=64)
    # n=10 rows over 64 buckets: most buckets empty. Insert keys landing
    # in (very likely) untouched empty buckets; merged snapshot correct.
    merge_upsert(t, _mk(spark, [(1000, "a"), (2000, "b")]), keys=["k"])
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap[1000] == "a" and snap[2000] == "b" and len(snap) == 12


def test_merge_null_key_inserts_and_never_matches(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=20, buckets=4)
    src = spark.createDataFrame([(None, "nullrow"), (3, "upd")], "k long, v string")
    merge_upsert(t, src, keys=["k"])
    rows = t.read().collect()
    assert len(rows) == 21
    assert {r["v"] for r in rows if r["k"] is None} == {"nullrow"}
    assert {r["v"] for r in rows if r["k"] == 3} == {"upd"}


def test_conditional_merge_bucketed(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 4)
    t.commit(spark.createDataFrame([(1, 10), (2, 20)], "k long, n long"))
    src = spark.createDataFrame([(1, 5), (2, 99), (3, 1)], "k long, n long")
    merge_upsert(t, src, keys=["k"], when_matched_condition="s.n > t.n")
    snap = {r["k"]: r["n"] for r in t.read().collect()}
    # 1: 5 < 10 carried; 2: 99 > 20 updated; 3 inserted
    assert snap == {1: 10, 2: 99, 3: 1}


def test_granular_merge_conflict_with_interloper(spark, tmp_path, monkeypatch):
    """r12 semantics: a concurrent append into one of the merge's
    TOUCHED buckets is a true conflict (its rows could match the merge
    keys — raise, caller retries); an append into a DISJOINT bucket
    commutes and the merge AUTO-REBASES on top of it, no caller retry
    (Delta's OptimisticTransaction, bucket-disjointness as the
    conflict predicate)."""
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        _bucket_column,
    )

    t = _bucketed(spark, tmp_path, n=50, buckets=4)
    other = VersionedTable(spark, str(tmp_path / "t"))
    real_read = t.read
    # deterministically pick interloper keys in the same / a different
    # bucket as merge key 1
    probe = {
        r["k"]: r["b"]
        for r in spark.range(1, 9100)
        .select(F.col("id").alias("k"), _bucket_column(["k"], 4).alias("b"))
        .filter((F.col("k") == 1) | (F.col("k") >= 9000))
        .collect()
    }
    b1 = probe[1]
    same = next(k for k, b in probe.items() if k >= 9000 and b == b1)
    diff = next(k for k, b in probe.items() if k >= 9000 and b != b1)

    def read_with_interloper(key):
        def _read(version=None):
            other.commit(_mk(spark, [(key, "z")]), mode="append")
            monkeypatch.setattr(t, "read", real_read)
            return real_read(version=version)

        return _read

    # crossing-bucket interloper: hard conflict, retry required
    monkeypatch.setattr(t, "read", read_with_interloper(same))
    with pytest.raises(ConcurrentCommitError):
        merge_upsert(t, _mk(spark, [(1, "NEW")]), keys=["k"])
    # interloper's append survived; retry succeeds against new base
    merge_upsert(t, _mk(spark, [(1, "NEW")]), keys=["k"])
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap[1] == "NEW" and snap[same] == "z" and len(snap) == 51

    # disjoint-bucket interloper: the merge auto-rebases — ONE call,
    # both commits land
    monkeypatch.setattr(t, "read", read_with_interloper(diff))
    merge_upsert(t, _mk(spark, [(1, "NEWER")]), keys=["k"])
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap[1] == "NEWER" and snap[diff] == "z" and len(snap) == 52


# ---------------------------------------------------------------------------
# bucket-granular delete
# ---------------------------------------------------------------------------


def test_delete_by_keys_granular(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=100, buckets=8)
    m1 = t._manifest(1)
    delete_by_keys(
        t, spark.createDataFrame([(5,), (None,)], "k long"), keys=["k"]
    )
    m2 = t._manifest(2)
    carried = [d for d in m2 if d in set(m1)]
    assert len(carried) >= 6  # at most 2 buckets touched (5's + NULL's)
    snap = {r["k"] for r in t.read().collect()}
    assert 5 not in snap and len(snap) == 99  # NULL key matched nothing


def test_delete_by_keys_unbucketed_fallback(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    delete_by_keys(t, spark.createDataFrame([(2,)], "k long"), keys=["k"])
    assert {r["k"] for r in t.read().collect()} == {1, 3}


# ---------------------------------------------------------------------------
# change feed across granular commits: pruned diff == full diff
# ---------------------------------------------------------------------------


def test_cdc_pruned_diff_matches_full_diff(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=100, buckets=8)
    merge_upsert(t, _mk(spark, [(3, "U3"), (777, "I")]), keys=["k"])
    delete_by_keys(t, spark.createDataFrame([(50,)], "k long"), keys=["k"])
    feed = sorted(
        (r["k"], r["change_type"], r["commit_version"])
        for r in t.read_changes_cdc(v_from=1, keys=["k"]).collect()
    )
    assert feed == [
        (3, "update", 2),
        (50, "delete", 3),
        (777, "insert", 2),
    ]
    # pruning applied: the v1->v2 overwrite-leg sides must be the
    # changed buckets only, not the full manifests
    pruned = t._bucket_pruned_sides(t._manifest(1), t._manifest(2), ["k"])
    assert pruned is not None
    old_side, new_side = pruned
    assert 0 < len(old_side) < len(t._manifest(1))
    assert 0 < len(new_side) < len(t._manifest(2))


def test_cdc_prune_skips_identical_commit(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=40, buckets=4)
    # merge that changes nothing new vs snapshot still rewrites its
    # bucket (copy-on-write), but a bucket-identical pair of versions
    # (compact on unbucketed tables) isn't constructible here; instead
    # check the pruner's contract directly: identical dir sets -> empty
    sides = t._bucket_pruned_sides(t._manifest(1), t._manifest(1), ["k"])
    assert sides == ([], [])
    # different keys -> no pruning
    assert t._bucket_pruned_sides(t._manifest(1), t._manifest(1), ["v"]) is None


# ---------------------------------------------------------------------------
# layout migration: pre-layout dirs force full rewrite, then granular
# ---------------------------------------------------------------------------


def test_layout_migration_via_first_merge(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(i, f"v{i}") for i in range(30)]))  # untagged batch
    assert t.set_layout(["k"], 4) == 2  # a metadata-only commit
    # first merge: fallback full rewrite, but written bucketed
    merge_upsert(t, _mk(spark, [(1, "X")]), keys=["k"])
    m3 = t._manifest(3)
    assert all(_dir_bucket(d) is not None for d in m3)
    # second merge: granular (carries untouched buckets)
    m_before = set(m3)
    merge_upsert(t, _mk(spark, [(2, "Y")]), keys=["k"])
    m4 = t._manifest(4)
    assert len([d for d in m4 if d in m_before]) == 3
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap[1] == "X" and snap[2] == "Y" and len(snap) == 30


# ---------------------------------------------------------------------------
# constraints compose with the bucketed write path
# ---------------------------------------------------------------------------


def test_bucketed_commit_enforces_constraints(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 4)
    t.set_constraints(["k >= 0"])
    t.commit(_mk(spark, [(1, "a")]))
    with pytest.raises(ConstraintViolation):
        merge_upsert(t, _mk(spark, [(-5, "bad")]), keys=["k"])
    assert len(t.versions()) == 1  # violating merge published nothing


# ---------------------------------------------------------------------------
# clone: metadata carry + vacuum protection
# ---------------------------------------------------------------------------


def test_clone_carries_constraints_and_layout(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 4)
    t.set_constraints(["v IS NOT NULL"])
    t.commit(_mk(spark, [(1, "a")]))
    c = clone(t, str(tmp_path / "c"))
    assert c.layout() == {"bucket_keys": ["k"], "n_buckets": 4}
    assert c.constraints() == ["v IS NOT NULL"]
    # enforcement actually fires on the clone (the r10 advice gap)
    with pytest.raises(ConstraintViolation):
        c.commit(_mk(spark, [(2, None)]), mode="append")
    # and the clone's merges are granular against referenced source dirs
    m1 = c._manifest(1)
    merge_upsert(c, _mk(spark, [(1, "z")]), keys=["k"])
    assert any(d in set(m1) for d in c._manifest(2)) or len(m1) == 1


def test_vacuum_protect_roots_keeps_clone_referenced_dirs(spark, tmp_path):
    root = tmp_path / "lake"
    t = VersionedTable(spark, str(root / "t"))
    t.commit(_mk(spark, [(1, "a"), (2, "b")]))
    c = clone(t, str(root / "c"))
    # source moves on: overwrite makes v1's batch unreferenced BY T
    t.commit(_mk(spark, [(9, "z")]), mode="overwrite")
    # UNPROTECTED vacuum on a parallel copy would delete the dir the
    # clone references; protected vacuum must keep it
    rep = vacuum(t, retain_versions=1, protect_roots=[str(root)])
    assert rep.protected_dirs, "clone-referenced dir should be protected"
    assert {r["k"] for r in c.read().collect()} == {1, 2}
    assert {r["k"] for r in t.read().collect()} == {9}
    # idempotent: re-running still protects
    rep2 = vacuum(t, retain_versions=1, protect_roots=[str(root)])
    assert not rep2.removed_dirs
    assert {r["k"] for r in c.read().collect()} == {1, 2}


def test_vacuum_without_protection_breaks_clone(spark, tmp_path):
    # pin the documented hazard so the contrast with protect_roots is real
    root = tmp_path / "lake"
    t = VersionedTable(spark, str(root / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    c = clone(t, str(root / "c"))
    t.commit(_mk(spark, [(2, "b")]), mode="overwrite")
    rep = vacuum(t, retain_versions=1)
    assert rep.removed_dirs
    with pytest.raises(Exception):
        c.read().collect()


def test_vacuum_reclaims_orphaned_buckets_in_live_batch(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=100, buckets=8)
    batch1_children = {os.path.dirname(d) for d in t._manifest(1)}
    assert len(batch1_children) == 1
    merge_upsert(t, _mk(spark, [(7, "NEW")]), keys=["k"])
    # after dropping v1, the touched bucket's OLD dir inside batch_1 is
    # orphaned while its 7 siblings stay live: vacuum must reclaim only it
    rep = vacuum(t, retain_versions=1)
    removed_buckets = [d for d in rep.removed_dirs if _dir_bucket(d) is not None]
    assert len(removed_buckets) == 1
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap[7] == "NEW" and len(snap) == 100


# ---------------------------------------------------------------------------
# compact + replicate on bucketed tables
# ---------------------------------------------------------------------------


def test_compact_bucketed_keeps_layout_and_rows(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 4)
    for i in range(3):
        t.commit(
            _mk(spark, [(i * 10 + j, f"v{i}{j}") for j in range(10)]),
            mode="append" if i else "overwrite",
        )
    rep = compact(t)
    assert rep.files_after <= 4  # one file per bucket
    m = t._manifest(rep.version)
    assert all(_dir_bucket(d) is not None for d in m)
    assert t.read().count() == 30
    # compacted table still merges granularly
    m_before = set(m)
    merge_upsert(t, _mk(spark, [(5, "X")]), keys=["k"])
    assert any(d in m_before for d in t._manifest(rep.version + 1))


def test_replicate_changes_into_bucketed_replica(spark, tmp_path):
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        replicate_changes,
    )

    src = VersionedTable(spark, str(tmp_path / "src"))
    src.set_layout(["k"], 4)
    src.commit(_mk(spark, [(i, f"v{i}") for i in range(20)]))
    replica = clone(src, str(tmp_path / "rep"))
    # source history: sparse merge, then delete
    merge_upsert(src, _mk(spark, [(3, "U"), (100, "I")]), keys=["k"])
    delete_by_keys(src, spark.createDataFrame([(7,)], "k long"), keys=["k"])
    replicate_changes(src, replica, v_from=1, keys=["k"])
    assert sorted(
        (r["k"], r["v"]) for r in replica.read().collect()
    ) == sorted((r["k"], r["v"]) for r in src.read().collect())


# ---------------------------------------------------------------------------
# wedge-stream kernel: chunked per-node expansion (r10 advice)
# ---------------------------------------------------------------------------


def test_wedge_stream_chunked_matches_unchunked(spark):
    """A tiny wedge_slice forces MANY slices per hub node (the hub has
    ~19*38 wedges vs slice=7); results must be identical to the
    single-slice expansion and to the attach path — slicing is pure
    memory shape, never semantics."""
    import itertools
    import random
    from collections import Counter

    from weather_etl_docker_airflow_project_spark.operators.graph import (
        triangle_counts,
    )

    rng = random.Random(11)
    n = 40
    es = {(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.15}
    es |= {(0, b) for b in range(1, n)}  # full-degree hub
    adj = {v: set() for v in range(n)}
    for a, b in es:
        adj[a].add(b)
        adj[b].add(a)
    want: Counter = Counter()
    for u, v, w in itertools.combinations(range(n), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            want.update((u, v, w))
    edges = spark.createDataFrame(sorted(es), "a long, b long")
    chunked = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(
            edges, max_attach_edges=0, wedge_slice=7
        ).collect()
    }
    assert chunked == dict(want)
    unchunked = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(edges, max_attach_edges=0).collect()
    }
    assert chunked == unchunked


# ---------------------------------------------------------------------------
# read_at_keys: bucket-pruned point lookup
# ---------------------------------------------------------------------------


def test_read_at_keys_prunes_and_matches(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=200, buckets=16)
    probe = spark.createDataFrame([(5,), (42,), (9999,), (None,)], "k long")
    got = sorted(
        (r["k"], r["v"]) for r in t.read_at_keys(probe, keys=["k"]).collect()
    )
    # 9999 absent, NULL matches nothing
    assert got == [(5, "v5"), (42, "v42")]
    # pruning actually narrowed the scan
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        _granular_split,
    )

    split = _granular_split(t, 1, probe, ["k"])
    assert split[3] is not None and len(split[1]) < len(t._manifest(1))


def test_read_at_keys_fallback_unbucketed(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a"), (2, "b")]))
    probe = spark.createDataFrame([(2,)], "k long")
    assert [(r["k"], r["v"]) for r in t.read_at_keys(probe, keys=["k"]).collect()] == [
        (2, "b")
    ]


def test_read_at_keys_time_travel(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=20, buckets=4)
    merge_upsert(t, _mk(spark, [(3, "NEW")]), keys=["k"])
    probe = spark.createDataFrame([(3,)], "k long")
    assert [r["v"] for r in t.read_at_keys(probe, ["k"], version=1).collect()] == ["v3"]
    assert [r["v"] for r in t.read_at_keys(probe, ["k"], version=2).collect()] == ["NEW"]


# ---------------------------------------------------------------------------
# schema evolution (S31): schema-in-manifest, additive appends
# ---------------------------------------------------------------------------


def test_schema_evolution_append_requires_flag(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    evolved = spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        t.commit(evolved, mode="append")
    t.commit(evolved, mode="append", allow_schema_evolution=True)
    rows = {r["k"]: (r["v"], r["score"]) for r in t.read().collect()}
    # pre-evolution row surfaces NULL for the added column
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    # time travel reads v1 with ITS schema — no phantom column
    assert t.read(version=1).columns == ["k", "v"]
    assert t.read(version=2).columns == ["k", "v", "score"]


def test_schema_evolution_is_additive_only(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="additive-only"):
        t.commit(
            spark.createDataFrame([(2,)], "k long"),
            mode="append",
            allow_schema_evolution=True,
        )
    with pytest.raises(ValueError, match="column types"):
        t.commit(
            spark.createDataFrame([(2, 3)], "k long, v long"),
            mode="append",
            allow_schema_evolution=True,
        )
    # overwrite MAY replace the schema wholesale (overwriteSchema)
    t.commit(
        spark.createDataFrame([(9, 1.5)], "k long, score double"),
        mode="overwrite",
        allow_schema_evolution=True,
    )
    assert t.read().columns == ["k", "score"]


def test_schema_evolution_on_bucketed_table(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=40, buckets=4)
    evolved = spark.createDataFrame(
        [(100, "x", 7.0)], "k long, v string, score double"
    )
    t.commit(evolved, mode="append", allow_schema_evolution=True)
    # granular merge still works post-evolution: pruned target reads fill
    # the evolved column with NULL under the version schema
    src = spark.createDataFrame([(3, "UPD", 1.0)], "k long, v string, score double")
    merge_upsert(t, src, keys=["k"])
    rows = {r["k"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert rows[3] == ("UPD", 1.0) and rows[100] == ("x", 7.0)
    assert rows[5] == ("v5", None)
    assert len(rows) == 41


def test_schema_evolution_cdc_restricts_to_common_columns(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 4)
    t.commit(_mk(spark, [(1, "a"), (2, "b")]))
    t.commit(
        spark.createDataFrame([(3, "c", 1.0)], "k long, v string, score double"),
        mode="append",
        allow_schema_evolution=True,
    )
    merge_upsert(
        t,
        spark.createDataFrame([(1, "A2", None)], "k long, v string, score double"),
        keys=["k"],
    )
    feed = sorted(
        (r["k"], r["change_type"], r["commit_version"])
        for r in t.read_changes_cdc(v_from=1, keys=["k"]).collect()
    )
    assert feed == [(1, "update", 3), (3, "insert", 2)]


def test_clone_carries_snapshot_schema(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    t.commit(
        spark.createDataFrame([(2, "b", 5.0)], "k long, v string, score double"),
        mode="append",
        allow_schema_evolution=True,
    )
    c = clone(t, str(tmp_path / "c"))
    assert c.read().columns == ["k", "v", "score"]
    assert {r["k"]: r["score"] for r in c.read().collect()} == {1: None, 2: 5.0}


# ---------------------------------------------------------------------------
# deletion vectors (S32): merge-on-read deletes
# ---------------------------------------------------------------------------


def test_dv_delete_writes_no_data(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=100, buckets=8)
    m1 = t._manifest(1)
    delete_by_keys(
        t,
        spark.createDataFrame([(5,), (77,), (424242,)], "k long"),
        keys=["k"],
        merge_on_read=True,
    )
    # the DV commit references the SAME data dirs — zero rewrite
    assert t._manifest(2) == m1
    assert len(t.deletion_vectors(2)) == 1
    snap = {r["k"] for r in t.read().collect()}
    assert 5 not in snap and 77 not in snap and len(snap) == 98
    # time travel: pre-DV version still shows the rows
    assert 5 in {r["k"] for r in t.read(version=1).collect()}


def test_dv_reinsert_is_visible(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=50, buckets=4)
    delete_by_keys(
        t, spark.createDataFrame([(7,)], "k long"), keys=["k"],
        merge_on_read=True,
    )
    assert 7 not in {r["k"] for r in t.read().collect()}
    # DELETE then INSERT: the re-inserted key lands in an uncovered dir
    merge_upsert(t, _mk(spark, [(7, "REBORN")]), keys=["k"])
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap[7] == "REBORN" and len(snap) == 50
    # plain APPEND after a DV delete is also visible (uncovered dir)
    delete_by_keys(
        t, spark.createDataFrame([(9,)], "k long"), keys=["k"],
        merge_on_read=True,
    )
    t.commit(_mk(spark, [(9, "BACK")]), mode="append")
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap[9] == "BACK" and len(snap) == 50


def test_dv_compact_materializes(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=60, buckets=4)
    delete_by_keys(
        t, spark.createDataFrame([(3,), (13,)], "k long"), keys=["k"],
        merge_on_read=True,
    )
    rep = compact(t)
    assert t.deletion_vectors(rep.version) == []
    snap = {r["k"] for r in t.read().collect()}
    assert 3 not in snap and 13 not in snap and len(snap) == 58


def test_dv_cdc_emits_exact_deletes(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=40, buckets=4)
    delete_by_keys(
        t,
        spark.createDataFrame([(3,), (999999,)], "k long"),  # 999999 absent
        keys=["k"],
        merge_on_read=True,
    )
    feed = sorted(
        (r["k"], r["change_type"], r["commit_version"])
        for r in t.read_changes_cdc(v_from=1, keys=["k"]).collect()
    )
    assert feed == [(3, "delete", 2)]  # no phantom delete for 999999
    # file-level read_changes refuses the range (rows were removed)
    with pytest.raises(ValueError, match="deletion-vector"):
        t.read_changes(1, 2)


def test_dv_vacuum_and_clone(spark, tmp_path):
    root = tmp_path / "lake"
    t = VersionedTable(spark, str(root / "t"))
    t.set_layout(["k"], 4)
    t.commit(_mk(spark, [(i, f"v{i}") for i in range(30)]))
    delete_by_keys(
        t, spark.createDataFrame([(4,)], "k long"), keys=["k"],
        merge_on_read=True,
    )
    c = clone(t, str(root / "c"))
    assert 4 not in {r["k"] for r in c.read().collect()}  # DV carried
    # vacuum retains latest: the DV file must survive as referenced
    rep = vacuum(t, retain_versions=1)
    assert not any("dv_" in d for d in rep.removed_dirs)
    assert 4 not in {r["k"] for r in t.read().collect()}
    assert len({r["k"] for r in t.read().collect()}) == 29


def test_dv_then_cow_delete_coexist(spark, tmp_path):
    t = _bucketed(spark, tmp_path, n=40, buckets=4)
    delete_by_keys(
        t, spark.createDataFrame([(3,)], "k long"), keys=["k"],
        merge_on_read=True,
    )
    # a later copy-on-write delete rewrites its touched bucket with the
    # DV applied; carried dirs keep their coverage
    delete_by_keys(t, spark.createDataFrame([(8,)], "k long"), keys=["k"])
    snap = {r["k"] for r in t.read().collect()}
    assert 3 not in snap and 8 not in snap and len(snap) == 38


# ---------------------------------------------------------------------------
# streaming MERGE sink into a bucketed table stays granular
# ---------------------------------------------------------------------------


def test_stream_merge_into_bucketed_table_is_granular(spark, tmp_path):
    """t21's foreachBatch MERGE inherits bucket granularity for free:
    each micro-batch's merge carries untouched bucket dirs by
    reference."""
    t = _bucketed(spark, tmp_path, n=100, buckets=8)
    m1 = set(t._manifest(1))
    # two "micro-batches" merged sequentially (the foreachBatch shape)
    for batch in ([(5, "B1")], [(33, "B2")]):
        merge_upsert(t, _mk(spark, batch), keys=["k"])
    m3 = t._manifest(3)
    assert len([d for d in m3 if d in m1]) >= 6  # >= 6 of 8 carried
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap[5] == "B1" and snap[33] == "B2" and len(snap) == 100
