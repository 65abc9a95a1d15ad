"""Round-11b gates: data skipping (#stats= manifest statistics +
read_where), Z-ORDER cluster_rewrite, and RESTORE.

Soundness contract under test everywhere: pruning may change which dirs
are OPENED, never which rows come back — each test cross-checks
read_where against the equivalent full-scan filter.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.operators.versioned import (
    VersionedTable,
    cluster_rewrite,
    delete_by_keys,
    merge_upsert,
    clone,
    restore,
    vacuum,
)


def _slice(spark, lo, hi, day0="1995-01-01"):
    base = datetime.date.fromisoformat(day0)
    rows = [
        Row(k=i, d=base + datetime.timedelta(days=i % 30), v=float(i))
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows)


def test_stats_recorded_per_dir_from_footers(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["k", "d"])
    t.commit(_slice(spark, 0, 100, "1995-01-01"))
    t.commit(_slice(spark, 100, 200, "1996-01-01"), mode="append")
    stats = t.dir_stats(2)
    assert len(stats) == 2
    by_lo = sorted(stats.values(), key=lambda s: int(s["k"]["lo"][1]))
    assert [s["k"]["lo"][1] for s in by_lo] == ["0", "100"]
    assert [s["k"]["hi"][1] for s in by_lo] == ["99", "199"]
    assert by_lo[0]["d"]["lo"] == ["d", "1995-01-01"]
    assert by_lo[1]["d"]["lo"] == ["d", "1996-01-01"]
    assert all(s["k"]["nulls"] == 0 and s["k"]["rows"] == 100 for s in by_lo)


def test_read_where_prunes_and_matches_filter(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["k"])
    for lo in range(0, 400, 100):
        t.commit(_slice(spark, lo, lo + 100), mode="append")
    df, rep = t.read_where([("k", "between", (150, 240))])
    assert rep.total_dirs == 4 and rep.scanned_dirs == 2
    got = sorted(r.k for r in df.collect())
    assert got == list(range(150, 241))
    # boundary ops
    for preds, expect_scanned in [
        ([("k", "<", 100)], 1),
        ([("k", "<=", 100)], 2),
        ([("k", ">", 299)], 1),
        ([("k", ">=", 300)], 1),
        ([("k", "=", 250)], 1),
    ]:
        d, r = t.read_where(preds)
        assert r.scanned_dirs == expect_scanned, preds
        full = t.read()
        col, op, val = preds[0]
        exp = {
            "<": full.filter(F.col(col) < val),
            "<=": full.filter(F.col(col) <= val),
            ">": full.filter(F.col(col) > val),
            ">=": full.filter(F.col(col) >= val),
            "=": full.filter(F.col(col) == val),
        }[op].count()
        assert d.count() == exp, preds


def test_read_where_keeps_dirs_without_stats(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_slice(spark, 0, 100))  # pre-stats commit: no recorded line
    t.set_stats_columns(["k"])
    t.commit(_slice(spark, 100, 200), mode="append")
    df, rep = t.read_where([("k", "<", 50)])
    assert rep.total_dirs == 2 and rep.scanned_dirs == 1
    assert df.count() == 50
    # predicate matching only the un-statted dir: it must be kept
    df2, rep2 = t.read_where([("k", ">", 150)])
    assert rep2.scanned_dirs == 2  # stat dir matches AND no-stat dir kept


def test_read_where_all_null_dir_pruned(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["v"])
    t.commit(
        spark.createDataFrame(
            [Row(k=i, v=None) for i in range(50)], "k int, v double"
        )
    )
    t.commit(
        spark.createDataFrame(
            [Row(k=i, v=float(i)) for i in range(50)], "k int, v double"
        ),
        mode="append",
    )
    df, rep = t.read_where([("v", ">=", 0.0)])
    assert rep.scanned_dirs == 1  # the all-NULL dir satisfies nothing
    assert df.count() == 50


def test_read_where_incomparable_literal_keeps_all(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["k"])
    t.commit(_slice(spark, 0, 100))
    t.commit(_slice(spark, 100, 200), mode="append")
    # int stats vs a non-ISO string literal: incomparable -> keep all
    _, rep = t.read_where([("k", ">", "zzz")])
    assert rep.scanned_dirs == 2


def test_iso_string_literal_prunes_date_stats(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["d"])
    t.commit(_slice(spark, 0, 100, "1995-01-01"))
    t.commit(_slice(spark, 100, 200, "1996-01-01"), mode="append")
    df, rep = t.read_where([("d", ">=", datetime.date(1996, 1, 1))])
    assert rep.scanned_dirs == 1 and df.count() == 100
    df2, rep2 = t.read_where([("d", ">=", "1996-01-01")])
    assert rep2.scanned_dirs == 1 and df2.count() == 100


def test_stats_carry_through_granular_merge(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 8)
    t.set_stats_columns(["k", "v"])
    t.commit(_slice(spark, 0, 200))
    src = spark.createDataFrame(
        [Row(k=5, d=datetime.date(1995, 1, 1), v=999.0)]
    )
    merge_upsert(t, src, keys=["k"])
    stats = t.dir_stats(2)
    dirs = t._manifest(2)
    assert set(stats) == set(dirs)  # every bucket dir has a stat line
    df, rep = t.read_where([("v", ">=", 999.0)])
    assert rep.scanned_dirs < rep.total_dirs
    assert [r.k for r in df.collect()] == [5]


def test_dv_commit_carries_stats(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["k"])
    t.commit(_slice(spark, 0, 100))
    t.commit(_slice(spark, 100, 200), mode="append")
    delete_by_keys(
        t,
        spark.createDataFrame([Row(k=150)]),
        keys=["k"],
        merge_on_read=True,
    )
    assert t.dir_stats(3)  # stats survived the metadata-only commit
    df, rep = t.read_where([("k", "<", 50)])
    assert rep.scanned_dirs == 1 and df.count() == 50
    # DV applies inside the pruned scan too
    df2, _ = t.read_where([("k", ">=", 100)])
    assert df2.count() == 99


def test_cluster_rewrite_multidim_pruning(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["x", "y"])
    df = spark.range(0, 20000).select(
        (F.col("id") % 200).alias("x"),
        (F.col("id") / 200).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    t.commit(df)
    v = cluster_rewrite(t, ["x", "y"], n_chunks=16, bits=6)
    assert v == 2 and len(t._manifest(2)) == 16
    dx, rx = t.read_where([("x", "between", (10, 20))])
    dy, ry = t.read_where([("y", "between", (5, 10))])
    dxy, rxy = t.read_where([("x", "between", (10, 20)), ("y", "between", (5, 10))])
    # z-order gives BOTH single dims real pruning; the conjunction is tighter
    assert rx.scanned_dirs < rx.total_dirs
    assert ry.scanned_dirs < ry.total_dirs
    assert rxy.scanned_dirs <= min(rx.scanned_dirs, ry.scanned_dirs)
    exp = df.filter(
        F.col("x").between(10, 20) & F.col("y").between(5, 10)
    ).count()
    assert dxy.count() == exp
    assert dx.count() == df.filter(F.col("x").between(10, 20)).count()
    # schema unchanged: no z/zc columns leak into the table
    assert t.read().columns == ["x", "y", "payload"]
    assert t.read().count() == 20000


def test_cluster_rewrite_preserves_bucketed_layout(spark, tmp_path):
    """r12 lifts the old bucket/z-order exclusivity: clustering a
    bucketed table nests chunk dirs as zc=i/bkt=j, so granular merges
    keep working after an OPTIMIZE (deeper gates in
    tests/test_round12_optimize.py)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 4)
    t.commit(_slice(spark, 0, 50))
    v = cluster_rewrite(t, ["k"], n_chunks=2, bits=4)
    assert sorted(r.k for r in t.read(version=v).collect()) == list(range(50))
    # every manifest dir keeps its bucket tag — the granular path lives
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        _dir_bucket,
    )

    assert all(_dir_bucket(d) is not None for d in t._manifest(v))
    merge_upsert(
        t, spark.createDataFrame([Row(k=7, d=datetime.date(2000, 1, 1), v=-1.0)]),
        keys=["k"],
    )
    assert t.read().filter(F.col("k") == 7).first().v == -1.0


def test_restore_is_metadata_only_rollback(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_slice(spark, 0, 100))
    t.commit(_slice(spark, 100, 200), mode="append")
    delete_by_keys(t, spark.createDataFrame([Row(k=5)]), keys=["k"])
    n_data_dirs = len(os.listdir(t._data))
    v = restore(t, 2)
    assert v == 4
    assert len(os.listdir(t._data)) == n_data_dirs  # zero data writes
    assert t._manifest(4) == t._manifest(2)
    assert t.read().count() == 200  # the delete is rolled back
    assert t.read(version=3).count() == 199  # history preserved


def test_restore_carries_schema_and_stats(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["k"])
    t.commit(_slice(spark, 0, 100))
    t.commit(
        _slice(spark, 100, 200).withColumn("extra", F.lit(1)),
        mode="overwrite",
        allow_schema_evolution=True,
    )
    restore(t, 1)
    assert t.read().columns == ["k", "d", "v"]
    _, rep = t.read_where([("k", "<", 10)])
    assert rep.total_dirs == 1 and rep.scanned_dirs == 1


def test_restore_to_vacuumed_version_raises(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_slice(spark, 0, 100))
    t.commit(_slice(spark, 100, 200), mode="overwrite")
    vacuum(t, retain_versions=1)
    with pytest.raises(ValueError, match="vacuum"):
        restore(t, 1)


def test_clone_carries_stats_metadata(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["k"])
    t.commit(_slice(spark, 0, 100))
    c = clone(t, str(tmp_path / "c"))
    # recorded stats on the referenced dirs survive the clone
    _, rep = c.read_where([("k", ">", 500)])
    assert rep.scanned_dirs == 0
    # and the _stats_cols declaration carries: clone commits keep recording
    c.commit(_slice(spark, 500, 600), mode="append")
    _, rep2 = c.read_where([("k", ">=", 500)])
    assert rep2.total_dirs == 2 and rep2.scanned_dirs == 1


def test_timestamp_time_travel_resolution(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_slice(spark, 0, 50))
    t.commit(_slice(spark, 50, 100), mode="append")
    t.commit(_slice(spark, 0, 10), mode="overwrite")
    ts = [t.commit_timestamp(v) for v in (1, 2, 3)]
    assert ts == sorted(ts)
    # strictly-between reads resolve to the earlier version
    assert t.version_at_timestamp((ts[0] + ts[1]) / 2) == 1
    assert t.read(timestamp=(ts[1] + ts[2]) / 2).count() == 100
    # boundary: AT a commit's timestamp sees it ('<=' rule)
    assert t.version_at_timestamp(ts[2]) == 3
    # after everything: latest
    assert t.read(timestamp=ts[2] + 3600).count() == 10
    # before everything: clean error
    with pytest.raises(ValueError, match="predates"):
        t.version_at_timestamp(ts[0] - 3600)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, timestamp=ts[0])


def test_importance_select_edges(spark):
    from weather_etl_docker_airflow_project_spark.operators.sampling import (
        importance_select,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta alpha", src="t"),
            Row(doc_id=2, text="alpha beta gamma", src="b"),
            Row(doc_id=3, text="delta epsilon zeta", src="b"),
            Row(doc_id=4, text="", src="b"),  # no tokens: no evidence
            Row(doc_id=5, text=None, src="b"),
        ]
    )
    out = importance_select(docs, F.col("src") == "t", top_k=10).collect()
    ids = [r.doc_id for r in out]
    assert 1 not in ids  # target docs are never selected
    assert 4 not in ids and 5 not in ids  # token-less docs carry nothing
    # doc 2 shares 2/3 tokens with the target, doc 3 shares none
    assert ids[0] == 2
    r2 = out[0]
    assert r2.n_toks == 3 and r2.score > 0
    # all-target corpus: nothing to select, empty result (no crash)
    assert (
        importance_select(docs.filter("doc_id = 1"), F.lit(True)).count() == 0
    )


def test_type_widening_append(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 1.5)], "k int, x float"))
    wide = spark.createDataFrame([(2, 2.5)], "k bigint, x double")
    with pytest.raises(ValueError, match="widens"):
        t.commit(wide, mode="append")  # widening still needs the flag
    t.commit(wide, mode="append", allow_schema_evolution=True)
    latest = t.read()
    assert dict(latest.dtypes) == {"k": "bigint", "x": "double"}
    got = sorted((r.k, r.x) for r in latest.collect())
    assert got == [(1, 1.5), (2, 2.5)]  # old int32/float files upcast
    # time travel keeps the version's own (narrow) schema
    assert dict(t.read(version=1).dtypes)["k"] == "int"
    # narrowing (bigint -> int) stays rejected even with the flag
    with pytest.raises(ValueError, match="only widens"):
        t.commit(
            spark.createDataFrame([(3, 1.0)], "k int, x double"),
            mode="append",
            allow_schema_evolution=True,
        )


def test_widening_bucket_key_rejected(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 4)
    t.commit(spark.createDataFrame([(1, "a")], "k int, v string"))
    with pytest.raises(ValueError, match="bucket-key"):
        t.commit(
            spark.createDataFrame([(2, "b")], "k bigint, v string"),
            mode="append",
            allow_schema_evolution=True,
        )


def test_granular_split_key_type_mismatch_falls_back(spark, tmp_path):
    """xxhash64 is type-sensitive: an int-typed merge source against a
    bigint-keyed table must NOT trust the bucket math — the guard falls
    back to the full rewrite, which is always correct."""
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        _granular_split,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_layout(["k"], 8)
    t.commit(spark.createDataFrame([(i, "old") for i in range(20)], "k bigint, v string"))
    src_int = spark.createDataFrame([(5, "new")], "k int, v string")
    # guard trips: the whole manifest is the scope, not granular
    carry, scope, _, n_touched = _granular_split(t, 1, src_int, ["k"])
    assert n_touched is None and not carry and scope == t._manifest(1)
    merge_upsert(t, src_int.withColumn("k", F.col("k").cast("bigint")), keys=["k"])
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[5] == "new" and len(rows) == 20  # no duplicate key 5


def test_wedge_kernel_int64_fallback_for_wide_ids(spark):
    """Ids at/above 2^31 keep the long adjacency path (int32 downcast
    skipped) and still count triangles exactly."""
    from weather_etl_docker_airflow_project_spark.operators.graph import (
        triangle_counts,
    )

    base = 2**31 + 10
    tri = [(base, base + 1), (base + 1, base + 2), (base, base + 2),
           (base + 2, base + 3)]
    e = spark.createDataFrame(tri, "a long, b long")
    out = {
        r.node: r.n_triangles
        for r in triangle_counts(e, max_attach_edges=0).collect()
    }
    assert out == {base: 1, base + 1: 1, base + 2: 1}


def test_restore_and_rename_lose_cas_race_to_interloper(spark, tmp_path):
    """Metadata-only commits (restore, rename) ride the same CAS as data
    commits: an interloper append landing between their base read and
    publish makes the os.link lose — no lost update, retry succeeds."""
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        ConcurrentCommitError,
        rename_column,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.enable_column_mapping()
    t.commit(_slice(spark, 0, 20))
    t.commit(_slice(spark, 20, 40), mode="overwrite")
    other = VersionedTable(spark, str(tmp_path / "t"))
    real = t.snapshot_schema

    def schema_with_interloper(version):
        out = real(version)
        other.commit(_slice(spark, 90, 95), mode="append")
        return out

    t.snapshot_schema = schema_with_interloper
    with pytest.raises(ConcurrentCommitError):
        restore(t, 1)
    t.snapshot_schema = real
    assert t.read().count() == 25  # interloper's append survived
    restore(t, 1)  # retry against the new base succeeds
    assert t.read().count() == 20
    t.snapshot_schema = schema_with_interloper
    with pytest.raises(ConcurrentCommitError):
        rename_column(t, "v", "val")
    t.snapshot_schema = real
    rename_column(t, "v", "val")
    assert "val" in t.read().columns


def test_read_where_sound_after_cluster_then_append(spark, tmp_path):
    """A clustered table that keeps ingesting: z-chunk dirs carry tight
    boxes, the new append carries its own footer stats, and pruning over
    the MIXED manifest stays exact."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(["k"])
    t.commit(_slice(spark, 0, 400))
    cluster_rewrite(t, ["k"], n_chunks=8, bits=5)
    t.commit(_slice(spark, 1000, 1050), mode="append")
    df, rep = t.read_where([("k", "between", (100, 120))])
    assert rep.scanned_dirs < rep.total_dirs
    assert sorted(r.k for r in df.collect()) == list(range(100, 121))
    df2, rep2 = t.read_where([("k", ">=", 1000)])
    assert rep2.scanned_dirs == 1  # only the fresh append dir
    assert df2.count() == 50


def test_identity_never_rewinds_after_restore(spark, tmp_path):
    """RESTORE rolls data back but identity allocation NEVER rewinds
    (Delta's rule): the high-water scan walks all manifests, so ids from
    rolled-back commits are still burned."""
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        commit_with_identity,
        identity_high_water,
    )

    t = VersionedTable(spark, str(tmp_path / "t"))
    commit_with_identity(
        t,
        spark.createDataFrame([(i,) for i in range(10)], "ek long"),
        "row_id",
        ["ek"],
    )
    commit_with_identity(
        t,
        spark.createDataFrame([(i,) for i in range(10, 25)], "ek long"),
        "row_id",
        ["ek"],
        mode="append",
    )
    assert identity_high_water(t, "row_id") == 25
    restore(t, 1)
    assert t.read().count() == 10
    assert identity_high_water(t, "row_id") == 25  # burned, not rewound
    commit_with_identity(
        t,
        spark.createDataFrame([(99,)], "ek long"),
        "row_id",
        ["ek"],
        mode="append",
    )
    ids = sorted(r.row_id for r in t.read().collect())
    assert ids == list(range(1, 11)) + [26]  # no collision with v2's ids


def test_read_where_soundness_property(spark, tmp_path):
    """Property gate for the skipping engine: over randomized batch
    layouts (values, NULL mixes, batch boundaries) and randomized
    conjunctive predicates, `read_where` returns EXACTLY the rows of the
    full-scan filter — pruning may only change which dirs open. One
    hypothesis run drives many tables; examples kept small because each
    costs real Spark jobs."""
    from hypothesis import given, settings, strategies as st

    vals = st.lists(
        st.one_of(st.integers(-50, 50), st.none()),
        min_size=1,
        max_size=30,
    )
    batches = st.lists(vals, min_size=1, max_size=4)
    op = st.sampled_from(["<", "<=", ">", ">=", "="])
    pred = st.tuples(op, st.integers(-60, 60))
    preds = st.lists(pred, min_size=1, max_size=2)
    counter = {"n": 0}

    @settings(max_examples=12, deadline=None)
    @given(batches=batches, predicates=preds)
    def run(batches, predicates):
        counter["n"] += 1
        t = VersionedTable(
            spark, str(tmp_path / f"p{counter['n']}")
        )
        t.set_stats_columns(["x"])
        rid = 0
        for b in batches:
            rows = [(rid + i, v) for i, v in enumerate(b)]
            rid += len(b)
            t.commit(
                spark.createDataFrame(rows, "id long, x long"),
                mode="append",
            )
        ps = [("x", o, v) for o, v in predicates]
        got, _rep = t.read_where(ps)
        full = t.read()
        for col, o, v in ps:
            c = F.col(col)
            full = full.filter(
                {"<": c < v, "<=": c <= v, ">": c > v, ">=": c >= v, "=": c == v}[o]
            )
        assert sorted(r.id for r in got.collect()) == sorted(
            r.id for r in full.collect()
        )

    run()
