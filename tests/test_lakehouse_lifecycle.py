"""THE integration gate: one table driven through the ENTIRE lakehouse
surface in sequence — column mapping + bucket layout + stats + CHECK
constraints + identity commits + granular merge + deletion vectors +
rename + compact + history + timestamp travel + data skipping + CDC +
clone + replicate + restore + vacuum (dry-run then live) + the
commit-log stream — with the expected row state recomputed in plain
Python after every step. Each feature is unit-gated elsewhere; this
test exists because the BUGS this round were all cross-feature seams
(CDC x mapping, widening x bucket hash, pacing x restart)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.operators.versioned import (
    ConstraintViolation,
    VersionedTable,
    clone,
    commit_with_identity,
    compact,
    delete_by_keys,
    merge_upsert,
    rename_column,
    restore,
    vacuum,
)


def _assert_state(t, expected: dict, cols=("ek", "v")):
    got = {
        r["ek"]: tuple(r[c] for c in cols if c != "ek")
        for r in t.read().collect()
    }
    exp = {k: tuple(v) for k, v in expected.items()}
    assert got == exp, f"state drift: extra={set(got)-set(exp)} missing={set(exp)-set(got)} diffs={ {k:(got.get(k),exp.get(k)) for k in set(got)|set(exp) if got.get(k)!=exp.get(k)} }"


def test_full_lakehouse_lifecycle(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.enable_column_mapping()
    t.set_layout(["ek"], 8)
    t.set_stats_columns(["ek"])
    t.set_constraints(["ek >= 0"])

    # v1: identity commit (GENERATED ids 1..20 in ek order); the four
    # properties above ride the empty table's record, not versions
    assert commit_with_identity(
        t,
        spark.createDataFrame([(i, f"v{i}") for i in range(20)], "ek long, v string"),
        "row_id",
        ["ek"],
    ) == 1
    state = {i: [f"v{i}"] for i in range(20)}
    _assert_state(t, state)
    assert sorted(r.row_id for r in t.read().collect()) == list(range(1, 21))

    # constraint rejection publishes nothing
    with pytest.raises(ConstraintViolation):
        t.commit(
            spark.createDataFrame([(99, -5, "bad")], "row_id long, ek long, v string"),
            mode="append",
        )
    assert t.versions()[-1] == 1

    # v2: plain append
    t.commit(
        spark.createDataFrame([(100, 100, "v100")], "row_id long, ek long, v string"),
        mode="append",
    )
    state[100] = ["v100"]
    _assert_state(t, state)

    # v3: granular conditional merge (only fresher rows replace)
    merge_upsert(
        t,
        spark.createDataFrame(
            [(200, 5, "FRESH"), (201, 7, "ALSO")],
            "row_id long, ek long, v string",
        ),
        keys=["ek"],
        when_matched_condition="s.row_id > t.row_id",
    )
    state[5], state[7] = ["FRESH"], ["ALSO"]
    _assert_state(t, state)

    # v4: merge-on-read DV delete
    delete_by_keys(
        t, spark.createDataFrame([Row(ek=3), Row(ek=11)]), keys=["ek"],
        merge_on_read=True,
    )
    del state[3], state[11]
    _assert_state(t, state)

    # v5: metadata rename (payload column)
    rename_column(t, "v", "payload")
    _assert_state(t, state, cols=("ek", "payload"))

    # v6: compact materializes the DV
    rep = compact(t)
    assert not t.deletion_vectors(t.versions()[-1])
    _assert_state(t, state, cols=("ek", "payload"))

    # data skipping over the compacted, mapped, renamed table
    df, prep = t.read_where([("ek", "between", (5, 9))])
    assert {r.ek for r in df.collect()} == {5, 6, 7, 8, 9}

    # CDC across the whole history replicates into a clone. The replica
    # keeps the PRE-rename column name: a row-level change feed carries
    # data changes, not DDL (the rename commit's dir set is identical,
    # so its pruned diff is empty — Delta's CDF has the same contract)
    c = clone(t, str(tmp_path / "replica"), version=1)
    from weather_etl_docker_airflow_project_spark.operators.versioned import (
        replicate_changes,
    )

    replicate_changes(t, c, v_from=1, keys=["ek"])
    assert "v" in c.read().columns  # DDL did not replicate
    got_replica = {r.ek: (r.v,) for r in c.read().collect()}
    assert got_replica == {k: tuple(v) for k, v in state.items()}

    # timestamp travel: midpoint between v1 and v2 sees v1
    ts1, ts2 = t.commit_timestamp(1), t.commit_timestamp(2)
    assert t.read(timestamp=(ts1 + ts2) / 2).count() == 20

    # history records every operation kind
    ops = [h["op"] for h in t.history()]
    assert ops == [
        "append (identity)",
        "append",
        "merge",
        "delete (merge-on-read)",
        "rename_column",
        "compact",
    ]

    # restore to pre-delete (v3) — data AND schema roll back: v3
    # predates the rename, so the column is `v` again (restore re-lists
    # the target version's manifest verbatim, names included)
    restore(t, 3)
    state[3], state[11] = ["v3"], ["v11"]
    assert t.read().columns == ["row_id", "ek", "v"]
    _assert_state(t, state, cols=("ek", "v"))
    dry = vacuum(t, retain_versions=1, dry_run=True)
    assert t.versions() == list(range(1, 8))  # untouched
    live = vacuum(t, retain_versions=1)
    assert sorted(live.removed_dirs) == sorted(dry.removed_dirs)
    assert t.versions() == [7]
    _assert_state(t, state, cols=("ek", "v"))
    # every table property lives in the manifests: no side files
    for d in (t.dir, c.dir):
        assert set(os.listdir(d)) == {"_versions", "data"}
    # the clone took the source's constraints with it
    with pytest.raises(ConstraintViolation):
        c.commit(
            spark.createDataFrame([(98, -5, "bad")], "row_id long, ek long, v string"),
            mode="append",
        )

    # identity never rewound by the restore: next id continues
    commit_with_identity(
        t,
        spark.createDataFrame([(500, "tail")], "ek long, v string"),
        "row_id",
        ["ek"],
        mode="append",
    )
    state[500] = ["tail"]
    _assert_state(t, state, cols=("ek", "v"))
    new_id = t.read().filter("ek = 500").first().row_id
    # hwm=20 survived restore AND vacuum (the #idhwm line is carried
    # forward by every publish) — no collision with issued ids
    assert new_id == 21

    # the commit-log stream drains the post-vacuum append exactly
    from weather_etl_docker_airflow_project_spark.streaming.windows import (
        drain_versioned_source,
    )

    drained, _ = drain_versioned_source(
        spark, t, per_batch=0, starting_version=7
    )
    assert [r.ek for r in drained.collect()] == [500]
