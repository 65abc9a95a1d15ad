"""Layout-management tests (operators/layout.py): clustered writes give
files disjoint key envelopes that a pruning scan can exploit."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.operators.layout import (
    clustered_write,
    file_column_envelopes,
)


def test_clustered_write_disjoint_envelopes(spark):
    """After range-cluster + sort on id, per-file [min,max] envelopes must
    not overlap (boundary ties aside) — the property footer-stat pruning
    relies on. An unclustered multi-file write of the same data must show
    overlapping envelopes, proving the test can fail."""
    dst = os.path.join(tempfile.mkdtemp(prefix="cluster_"), "out")
    df = spark.range(20_000).select(
        (F.col("id") * 7919 % 20_011).alias("k"),
        F.col("id").alias("v"),
    )
    clustered_write(df, dst, ["k"], n_files=6)

    env = file_column_envelopes(dst, "k")
    assert len(env) > 1
    env.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(env, env[1:]):
        assert hi1 <= lo2  # disjoint up to boundary ties

    flat = os.path.join(tempfile.mkdtemp(prefix="flat_"), "out")
    df.repartition(6).write.mode("overwrite").parquet(flat)
    fenv = sorted(file_column_envelopes(flat, "k"))
    overlaps = sum(1 for (l1, h1), (l2, h2) in zip(fenv, fenv[1:]) if h1 > l2)
    assert overlaps > 0

    # content invariance
    assert sorted(map(tuple, spark.read.parquet(dst).collect())) == \
        sorted(map(tuple, df.collect()))


def test_dq_rules_count_violations(spark):
    """Crafted dirty table: each rule must count its exact violations and
    the whole rule set must compile to one aggregate (single pass)."""
    from weather_etl_docker_airflow_project_spark.operators import dq

    rows = [
        (1, None, 50.0, "O"),       # null custkey
        (2, 10, -5.0, "F"),         # out of range
        (3, 11, 20.0, "X"),         # bad status
        (3, 12, 30.0, "O"),         # duplicate key
        (4, 13, 40.0, "P"),
        (5, 14, None, None),        # NULL violates range AND domain rules
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string"
    )
    out = {r["rule"]: (r["violations"], r["passed"]) for r in dq.run_checks(
        df,
        [
            dq.not_null("o_custkey"),
            dq.in_range("o_totalprice", 0, 100),
            dq.accepted_values("o_orderstatus", ["O", "F", "P"]),
            dq.unique("o_orderkey"),
        ],
    ).collect()}
    assert out == {
        "not_null_o_custkey": (1, False),
        "range_o_totalprice": (2, False),       # -5.0 and NULL
        "accepted_o_orderstatus": (2, False),   # 'X' and NULL
        "unique_o_orderkey": (1, False),
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one rule"):
        dq.run_checks(df, [])


def test_zorder_prunes_trailing_dimension(spark, tmp_path):
    """The property that justifies Morton over lexicographic clustering:
    with a high-cardinality leading column, the lexicographic layout's
    per-file envelopes span the FULL domain of the trailing column (zero
    pruning), while the Z-order layout keeps both dimensions tight enough
    that a selective trailing-column predicate skips most files on footer
    stats alone. Also asserts the rewrite is content-preserving."""
    from weather_etl_docker_airflow_project_spark.operators.layout import (
        clustered_write,
        file_column_envelopes,
        zorder_write,
    )

    grid = [(x, y) for x in range(128) for y in range(128)]
    df = spark.createDataFrame(grid, "x long, y long").repartition(8)
    lin, zor = str(tmp_path / "lin"), str(tmp_path / "zor")
    clustered_write(df, lin, ["x", "y"], n_files=16)
    zorder_write(df, zor, ["x", "y"], n_files=16)

    def prunable(path, lo=0, hi=15):
        env = file_column_envelopes(path, "y")
        assert env, "footer stats missing"
        return sum(1 for mn, mx in env if mx < lo or mn > hi)

    n_lin, n_zor = prunable(lin), prunable(zor)
    assert n_lin == 0, f"lexicographic layout unexpectedly pruned {n_lin}"
    assert n_zor >= 8, f"zorder pruned only {n_zor}/16 files for y in [0,15]"

    back = spark.read.parquet(zor)
    assert back.count() == len(grid)
    assert back.groupBy().agg({"x": "sum", "y": "sum"}).collect() == \
        df.groupBy().agg({"x": "sum", "y": "sum"}).collect()


def test_zorder_rejects_single_column(spark, tmp_path):
    import pytest as _pytest

    from weather_etl_docker_airflow_project_spark.operators.layout import zorder_write

    df = spark.createDataFrame([(1, 2)], "x long, y long")
    with _pytest.raises(ValueError, match=">= 2"):
        zorder_write(df, str(tmp_path / "z1"), ["x"])
