"""The versioned table's manifest codec (``Manifest.parse``/``dumps``)
and the watermark carry, with no Spark job: manifests and log
checkpoints in the established on-disk format read field-for-field,
and every record round-trips through its own line format."""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from weather_etl_docker_airflow_project_spark.operators.versioned import (
    Manifest,
    TableProps,
    VersionedTable,
    identity_high_water,
)

# Written the way every earlier release wrote a merge commit: ts, op,
# the commit's own headers, the carried watermarks, then schema, both
# vector kinds, colmap, stats, and the dir list (one dir holds a space).
OLD_MANIFEST = (
    "#ts=1760000000.123456\n"
    "#op=merge\n"
    "#cdf=/tbl/data/cdf_7_ab12cd34\n"
    "#sbatch=3f2a9c1d0e4b5a67:12\n"
    "#sbatch=app:with:colons:4\n"
    "#idhwm=row_id::41\n"
    '#schema={"type": "struct", "fields": [{"name": "k", "type": "long", '
    '"nullable": true, "metadata": {}}, {"name": "v", "type": "string", '
    '"nullable": true, "metadata": {}}]}\n'
    "#dv=/tbl/data/dv_5_0a0b0c0d::/tbl/data/batch_1_aa/bkt=0"
    "::/tbl/data/my dir/bkt=1\n"
    "#pdv=/tbl/data/pdv_6_99887766::/tbl/data/batch_1_aa/bkt=0\n"
    '#colmap={"k": "col_1", "v": "col_2"}\n'
    '#stats={"dir": "/tbl/data/batch_1_aa/bkt=0", "cols": {"k": {"lo": 1, '
    '"hi": 9, "nulls": 0, "rows": 9}}}\n'
    "/tbl/data/batch_1_aa/bkt=0\n"
    "/tbl/data/my dir/bkt=1\n"
)


def test_old_format_manifest_parses_every_header_kind():
    m = Manifest.parse(OLD_MANIFEST)
    assert m.dirs == ["/tbl/data/batch_1_aa/bkt=0", "/tbl/data/my dir/bkt=1"]
    assert m.ts == 1760000000.123456
    assert m.op == "merge"
    assert m.cdf == "/tbl/data/cdf_7_ab12cd34"
    assert m.sbatch == {"3f2a9c1d0e4b5a67": 12, "app:with:colons": 4}
    assert m.idhwm == ("row_id", 41)
    assert m.schema == StructType(
        [StructField("k", LongType()), StructField("v", StringType())]
    )
    assert m.dvs == [
        {
            "path": "/tbl/data/dv_5_0a0b0c0d",
            "covers": ["/tbl/data/batch_1_aa/bkt=0", "/tbl/data/my dir/bkt=1"],
        }
    ]
    assert m.pdvs == [
        {
            "path": "/tbl/data/pdv_6_99887766",
            "covers": ["/tbl/data/batch_1_aa/bkt=0"],
        }
    ]
    assert m.colmap == {"k": "col_1", "v": "col_2"}
    assert m.stats == {
        "/tbl/data/batch_1_aa/bkt=0": {
            "k": {"lo": 1, "hi": 9, "nulls": 0, "rows": 9}
        }
    }
    assert m.props == TableProps()  # written before properties rode it
    assert Manifest.parse(m.dumps()) == m
    # a metadata-only successor keeps the table state, not the
    # per-commit fields
    nxt = m.derive(op="restore (to v1)")
    assert (nxt.dirs, nxt.dvs, nxt.stats) == (m.dirs, m.dvs, m.stats)
    assert (nxt.ts, nxt.cdf, nxt.sbatch, nxt.idhwm) == (None, None, {}, None)


def test_old_format_files_read_through_the_table(tmp_path):
    t = VersionedTable(None, str(tmp_path / "t"))
    os.makedirs(t._versions)
    with open(os.path.join(t._versions, "1"), "w") as f:
        f.write(OLD_MANIFEST)
    assert t._manifest(1)[1] == "/tbl/data/my dir/bkt=1"
    assert t.commit_op(1) == "merge"
    assert t.commit_timestamp(1) == 1760000000.123456
    assert t.cdf_path(1) == "/tbl/data/cdf_7_ab12cd34"
    assert t.position_dvs(1)[0]["path"] == "/tbl/data/pdv_6_99887766"
    assert identity_high_water(t, "row_id") == 41


def test_old_format_checkpoint_serves_the_carry(tmp_path):
    """A checkpoint storing its watermarks as header-line strings (the
    established format) still serves the idhwm and sbatch carry, and a
    new publish re-emits them."""
    t = VersionedTable(None, str(tmp_path / "t"))
    os.makedirs(t._versions)
    with open(os.path.join(t._versions, "10"), "w") as f:
        f.write("#ts=1760000000.000000\n#op=append\n/tbl/data/batch_10\n")
    with open(t._ckpt_path, "w") as f:
        json.dump(
            {
                "version": 10,
                "ts": 1760000000.5,
                "idhwm": "#idhwm=row_id::41",
                "sbatch": {"qA": "#sbatch=qA:7", "qB": "#sbatch=qB:1"},
                "colmap_used": None,
            },
            f,
        )
    carry = t._carry()
    assert carry.sbatch == {"qA": 7, "qB": 1}
    assert carry.idhwm == ("row_id", 41)
    assert identity_high_water(t, "row_id") == 41
    with pytest.raises(ValueError, match="identity column"):
        identity_high_water(t, "other_id")
    t._publish_manifest(
        Manifest(dirs=["/tbl/data/batch_11"], op="stream append",
                 sbatch={"qB": 2}),
        11,
    )
    m = t._parsed(11)
    assert m.sbatch == {"qA": 7, "qB": 2}
    assert m.idhwm == ("row_id", 41)


# Paths are restricted to what the line format can carry: no newline
# (a line ends a field) and no "::" — including a trailing ":" that
# would merge with the separator — because vector paths are
# "::"-joined. Dir lines start with "/" (a leading "#" marks a header).
_text = st.text(
    st.characters(blacklist_categories=("Cs",), blacklist_characters="\n"),
    max_size=12,
)
_path = _text.map(lambda s: "/" + s).filter(lambda p: "::" not in p + ":")
_vector = st.fixed_dictionaries(
    {"path": _path, "covers": st.lists(_path, max_size=3)}
)
_stat = st.fixed_dictionaries(
    {
        "lo": st.none() | st.integers() | _text,
        "hi": st.none() | st.integers() | _text,
        "nulls": st.integers(min_value=0),
        "rows": st.integers(min_value=0),
    }
)
_schemas = st.sampled_from(
    [
        None,
        StructType([StructField("k", LongType(), False)]),
        StructType(
            [
                StructField("k", LongType()),
                StructField("tags", ArrayType(StringType())),
                StructField(
                    "pt", StructType([StructField("x", DoubleType())])
                ),
            ]
        ),
    ]
)
_manifests = st.builds(
    Manifest,
    dirs=st.lists(_path, max_size=4),
    ts=st.none() | st.floats(allow_nan=False, allow_infinity=False),
    op=st.none() | _text,
    schema=_schemas,
    colmap=st.none() | st.dictionaries(_text, _text, max_size=3),
    cdf=st.none() | _path,
    dvs=st.lists(_vector, max_size=2),
    pdvs=st.lists(_vector, max_size=2),
    stats=st.dictionaries(
        _path, st.dictionaries(_text, _stat, max_size=2), max_size=2
    ),
    sbatch=st.dictionaries(_text, st.integers(), max_size=3),
    idhwm=st.none() | st.tuples(_text, st.integers()),
    props=st.builds(
        TableProps,
        checks=st.lists(_text, max_size=3),
        layout=st.none()
        | st.fixed_dictionaries(
            {
                "bucket_keys": st.lists(_text, min_size=1, max_size=2),
                "n_buckets": st.integers(min_value=1),
            }
        ),
        stats_cols=st.lists(_text, max_size=3),
        change_feed=st.booleans(),
    ),
)


@settings(max_examples=200, deadline=None)
@given(m=_manifests)
def test_manifest_round_trips_through_its_line_format(m):
    assert Manifest.parse(m.dumps()) == m
