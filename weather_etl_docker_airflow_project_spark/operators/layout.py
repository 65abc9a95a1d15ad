"""File-layout management: multi-column clustered writes (SURVEY.md
§2.12 / S8 extensions). Small-file compaction lives with the versioned
table (``operators/versioned.compact`` and ``compact_incremental``).

- **Clustered write** is the poor-man's Z-order: repartitionByRange on the
  cluster keys + sortWithinPartitions gives each output file a narrow
  min/max envelope on those keys, so engines that prune on parquet
  row-group/file statistics (Spark, DuckDB, Trino alike) skip most of the
  table for selective predicates. True multi-dimensional Z-order curves
  only beat this when BOTH dimensions are queried independently; for the
  common leading-dimension workload, range-cluster-then-sort is equal or
  better and needs no bit-interleave UDF.

Neither writer changes row content — tests assert content equality plus
the layout property (per-file key envelopes via parquet footer
statistics).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def _data_files(path: str, suffix: str = ".parquet") -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith(("_", ".")):
                out.append(os.path.join(root, f))
    return sorted(out)


def clustered_write(
    df: DataFrame,
    dst_dir: str,
    cluster_cols: list[str],
    n_files: int = 8,
) -> None:
    """Range-cluster + in-file sort on ``cluster_cols``: every output file
    covers a disjoint (up to range-boundary ties) slice of the leading
    cluster key with rows sorted within, giving parquet row-group
    statistics maximal pruning power for predicates on those columns."""
    if not cluster_cols:
        raise ValueError("cluster_cols must be non-empty")
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(dst_dir)
    )


def file_column_envelopes(path: str, column: str) -> list[tuple]:
    """Per-file (min, max) of ``column`` from parquet footer statistics —
    the exact numbers a pruning scan consults. Test/inspection helper."""
    import pyarrow.parquet as pq

    out = []
    for f in _data_files(path):
        md = pq.read_metadata(f)
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(
                [md.schema.column(i).name for i in range(md.num_columns)].index(column)
            )
            st = col.statistics
            if st is None or not st.has_min_max:
                return []  # stats missing: caller must not assume pruning
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.append((lo, hi))
    return out


def _spread_bits(col, stride: int, offset: int, bits: int = 16):
    """Spread ``bits`` low bits of an int column so bit i lands at
    position ``stride*i + offset`` — the building block of an N-column
    Morton (Z-order) interleave, built from shift/and/or expressions that
    stay inside whole-stage codegen (no UDF)."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = [
        F.shiftleft(F.shiftright(col, i).bitwiseAND(F.lit(1)), stride * i + offset)
        for i in range(bits)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def zorder_write(
    df: DataFrame,
    dst_dir: str,
    zorder_cols: list[str],
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """True multi-dimensional Z-order clustered write: each cluster column
    is min-max bucketized to ``bits`` bits against its actual domain (the
    min/max scalars are collected once — this is a table-maintenance
    action, not a lazy query), the buckets are bit-interleaved into one
    Morton key, and files are range-partitioned + sorted on that key.

    Versus :func:`clustered_write` (lexicographic range cluster): the
    lexicographic layout gives the LEADING column tight per-file
    envelopes but lets every file span the full domain of the trailing
    columns once the leading cardinality exceeds the file count; the
    Morton layout splits envelope tightness evenly, so predicates on ANY
    clustered column (independently) prune ~file_count^(1-1/d) of the
    files from parquet footer stats alone. This is what `OPTIMIZE ZORDER
    BY` does in lakehouse engines, expressed as pure Spark expressions.

    Row content is unchanged (the Morton key is dropped before write);
    tests assert content equality + envelope tightness on the second
    dimension."""
    from pyspark.sql import functions as F

    if len(zorder_cols) < 2:
        raise ValueError("zorder needs >= 2 columns (use clustered_write for 1)")
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"_mn_{c}") for c in zorder_cols],
        *[F.max(c).cast("double").alias(f"_mx_{c}") for c in zorder_cols],
    ).collect()[0]
    top = (1 << bits) - 1
    z = None
    for j, c in enumerate(zorder_cols):
        mn, mx = stats[f"_mn_{c}"], stats[f"_mx_{c}"]
        span = (mx - mn) or 1.0
        bucket = F.least(
            F.lit(top),
            F.floor((F.col(c).cast("double") - F.lit(mn)) * F.lit(top / span)).cast(
                "long"
            ),
        )
        spread = _spread_bits(bucket, stride=len(zorder_cols), offset=j, bits=bits)
        z = spread if z is None else z.bitwiseOR(spread)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(dst_dir)
    )
