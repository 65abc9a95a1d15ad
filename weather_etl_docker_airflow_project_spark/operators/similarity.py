"""Similarity search over embedding columns (SURVEY.md §2.11 L3).

The ``embeddings`` table carries L2-normalized ``array<float>`` vectors, so
cosine similarity == dot product. Two determinism decisions drive the
design:

1. **Integer-quantized dot products.** Float summation order differs
   between engines, so every *declared* score is the exact int64
   ``sum(round(a_i*1e6) * round(b_i*1e6))`` — bit-identical in Spark and
   DuckDB (max |q| ~ 1e6, dim 64 => well inside int64). A display-only
   double cosine is derived FROM the integer, identically in both engines.
2. **Deterministic LSH planes.** Random-hyperplane ANN uses planes whose
   components derive from md5 (``functions.xhash.h32``), so the bucketing
   is reproducible across engines, sessions, and tests — no RNG state.

Scale notes (100 TB): brute-force top-k is a map-side scan + per-partition
top-k (TakeOrderedAndProject — no full sort, no shuffle of the corpus) and
is the recall=1 baseline. The LSH path buckets the corpus once (one narrow
shuffle on bucket id), then probes only matching buckets; recall/cost is
tuned by ``n_planes``. For batched multi-query search the query set is the
broadcast side of the bucket equi-join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.xhash import plane_components

QUANT = 1_000_000  # 1e6 quantization: float32 precision ~1e-7 at |x|<1


def exact_dot_bound(dim: int) -> float:
    """Largest |component| for which a ``dim``-term integer dot product
    stays an EXACT integer in float64: requires
    ``dim * bound**2 <= 2**53``, i.e. ``bound = floor(sqrt(2**53/dim))``.
    The guards below derive the bound from the ACTUAL vector width
    instead of a constant — a hardcoded 1.1e7 is only sufficient for
    dim <= 64 (64 * (1.1e7)^2 ~ 7.7e15 < 2^53); a wider vector would
    pass that check while its dots silently lose exactness against the
    SQL oracles (round-10 advice)."""
    import math

    return float(math.floor(math.sqrt(2.0**53 / max(1, dim))))


def quantize(vec: Column) -> Column:
    """array<float> -> array<long> of round(x * 1e6). The float32 is cast
    to double BEFORE multiplying so both engines round the identical
    double value (float32->double is exact; float32 arithmetic is not)."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * QUANT, 0).cast("long")
    )


def _plane_matrix(n_planes: int, dim: int) -> np.ndarray:
    """All plane components as one int64 matrix (n_planes x dim)."""
    return np.array(
        [plane_components(j, dim) for j in range(n_planes)], dtype=np.int64
    )


def hyperplane_buckets_arrow(n_planes: int, dim: int = 64):
    """Arrow-vectorized LSH bucket id over an already-QUANTIZED vector
    column: one numpy int64 matmul per batch against the full plane matrix
    instead of ``n_planes`` interpreted higher-order-function dots per row
    (the round-3 profile put the expression path at ~80% of the
    embedding-near-dup wall time). Bit-identical to ``hyperplane_signs``:
    same integer components, same int64 arithmetic, same ``> 0`` sign
    rule — the SQL oracles never change."""
    planes = _plane_matrix(n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf("long")
    def _bucket(qv: pd.Series) -> pd.Series:
        if not len(qv):
            return pd.Series([], dtype="int64")
        m = np.stack(qv.to_numpy()).astype(np.int64)
        return pd.Series(((m @ planes.T > 0) * weights).sum(axis=1))

    return _bucket


def band_buckets_arrow(n_bands: int, band_bits: int, dim: int = 64):
    """Arrow-vectorized BANDED bucket ids over a quantized vector column:
    returns array<long> of length ``n_bands`` (band b's bucket = sign bits
    of planes ``b*band_bits .. b*band_bits+band_bits-1``). One matmul
    computes all ``n_bands*band_bits`` plane dots."""
    planes = _plane_matrix(n_bands * band_bits, dim)
    weights = 1 << np.arange(band_bits, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def _buckets(qv: pd.Series) -> pd.Series:
        if not len(qv):
            return pd.Series([], dtype=object)
        m = np.stack(qv.to_numpy()).astype(np.int64)
        bits = (m @ planes.T > 0).astype(np.int64)
        buck = (bits.reshape(len(m), n_bands, band_bits) * weights).sum(axis=2)
        return pd.Series(list(buck))

    return _buckets


def int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def knn_bruteforce(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by exact quantized dot product against a 1-row query
    DataFrame. The query side is broadcast (one row); ordering ties break
    on id. ``orderBy().limit()`` compiles to TakeOrderedAndProject:
    per-partition heap top-k, then a k-row merge on the driver — the
    right plan at any corpus size."""
    q = F.broadcast(query.select(quantize(F.col(vec_col)).alias("qvec")))
    scored = embeddings.crossJoin(q).select(
        F.col(id_col),
        int_dot(quantize(F.col(vec_col)), F.col("qvec")).alias("dot_q"),
    )
    return scored.orderBy(F.col("dot_q").desc(), F.col(id_col)).limit(k)


def knn_multiquery(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact top-k neighbors for a TABLE of queries in one pass — the
    batched form of :func:`knn_bruteforce` (r2 verdict item: the 100 TB
    workload is k-NN for a query table, not one vector). Shape: the
    quantized query matrix rides the scoring closure to every executor;
    each corpus Arrow batch is scored with one int64 matmul and pruned to
    its exact batch-local top-k (ties kept, so the (dot desc, id asc)
    total order is preserved) BEFORE the only shuffle; the final grouped
    top-k (``topk.grouped_top_k``) merges <= batches * |queries| * k tiny
    rows. The corpus never joins, never moves. Returns
    (query_id, id, dot_q, rn) with rn in [1, k], ties on id ascending.

    CONTRACT: ``queries`` must be DRIVER-SIZED — construction is EAGER
    (the query table is collected into the scoring closure at plan-build
    time, triggering a Spark job even if the result is never executed).
    ``max_queries`` bounds the collect: exceeding it raises instead of
    silently materializing an unbounded table in driver memory."""
    # The query table is the BOUNDED side of batched k-NN; materializing
    # it into the scoring closure is the broadcast-centroid pattern (same
    # as ivf_kmeans_search's cluster centers), never a corpus collect.
    # Each corpus Arrow batch is scored with ONE int64 matmul against the
    # whole query matrix — the interpreted per-pair dot this replaced
    # measured ~10M higher-order evaluations at the bench shape.
    # limit(max_queries + 1) caps driver memory BEFORE the collect; one
    # extra row is enough to detect overflow without fetching the table.
    qrows = (
        queries.select(F.col(qid_col), quantize(F.col(vec_col)).alias("qvec"))
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"knn_multiquery queries table exceeds max_queries={max_queries}; "
            "batch the query table or raise the cap explicitly (construction "
            "collects the query side into the scoring closure)"
        )
    if not qrows:
        # empty query batch -> empty result with the declared schema (the
        # pre-rewrite broadcast-join formulation behaved the same way)
        spark = queries.sparkSession
        return spark.createDataFrame(
            [], f"{qid_col} long, {id_col} long, dot_q long, rn long"
        )
    qids = np.array([r[qid_col] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r["qvec"], dtype=np.int64) for r in qrows])

    out_schema = (
        f"{qid_col} long, {id_col} long, dot_q long"
    )

    def _score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy().astype(np.int64)
            if not len(ids):
                continue
            m = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            scores = m @ qmat.T  # (batch, n_queries)
            kk = min(k, len(ids))
            sel_q, sel_i, sel_d = [], [], []
            for j in range(len(qids)):
                col = scores[:, j]
                # keep ALL ties at the kth score so the (dot desc, id asc)
                # total order survives the batch-local prune exactly
                kth = np.partition(col, -kk)[-kk]
                cand = np.nonzero(col >= kth)[0]
                order = np.lexsort((ids[cand], -col[cand]))[:kk]
                pick = cand[order]
                sel_q.append(np.full(len(pick), qids[j], dtype=np.int64))
                sel_i.append(ids[pick])
                sel_d.append(col[pick])
            yield pd.DataFrame(
                {
                    qid_col: np.concatenate(sel_q),
                    id_col: np.concatenate(sel_i),
                    "dot_q": np.concatenate(sel_d),
                }
            )

    pruned = embeddings.select(
        F.col(id_col), quantize(F.col(vec_col)).alias("qv")
    ).mapInPandas(_score, out_schema)
    from .topk import grouped_top_k

    return grouped_top_k(
        pruned, [qid_col], [F.col("dot_q").desc(), F.col(id_col).asc()], k
    )


def radius_search_multiquery(
    embeddings: DataFrame,
    queries: DataFrame,
    min_dot: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact RADIUS search for a table of queries: every (query, corpus)
    pair whose quantized int64 dot is >= ``min_dot`` (cosine radius, since
    vectors are L2-normalized — the "all neighbors within distance r"
    primitive behind semantic retrieval-with-threshold and near-dup audits,
    where top-k's fixed k either truncates dense neighborhoods or pads
    sparse ones).

    Shape: identical to :func:`knn_multiquery` — the driver-sized query
    matrix rides the closure (same eager ``max_queries``-capped collect
    contract), each corpus Arrow batch is scored with one int64 matmul and
    filtered IN the batch, so the corpus never joins, never shuffles, and
    the only rows that leave the map stage are actual results. recall=1 by
    construction (no LSH pruning), which is what makes the result
    hash-checkable against the brute-force SQL oracle. Self-matches are
    kept (a query in the corpus matches itself at dot ~ QUANT^2); callers
    filter ``query_id != id`` if they want strict neighbors."""
    qrows = (
        queries.select(F.col(qid_col), quantize(F.col(vec_col)).alias("qvec"))
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"radius_search_multiquery queries table exceeds "
            f"max_queries={max_queries}; batch the query table or raise the "
            "cap explicitly (construction collects the query side into the "
            "scoring closure)"
        )
    spark = queries.sparkSession
    out_schema = f"{qid_col} long, {id_col} long, dot_q long"
    if not qrows:
        return spark.createDataFrame([], out_schema)
    qids = np.array([r[qid_col] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r["qvec"], dtype=np.int64) for r in qrows])

    def _score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy().astype(np.int64)
            if not len(ids):
                continue
            m = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            scores = m @ qmat.T  # (batch, n_queries)
            rows, cols = np.nonzero(scores >= min_dot)
            yield pd.DataFrame(
                {
                    qid_col: qids[cols],
                    id_col: ids[rows],
                    "dot_q": scores[rows, cols],
                }
            )

    return embeddings.select(
        F.col(id_col), quantize(F.col(vec_col)).alias("qv")
    ).mapInPandas(_score, out_schema)


def ann_lsh_multiquery(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
) -> DataFrame:
    """Batched approximate top-k: bucket the corpus ONCE with the shared
    deterministic hyperplanes, broadcast the (query_id, bucket, qvec) set,
    equi-join on bucket, grouped top-k per query. Candidate volume per
    query is its bucket's population — sub-linear per query, and the
    corpus-side bucketing cost amortizes across the whole query table
    (persist or use the partitioned on-disk index via
    ``ann_probe_persisted`` for repeated batches)."""
    bucketer = hyperplane_buckets_arrow(n_planes, dim)
    corpus = embeddings.select(
        F.col(id_col), quantize(F.col(vec_col)).alias("qv")
    ).withColumn("bucket", bucketer(F.col("qv")))
    qb = F.broadcast(
        queries.select(
            F.col(qid_col),
            quantize(F.col(vec_col)).alias("qvec"),
            hyperplane_signs(F.col(vec_col), n_planes, dim).alias("bucket"),
        )
    )
    cand = corpus.join(qb, "bucket").select(
        F.col(qid_col),
        F.col(id_col),
        int_dot(F.col("qv"), F.col("qvec")).alias("dot_q"),
    )
    from .topk import grouped_top_k

    return grouped_top_k(
        cand, [qid_col], [F.col("dot_q").desc(), F.col(id_col).asc()], k
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.90,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L2 embedding-cosine near-dup: all (a < b) pairs with quantized
    cosine >= threshold. This is the exact O(n^2) verify kernel — at scale
    run it only on LSH-bucketed candidates (``ann_lsh_bucketed`` shares
    the bucketing)."""
    qdf = embeddings.select(
        F.col(id_col), quantize(F.col(vec_col)).alias("qv")
    )
    l, r = qdf.alias("l"), qdf.alias("r")
    thr = int(threshold * QUANT * QUANT)
    return (
        l.join(r, F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            int_dot(F.col("l.qv"), F.col("r.qv")).alias("dot_q"),
        )
        .filter(F.col("dot_q") >= thr)
    )


EMB_BANDS = 16     # OR-of-ANDs banding for embedding near-dup
EMB_BAND_BITS = 4  # 16 bands x 4 planes = 64 planes total. At the declared
#                    0.40 cosine threshold a co-oriented plane collides with
#                    p = 1 - acos(0.40)/pi ~= 0.63, so a boundary pair
#                    shares >=1 band with 1-(1-0.63^4)^16 ~= 0.94 — the r2
#                    verdict asked for >=0.9 boundary recall (was ~0.75 at
#                    8x4). Cost: 2x bucketing rows + ~1.6x candidates, paid
#                    in the Arrow-vectorized verify — measured under the
#                    10 s bench target in tests/test_llm_ops.py.


def embedding_band_buckets(
    qdf: DataFrame,
    n_bands: int = EMB_BANDS,
    band_bits: int = EMB_BAND_BITS,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """Banded hyperplane-LSH buckets over an already-quantized (id, qv)
    frame: (id, band, bucket), one row per band. Plane j of band b is
    ``plane_components(b*band_bits + j)``; bucket = the band's sign bits.
    OR-of-ANDs banding: a pair with angular collision probability p per
    plane shares >=1 band bucket with probability
    1 - (1 - p^band_bits)^n_bands — the recall/cost dial.

    Buckets come from the Arrow matmul kernel (``band_buckets_arrow``) —
    the expression-tree formulation (64 interpreted higher-order dots per
    row) measured ~15s of the 20s query at sf0.1; the matmul is <1s and
    integer-identical."""
    bucketer = band_buckets_arrow(n_bands, band_bits, dim)
    return qdf.select(
        F.col(id_col), F.posexplode(bucketer(F.col("qv"))).alias("band", "bucket")
    ).select(id_col, F.col("band").cast("long").alias("band"), "bucket")


def pack_qv_int32():
    """Quantized vector (array<long>, |q| <= ~1e6 << 2^31) packed as a
    little-endian int32 BINARY blob: half the Arrow bytes of list<int64>
    and none of the list-offset overhead. Candidate-pair verify ships two
    vectors per row, so wire width is the verify stage's cost driver —
    packing measured ~2x end-to-end on the sf0.1 near-dup bench."""

    @F.pandas_udf("binary")
    def pack(qv: pd.Series) -> pd.Series:
        if not len(qv):
            return pd.Series([], dtype=object)
        m = np.stack(qv.to_numpy()).astype(np.int32)
        return pd.Series([row.tobytes() for row in m])

    return pack


def blocked_pairs_within(
    grouped: DataFrame,
    group_cols: list[str],
    thr: int,
    id_col: str = "id",
    block_rows: int = 8192,
    out_group_col: str | None = None,
) -> DataFrame:
    """The shared COGROUPED BLOCK-MATMUL pair kernel: given a grouped
    table ``(group_cols..., id, qvb)`` (``qvb`` = int32-packed quantized
    vector, ``pack_qv_int32``; the caller persists it — two cogroup
    sides and one sizing action reuse it), emit every WITHIN-GROUP pair
    with exact integer dot >= ``thr`` as ``(id_a, id_b, dot_q)``
    (plus the first group column when ``out_group_col`` is set). Pairs
    are never materialized as rows before the threshold: each group's
    pair space is walked inside tiled numpy matmuls, and only survivors
    leave the UDF. Used by the banded-LSH near-dup verify
    (:func:`embedding_neardup_pairs_bucketed` — groups = band buckets,
    survivors deduped across bands by the caller) and the cell-scoped
    semantic near-dup (:func:`semantic_neardup_cells` — groups = IVF
    cells, each pair in exactly one group).

    WHY blocks, not a row join (the r8 sf3 crash): a row-join verify
    ships two ~270 B packed vectors PER CANDIDATE PAIR — quadratic
    wire; 60k vectors at a weak threshold meant ~1.8e9 candidate rows
    ~ 1 TB through one shuffle and dead Python workers. In block form
    each group-chunk ships its vectors ONCE (linear wire) and the pair
    space costs ~4e-3 ns/pair of BLAS flops.

    Exactness: quantized components are |q| <= ~6e5 (|x| <= 0.58 at
    QUANT=1e6; guarded at sqrt(2^53/dim), :func:`exact_dot_bound`), so
    every product <= 1.2e14 and every
    64-term partial sum <= 7.7e15 < 2^53 stays an EXACT integer in
    float64 — BLAS dgemm (products + sums only) is bit-identical to
    int64 arithmetic, ~10x faster in numpy, and identical to the DuckDB
    oracles' double-path ``list_dot_product``.

    Parallelism (the sf1 AQE lesson): the cogroup's input bytes are
    tiny relative to its compute, so AQE would coalesce the stage onto
    a couple of tasks — both sides are ``repartition(n, keys)``-ed
    explicitly (user counts are exempt from AQE coalescing), and
    oversized groups are split by triangular chunk-pair salting: row
    chunk c = pmod(id, S) (pmod: Spark's % follows the dividend sign),
    LEFT replicated to (c, cj>=c), RIGHT to (ci<=c, c), so every
    unordered pair lands in EXACTLY one (group, ci, cj) cogroup —
    cross-chunk pairs via the (min, max) key, same-chunk pairs via the
    id< residual inside the ci==cj block. S adapts to the MEASURED
    largest group (ceil(m_max/block_rows)); balanced corpora get S=1
    and rely on group count for spread. Inside the UDF, left rows tile
    at 1024 so peak block memory is 1024 x block_rows x 8 B (~67 MB)
    regardless of group size. The RIGHT side's columns are r_-prefixed:
    both sides derive from the same persisted frame, and renaming gives
    the analyzer's ambiguous-self-join check distinct references
    (cogroup matches group keys positionally, so names are free)."""
    n_group = len(group_cols)
    stats = grouped.groupBy(*group_cols).count().agg(
        F.max("count").alias("m_max")
    ).collect()[0]
    m_max = int(stats["m_max"] or 0)
    S = max(1, -(-m_max // block_rows))  # ceil; 1 = no salting needed
    chunk = F.pmod(F.col(id_col), F.lit(S)).cast("int")
    l = (
        grouped.withColumn("chunk", chunk)
        .withColumn("cj", F.explode(F.expr(f"sequence(chunk, {S - 1})")))
        .select(
            *group_cols,
            F.col("chunk").alias("ci"),
            "cj",
            F.col(id_col).alias("id"),
            "qvb",
        )
    )
    r = (
        grouped.withColumn("chunk", chunk)
        .withColumn("ci", F.explode(F.expr("sequence(0, chunk)")))
        .select(
            *[F.col(c).alias(f"r_{c}") for c in group_cols],
            F.col("ci").alias("r_ci"),
            F.col("chunk").alias("r_cj"),
            F.col(id_col).alias("r_id"),
            F.col("qvb").alias("r_qvb"),
        )
    )
    keys = [*group_cols, "ci", "cj"]
    r_keys = [*[f"r_{c}" for c in group_cols], "r_ci", "r_cj"]
    n_parts = max(
        int(l.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
        S * (S + 1),
    )
    l = l.repartition(n_parts, *keys)
    r = r.repartition(n_parts, *r_keys)
    out_schema = "id_a long, id_b long, dot_q long"
    if out_group_col is not None:
        out_schema += f", {out_group_col} long"

    def _verify_block(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = {
            "id_a": pd.Series([], dtype="int64"),
            "id_b": pd.Series([], dtype="int64"),
            "dot_q": pd.Series([], dtype="int64"),
        }
        if out_group_col is not None:
            cols[out_group_col] = pd.Series([], dtype="int64")
        empty = pd.DataFrame(cols)
        if not len(left) or not len(right):
            return empty
        same_chunk = key[n_group] == key[n_group + 1]  # ci == cj: id< rule
        ids_l = left["id"].to_numpy()
        ids_r = right["r_id"].to_numpy()
        A = (
            np.frombuffer(b"".join(left["qvb"].to_numpy()), dtype="<i4")
            .reshape(len(left), -1)
            .astype(np.float64)
        )
        B = (
            np.frombuffer(b"".join(right["r_qvb"].to_numpy()), dtype="<i4")
            .reshape(len(right), -1)
            .astype(np.float64)
        )
        bound = exact_dot_bound(A.shape[1])
        if max(np.abs(A).max(), np.abs(B).max()) > bound:
            raise ValueError(
                "blocked_pairs_within: quantized component exceeds "
                f"{bound:.0f} (dim {A.shape[1]}) — float64 dot exactness "
                "bound violated"
            )
        out_a, out_b, out_d = [], [], []
        for t0 in range(0, len(A), 1024):
            D = A[t0 : t0 + 1024] @ B.T  # exact integer dots in float64
            mask = D >= thr
            if same_chunk:
                mask &= ids_l[t0 : t0 + 1024, None] < ids_r[None, :]
            ia, ib = np.nonzero(mask)
            if len(ia):
                da = ids_l[t0 + ia]
                db = ids_r[ib]
                out_a.append(np.minimum(da, db))
                out_b.append(np.maximum(da, db))
                out_d.append(D[ia, ib].astype(np.int64))
        if not out_a:
            return empty
        out = {
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "dot_q": np.concatenate(out_d),
        }
        if out_group_col is not None:
            out[out_group_col] = np.full(len(out["id_a"]), key[0], dtype=np.int64)
        return pd.DataFrame(out)

    return (
        l.groupBy(*keys)
        .cogroup(r.groupBy(*r_keys))
        .applyInPandas(_verify_block, out_schema)
    )


def embedding_neardup_pairs_bucketed(
    embeddings: DataFrame,
    threshold: float = 0.40,
    n_bands: int = EMB_BANDS,
    band_bits: int = EMB_BAND_BITS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 8192,
) -> DataFrame:
    """Scale path for embedding near-dup: banded-LSH candidate generation
    + exact dot verify, with the verify computed by the shared cogrouped
    block-matmul kernel (:func:`blocked_pairs_within` — groups = band
    buckets; candidate pairs never materialize as rows; the r8 sf3
    crash analysis, exactness proof, salting and AQE notes live on the
    kernel's docstring). Semantics unchanged from the row-join
    formulation: same buckets, same exact integer dots, same threshold;
    ``embedding_neardup_pairs`` (the plain O(n^2) kernel) remains the
    recall oracle in tests/test_llm_ops.py and the survivor SET is
    byte-identical.

    COST MODEL (recorded in SCALE.md §similarity-decades): candidate
    volume at a 3.2-sigma threshold is intrinsically ~N^2/2 x P(band
    collision) — banding at 0.40 is recall bookkeeping, not pruning
    (LSH theory: rho = ln(1/0.63)/ln(2) ~= 0.66 makes sub-quadratic
    candidate generation need thousands of bands at >=0.9 recall). At
    production near-dup thresholds (>=0.8 cosine = 6.4 sigma) the SAME
    code prunes to near-linear. The 100 TB answer for LOW thresholds is
    :func:`semantic_neardup_cells`: cluster first, then block within
    cells — linear total work, cell-scoped semantics."""
    qdf = embeddings.select(F.col(id_col), quantize(F.col(vec_col)).alias("qv"))
    # persist ONLY for the duration of the build (bucketing + both
    # cogroup sides reuse it), then free — leaving per-invocation caches
    # pinned would evict longer-lived persisted tables over a session
    pack = pack_qv_int32()
    packed = qdf.select(F.col(id_col), pack(F.col("qv")).alias("qvb")).persist()
    packed.count()  # materialize once
    buckets = embedding_band_buckets(qdf, n_bands, band_bits, dim, id_col)
    # vectors attach to bucket rows ONCE (bands-fold linear replication,
    # NOT per-pair). Explicit broadcast: the packed table is
    # O(corpus x dim) int32s — broadcastable far past this benchmark's
    # size; at a corpus where it exceeds executor memory, drop the hint
    # and let a shuffle join co-partition on id.
    bucketed = (
        buckets.join(F.broadcast(packed), id_col)
        .select("band", "bucket", F.col(id_col).alias("id"), "qvb")
        .persist()
    )
    thr = int(threshold * QUANT * QUANT)
    survivors = (
        blocked_pairs_within(
            bucketed, ["band", "bucket"], thr, block_rows=block_rows
        )
        # cross-band duplicate SURVIVORS dedupe here — tiny vs the pair
        # space, and dots are identical across bands so any row wins
        .dropDuplicates(["id_a", "id_b"])
        .localCheckpoint()  # materialize so the persisted inputs can free
    )
    bucketed.unpersist()
    packed.unpersist()
    return survivors


def semantic_neardup_cells(
    embeddings: DataFrame,
    threshold: float = 0.40,
    seed_modulus: int = 125,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 8192,
) -> DataFrame:
    """CELL-SCOPED semantic near-dup — the SemDeDup-style shape this
    repo's own decade run (SCALE.md §similarity-decades) prescribes as
    the 100 TB answer for low-threshold embedding dedup: partition the
    corpus by the deterministic IVF coarse quantizer (:func:`ivf_cells`
    — seeds every ``seed_modulus``-th id, exact max-dot assignment,
    smallest-sid ties), then emit every WITHIN-CELL pair with exact
    quantized dot >= threshold via the shared block-matmul kernel
    (:func:`blocked_pairs_within`, groups = cells). Returns
    ``(id_a, id_b, dot_q, cell)`` — each pair in exactly one cell, so
    no dedup pass.

    The declared semantics are CELL-SCOPED by design: pairs straddling
    a cell boundary are out of scope (the SemDeDup trade — at 100 TB
    you accept boundary misses to make the work linear; multi-probe or
    a second clustering recovers them if needed). The within-scope
    result is EXACT — hash-checkable by a SQL oracle that restates the
    assignment and the within-cell self-join.

    Scale shape vs the banded path: seeds are every ``seed_modulus``-th
    id, so the EXPECTED cell size stays ~``seed_modulus`` as the corpus
    grows (cells multiply instead of fattening) and total pair work is
    ~N x seed_modulus — LINEAR in the corpus, against the banded
    verify's intrinsic ~N² at weak thresholds. One shuffle (cells),
    one bounded seed collect, skew handled by the kernel's measured
    chunk salting. Measured (SCALE.md): at sf10 (200k vectors) this
    runs the same 0.40 threshold in 7.5 s vs the banded path's 57 s —
    ~1/8 the wall, with the gap widening every further decade (linear
    vs quadratic; at sf10 the remaining cost is assignment + shuffle,
    not pair work)."""
    celled = ivf_cells(embeddings, seed_modulus, id_col, vec_col)
    pack = pack_qv_int32()
    grouped = celled.select(
        F.col("cell"),
        F.col(id_col).alias("id"),
        pack(F.col("qv")).alias("qvb"),
    ).persist()
    thr = int(threshold * QUANT * QUANT)
    out = blocked_pairs_within(
        grouped, ["cell"], thr, block_rows=block_rows, out_group_col="cell"
    ).localCheckpoint()  # materialize so the persisted input can free
    grouped.unpersist()
    return out


def ivf_cells(
    embeddings: DataFrame,
    seed_modulus: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_seeds: int = 65536,
) -> DataFrame:
    """IVF coarse quantizer with deterministic seed centroids: every
    vector whose id % seed_modulus == 0 is a centroid; each corpus vector
    assigns to its max-dot centroid (exact integer dots, ties to the
    smallest seed id). Returns (id, qv, cell).

    Seeds-as-data keeps the index reproducible across engines and
    sessions — the trade against learned k-means centroids (better cell
    balance, RNG + iteration order dependence) is deliberate: a learned
    quantizer can't be hash-checked by an SQL oracle. Swap in Spark ML
    KMeans behind the same (id, cell) contract when approximate oracles
    are acceptable.

    Assignment shape (sf1 lesson): the original broadcast-crossJoin +
    per-id window computed N×S interpreted higher-order dots and then
    shuffled/sorted the N×S scored table — both grow quadratically when
    seeds scale with the corpus (measured 25× normalized at a 10× data
    multiply). Assignment is now ONE zero-shuffle Arrow map stage: the
    seed matrix (bounded driver collect, ``max_seeds``-capped exactly
    like ``pq_search``'s ``max_fit_rows``) rides the UDF closure sorted
    by sid ascending, each batch scores via a float64 BLAS matmul whose
    dots stay EXACT integers (components guarded |q| <=
    sqrt(2^53/dim) via :func:`exact_dot_bound`, so every
    64-term dot < 2^53 — see :func:`_cell_assign_udf`), and ``argmax`` —
    first occurrence wins — reproduces the max-dot/smallest-sid tie rule
    byte-exactly, so the SQL oracles never change."""
    seeds = (
        embeddings.filter(F.col(id_col) % seed_modulus == 0)
        .select(F.col(id_col).alias("sid"), quantize(F.col(vec_col)).alias("sv"))
        .orderBy("sid")
    )
    seed_rows = seeds.limit(max_seeds + 1).collect()
    if len(seed_rows) > max_seeds:
        raise ValueError(
            f"ivf_cells: {len(seed_rows)}+ seeds exceed max_seeds={max_seeds}; "
            "raise seed_modulus (cells should grow ~sqrt(corpus), not "
            "linearly) or max_seeds"
        )
    if not seed_rows:
        raise ValueError("ivf_cells: no seed vectors (corpus empty or no "
                         f"id % {seed_modulus} == 0)")
    _cell = _cell_assign_udf(seed_rows)
    qdf = embeddings.select(
        F.col(id_col), quantize(F.col(vec_col)).alias("qv")
    )
    return qdf.select(
        id_col, "qv", _cell(F.col("qv")).alias("cell")
    )


def _cell_assign_udf(seed_rows):
    """The shared zero-shuffle IVF assignment kernel: given the collected
    (sid, sv) seed rows SORTED BY sid ASCENDING, return a pandas_udf that
    maps a quantized vector to its max-dot cell — one exact-integer
    float64 matmul per Arrow batch, ``argmax`` first-occurrence-wins reproducing
    the max-dot/smallest-sid tie rule byte-exactly (the SQL oracles never
    change). Used by the BUILD path (:func:`ivf_cells`) and the GROW path
    (:func:`ivf_add`) so both assign identically by construction.

    The matmul runs in float64 (BLAS dgemm), not int64 (numpy's int
    matmul has no BLAS path and measured ~10x slower once seeds reach
    the ~sqrt(corpus) thousands): quantized components are |q| <= ~6e5,
    so every product <= 1.2e14 and every 64-term sum <= 7.7e15 < 2^53
    stays an EXACT integer in float64 — scores, ties, and argmax are
    bit-identical to the int64 path and to the SQL oracles."""
    sid_arr = np.array([r["sid"] for r in seed_rows], dtype=np.int64)
    sv_mat = np.stack(
        [np.array(r["sv"], dtype=np.float64) for r in seed_rows]
    )
    # same float64-exactness guard as blocked_pairs_within, derived from
    # the ACTUAL dimension (exact_dot_bound): a component past
    # sqrt(2^53/dim) would make dots inexact in float64 and silently
    # corrupt the max-dot/smallest-sid tie-break vs the SQL oracles —
    # check the seed matrix once here, each Arrow batch below
    _bound = exact_dot_bound(sv_mat.shape[1]) if len(sv_mat) else 0.0
    if len(sv_mat) and np.abs(sv_mat).max() > _bound:
        raise ValueError(
            f"_cell_assign_udf: quantized seed component exceeds "
            f"{_bound:.0f} (dim {sv_mat.shape[1]}) — float64 dot "
            "exactness bound violated"
        )

    @F.pandas_udf("long")
    def _cell(qv: pd.Series) -> pd.Series:
        if not len(qv):
            return pd.Series([], dtype="int64")
        m = np.stack(qv.to_numpy()).astype(np.float64)
        if np.abs(m).max() > exact_dot_bound(m.shape[1]):
            raise ValueError(
                "_cell_assign_udf: quantized vector component exceeds "
                f"{exact_dot_bound(m.shape[1]):.0f} (dim {m.shape[1]}) — "
                "float64 dot exactness bound violated"
            )
        return pd.Series(sid_arr[(m @ sv_mat.T).argmax(axis=1)])

    return _cell


def ivf_search(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 20,
    n_probe: int = 2,
    seed_modulus: int = 125,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: score only corpus vectors in the query's n_probe nearest
    cells. At scale the celled corpus is written partitioned by cell
    (partition pruning does the probe); recall dials with n_probe."""
    cells = ivf_cells(embeddings, seed_modulus, id_col, vec_col)
    # ranking the query's seed dots picks the probe cells; seed count grows
    # ~sqrt(N) with the corpus, so rank via orderBy+limit
    # (TakeOrderedAndProject: per-partition heaps, no single-partition
    # window sort) instead of an unpartitioned row_number
    qv = query.select(quantize(F.col(vec_col)).alias("query_qv"))
    seed_vecs = (
        embeddings.filter(F.col(id_col) % seed_modulus == 0)
        .select(F.col(id_col).alias("sid"), quantize(F.col(vec_col)).alias("sv"))
    )
    qcells = (
        qv.crossJoin(F.broadcast(seed_vecs))
        .select("query_qv", "sid", int_dot(F.col("query_qv"), F.col("sv")).alias("sdot"))
        .orderBy(F.col("sdot").desc(), F.col("sid").asc())
        .limit(n_probe)
        .select("query_qv", F.col("sid").alias("cell"))
    )
    return (
        cells.join(F.broadcast(qcells), "cell")
        .select(
            F.col(id_col), int_dot(F.col("qv"), F.col("query_qv")).alias("dot_q")
        )
        .orderBy(F.col("dot_q").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_kmeans_search(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 20,
    n_cells: int = 8,
    n_probe: int = 2,
    seed: int = 42,
    fit_sample_mod: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF with a LEARNED coarse quantizer (Spark ML KMeans) behind the
    same contract as :func:`ivf_search`: corpus assigned to cells, query
    probes its ``n_probe`` nearest centroids, exact integer dots inside.

    Trade vs the seed-centroid variant (``ivf_cells`` docstring): KMeans
    gives far better cell balance (cells follow the data's actual modes),
    but the fit is iterative and RNG-seeded, so there is no SQL oracle —
    the declared query is rows-only checked and the recall gate lives in
    tests (vs brute force). At 100 TB: fit on the deterministic sample
    (``id % fit_sample_mod == 0``), broadcast the k centroid literals
    exactly as here, and persist the celled corpus partitioned by cell."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fit_df = embeddings
    if fit_sample_mod > 1:
        fit_df = embeddings.filter(F.col(id_col) % fit_sample_mod == 0)
    fit_vecs = fit_df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(fit_vecs)
    centers = [c.tolist() for c in model.clusterCenters()]

    # centroids as quantized literal arrays: assignment + probe selection
    # are plain integer-dot argmax expressions (broadcast by construction)
    def _qcenter(c: list[float]) -> Column:
        return F.array(*[F.lit(int(round(x * QUANT))) for x in c])

    qdf = embeddings.select(F.col(id_col), quantize(F.col(vec_col)).alias("qv"))
    cell_expr = None
    best_dot = None
    for ci, c in enumerate(centers):
        d = int_dot(F.col("qv"), _qcenter(c))
        if cell_expr is None:
            cell_expr, best_dot = F.lit(ci), d
        else:
            cond = d > best_dot
            cell_expr = F.when(cond, F.lit(ci)).otherwise(cell_expr)
            best_dot = F.greatest(best_dot, d)
    cells = qdf.withColumn("cell", cell_expr)

    qv_row = query.select(quantize(F.col(vec_col)).alias("query_qv"))
    probe_struct = F.array(
        *[
            F.struct(
                int_dot(F.col("query_qv"), _qcenter(c)).alias("dot"),
                F.lit(ci).alias("cell"),
            )
            for ci, c in enumerate(centers)
        ]
    )
    probes = qv_row.select(
        "query_qv",
        F.explode(
            F.slice(F.reverse(F.array_sort(probe_struct)), 1, n_probe)
        ).alias("p"),
    ).select("query_qv", F.col("p.cell").alias("cell"))
    return (
        cells.join(F.broadcast(probes), "cell")
        .select(F.col(id_col), int_dot(F.col("qv"), F.col("query_qv")).alias("dot_q"))
        .orderBy(F.col("dot_q").desc(), F.col(id_col))
        .limit(k)
    )


def ann_index_path(sf_dir: str, n_planes: int = 8) -> str:
    """Deterministic on-disk location for the persisted LSH index of one
    dataset, anchored to the repo root (NOT the process CWD — the round
    driver may launch from elsewhere). The path encodes the bucketing
    config (plane count, quant scale) AND a fingerprint of the source
    parquet (size + mtime), so neither a config change nor regenerated
    data can silently reuse a stale index."""
    import os

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    sfname = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        fp = f"{st.st_size}_{st.st_mtime_ns}"
    except OSError:
        fp = "nosrc"
    return os.path.join(
        repo_root,
        "spark-warehouse",
        f"ann_index_{sfname}_p{n_planes}_q{QUANT}_d{fp}",
    )


def _index_table_name(index_path: str) -> str:
    """Catalog table name for a persisted index, keyed by its path (the
    canonical ``ann_index_path`` already fingerprints config + data)."""
    import hashlib

    return "ann_index_" + hashlib.md5(index_path.encode()).hexdigest()[:12]


def build_ann_index(
    embeddings: DataFrame,
    path: str,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Bucket the corpus once and write it partitioned BY BUCKET: the
    expensive part of LSH search (hyperplane dots over the whole corpus)
    happens once per corpus, not once per query, and the physical layout
    makes every later probe a partition-pruned scan. At 100 TB this is the
    difference between an index and a full re-scan per query."""
    bucketer = hyperplane_buckets_arrow(n_planes, dim)
    (
        embeddings.select(F.col(id_col), quantize(F.col(vec_col)).alias("qv"))
        .withColumn("bucket", bucketer(F.col("qv")))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    # A rebuild at the SAME path must invalidate any catalog registration
    # from a previous probe — otherwise the next probe prunes against the
    # stale partition list and silently misses new buckets. (The canonical
    # ann_index_path fingerprints the data so same-path rebuilds only
    # happen for arbitrary caller-chosen paths, but those are public API.)
    embeddings.sparkSession.sql(
        f"DROP TABLE IF EXISTS {_index_table_name(path)}"
    )


def _registered_ann_index(spark, index_path: str, id_col: str) -> DataFrame:
    """Register (once) and return the persisted LSH index as a PARTITIONED
    CATALOG TABLE: a bare ``spark.read.parquet`` re-lists all 2^n_planes
    bucket directories on every probe (a ~2s parallel-listing job at 256
    dirs on this host — measured as the entire probe cost), while
    catalog-backed partition metadata is listed once at registration and
    pruned from the metastore afterwards. That is also the 100 TB posture:
    indexes live in the catalog, probes never touch the filesystem
    layout. (bucket is sign bits of n_planes <= 2^30 — INT is safe here,
    unlike the IVF cell, which is a seed vec_id and must be BIGINT.)"""
    tbl = _index_table_name(index_path)
    if not spark.catalog.tableExists(tbl):
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {tbl} "
            f"({id_col} BIGINT, qv ARRAY<BIGINT>, bucket INT) "
            f"USING parquet PARTITIONED BY (bucket) LOCATION '{index_path}'"
        )
        spark.sql(f"ALTER TABLE {tbl} RECOVER PARTITIONS")
    return spark.table(tbl)


def ann_probe_persisted(
    spark,
    index_path: str,
    query: DataFrame,
    k: int = 20,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted LSH index: join on the PARTITION column with the
    1-row query broadcast, so dynamic partition pruning reads only the
    query's bucket directory — the probe cost is one bucket, not the
    corpus (plan-asserted in tests/test_plan_shapes.py). Registration via
    :func:`_registered_ann_index`."""
    index = _registered_ann_index(spark, index_path, id_col)
    qb = F.broadcast(
        query.select(
            quantize(F.col(vec_col)).alias("qvec"),
            # partition-column values are directory names; Spark infers
            # them as int — match that type so pruning sees a plain
            # equi-join on the partition attribute, no inserted casts
            hyperplane_signs(F.col(vec_col), n_planes, dim)
            .cast("int")
            .alias("bucket"),
        )
    )
    return (
        index.join(qb, "bucket")
        .select(F.col(id_col), int_dot(F.col("qv"), F.col("qvec")).alias("dot_q"))
        .orderBy(F.col("dot_q").desc(), F.col(id_col))
        .limit(k)
    )


def ann_probe_persisted_multiquery(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
) -> DataFrame:
    """Batched probe of the persisted LSH index — the 100 TB serving
    shape: a query TABLE (not one vector) joins the catalog-registered
    index on its PARTITION column, so dynamic partition pruning confines
    the scan to the union of the queries' bucket directories; per-query
    candidates stay one bucket's population, and the index build/listing
    cost amortizes over the whole batch. Top-k per query via
    ``topk.grouped_top_k`` (one tiny shuffle on candidate rows only).
    Combines ``ann_lsh_multiquery`` (inline bucketing, corpus re-scored
    per call) with ``ann_probe_persisted`` (index-once, single query)."""
    index = _registered_ann_index(spark, index_path, id_col)
    qb = F.broadcast(
        queries.select(
            F.col(qid_col),
            quantize(F.col(vec_col)).alias("qvec"),
            # match the partition column's inferred int type so pruning
            # sees a plain equi-join on the partition attribute
            hyperplane_signs(F.col(vec_col), n_planes, dim)
            .cast("int")
            .alias("bucket"),
        )
    )
    cand = index.join(qb, "bucket").select(
        F.col(qid_col),
        F.col(id_col),
        int_dot(F.col("qv"), F.col("qvec")).alias("dot_q"),
    )
    from .topk import grouped_top_k

    return grouped_top_k(
        cand, [qid_col], [F.col("dot_q").desc(), F.col(id_col).asc()], k
    )


def ivf_probe_persisted_multiquery(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
) -> DataFrame:
    """Batched probe of the persisted IVF index — the IVF twin of
    :func:`ann_probe_persisted_multiquery`: every query in the TABLE
    ranks the (tiny, broadcast) seed-centroid table by exact integer
    dot, keeps its ``n_probe`` nearest cells, and the (query, cell,
    qvec) probe set joins the catalog-registered celled table on its
    BIGINT partition column — dynamic partition pruning reads only the
    union of probed cell directories, and per-query candidate volume
    stays n_probe cells regardless of batch size. Top-k per query via
    grouped top-k over candidates only."""
    from pyspark.sql import Window

    cells = _registered_ivf_index(spark, index_path, id_col)
    seeds = spark.read.parquet(index_path + "/seeds")
    qv = queries.select(
        F.col(qid_col), quantize(F.col(vec_col)).alias("query_qv")
    )
    ranked = (
        qv.crossJoin(F.broadcast(seeds))
        .select(
            qid_col,
            "query_qv",
            "sid",
            int_dot(F.col("query_qv"), F.col("sv")).alias("sdot"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(qid_col).orderBy(
                    F.col("sdot").desc(), F.col("sid").asc()
                )
            ),
        )
        .filter(F.col("rn") <= n_probe)
        .select(qid_col, "query_qv", F.col("sid").alias("cell"))
    )
    cand = cells.join(F.broadcast(ranked), "cell").select(
        F.col(qid_col),
        F.col(id_col),
        int_dot(F.col("qv"), F.col("query_qv")).alias("dot_q"),
    )
    from .topk import grouped_top_k

    return grouped_top_k(
        cand, [qid_col], [F.col("dot_q").desc(), F.col(id_col).asc()], k
    )


def hyperplane_signs(vec: Column, n_planes: int, dim: int) -> Column:
    """LSH bucket id: sign bits of dot products with n_planes deterministic
    pseudo-random hyperplanes (md5-derived literal components via
    ``xhash.plane_components`` — reproducible in any engine, and the plan
    carries plain constants).

    Plane literals are built as ONE parsed ``F.expr("array(...)")`` per
    plane, not per-component ``F.lit`` chains — the lit/cast version cost
    ~1.6s of DRIVER time in py4j round trips (512 for 8x64) on every
    query construction, dominating the small LSH probes end-to-end."""
    qv = quantize(vec)
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        plane = F.expr(
            "array(" + ",".join(f"{v}L" for v in plane_components(j, dim)) + ")"
        )
        d = F.aggregate(
            F.zip_with(qv, plane, lambda x, p: x * p),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d > 0, F.lit(1 << j)).otherwise(0)
    return bucket


def ann_lsh_bucketed(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 20,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    hyperplane-LSH bucket. Sub-linear probe cost; recall measured against
    ``knn_bruteforce`` in tests.

    ``multiprobe=m`` additionally probes every bucket within hamming
    distance 1 obtained by flipping one of the first m sign bits — the
    standard recall/cost dial: vectors near a hyperplane fall on either
    side, so flipping the least-confident bits recovers them. m=n_planes
    probes 1+n_planes buckets; m=0 is single-bucket."""
    bucketer = hyperplane_buckets_arrow(n_planes, dim)
    corpus = embeddings.select(
        F.col(id_col), quantize(F.col(vec_col)).alias("qv")
    ).withColumn("bucket", bucketer(F.col("qv")))
    qbucket = hyperplane_signs(F.col(vec_col), n_planes, dim)
    probes = F.array(
        qbucket, *[qbucket.bitwiseXOR(F.lit(1 << j)) for j in range(multiprobe)]
    )
    qb = F.broadcast(
        query.select(
            quantize(F.col(vec_col)).alias("qvec"),
            F.explode(probes).alias("bucket"),
        )
    )
    return (
        corpus.join(qb, "bucket")
        .select(
            F.col(id_col),
            int_dot(F.col("qv"), F.col("qvec")).alias("dot_q"),
        )
        .orderBy(F.col("dot_q").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_index_path(sf_dir: str, seed_modulus: int = 125) -> str:
    """Deterministic on-disk location for the persisted IVF index of one
    dataset — same fingerprint discipline as :func:`ann_index_path`."""
    import os

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    sfname = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        fp = f"{st.st_size}_{st.st_mtime_ns}"
    except OSError:
        fp = "nosrc"
    return os.path.join(
        repo_root,
        "spark-warehouse",
        f"ivf_index_{sfname}_m{seed_modulus}_q{QUANT}_d{fp}",
    )


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    seed_modulus: int = 125,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF index: the celled corpus partitioned BY CELL (so a
    probe is partition pruning) plus the tiny seed-centroid table in a
    ``seeds`` subdirectory (so probes rank cells without scanning the
    celled data). Closes the loop SCALE.md documents for IVF: index once,
    prune per probe — same shape as the LSH index."""
    cells = ivf_cells(embeddings, seed_modulus, id_col, vec_col)
    # REBALANCE, not a fixed-width repartition (r16, guide §6): AQE sizes
    # the write by DATA — tiny cells coalesce into few tasks (a small
    # index stops paying shuffle-partition-count task commits), a
    # skew-hot cell may split across tasks (several right-sized files in
    # its partition dir instead of one giant one). Every cell row still
    # lands under its own cell= dir, so probes prune identically.
    (
        cells.hint("rebalance", "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path + "/cells")
    )
    (
        embeddings.filter(F.col(id_col) % seed_modulus == 0)
        .select(F.col(id_col).alias("sid"), quantize(F.col(vec_col)).alias("sv"))
        .write.mode("overwrite")
        .parquet(path + "/seeds")
    )
    embeddings.sparkSession.sql(
        f"DROP TABLE IF EXISTS {_index_table_name(path)}"
    )


def ivf_add(
    spark,
    index_path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_seeds: int = 65536,
) -> None:
    """Incremental IVF index maintenance: assign NEW vectors to the
    EXISTING seed centroids (read from the index's own ``seeds`` table —
    the coarse quantizer is frozen, the standard IVF grow path) and
    APPEND their celled rows into the per-cell partition directories.

    The existing celled data is never read or rewritten — cost is
    |new| × |seeds| map-side scoring plus one |new|-sized partitioned
    append, so a daily embedding-corpus increment costs the increment,
    not the corpus. Because assignment is per-vector deterministic given
    the seed set, a grown index is row-identical to an index built from
    the full corpus in one shot whenever the initial build contained
    every seed id — the exact-equality property ``l3_ivf_add``'s oracle
    checks and tests/test_llm_ops.py asserts file-level (append must not
    touch the original cell files). Catalog registration is invalidated
    (same pattern as :func:`build_ivf_index`) so the next probe
    re-registers and recovers any newly created cell partitions.

    Idempotence: new vectors are LEFT-ANTI-joined against the ids already
    in the index before the append, so a retried/redelivered increment
    (or re-running with vectors already indexed) is a no-op instead of
    silently duplicating rows — and a torn earlier append self-heals (its
    landed rows are skipped, only the remainder appends). The guard costs
    one column-pruned scan of the index's id column per increment; for
    very large indexes where even that scan matters, track increment ids
    in a JoinView-style commit manifest instead and keep increments
    disjoint upstream.

    Assignment shape (r9 fix — the sf3/sf10 decade run caught it): the
    grow path still used the pre-sf1-rework broadcast-crossJoin +
    per-id window — |new| × |seeds| interpreted higher-order dots plus a
    shuffle/sort of that scored table, measured 115 s at sf3 and a
    multi-minute straggler at sf10 (seeds grow with the corpus, so the
    scored table grows ~quadratically). It now reuses the build path's
    zero-shuffle Arrow matmul kernel (:func:`_cell_assign_udf`) — the
    seed matrix rides the closure, assignment is one map stage, and the
    grown index stays byte-identical to a one-shot build because both
    paths share the same kernel by construction."""
    seeds = spark.read.parquet(index_path + "/seeds").orderBy("sid")
    # bounded collect: the build capped seeds at its max_seeds; re-assert
    # the SAME cap on read-back so a hand-built oversized index fails
    # loudly, not slowly — an index legitimately built with
    # ivf_cells(max_seeds=N) stays growable by passing the same N here
    seed_rows = seeds.limit(max_seeds + 1).collect()
    if len(seed_rows) > max_seeds:
        raise ValueError(
            f"ivf_add: index at {index_path} has >{max_seeds} seeds — "
            "pass the max_seeds the index was built with, or rebuild "
            "with a larger seed_modulus (cells should grow ~sqrt(corpus))"
        )
    existing_ids = spark.read.parquet(index_path + "/cells").select(
        F.col(id_col).cast("long").alias(id_col)
    )
    new_vectors = new_vectors.join(existing_ids, id_col, "left_anti")
    qdf = new_vectors.select(F.col(id_col), quantize(F.col(vec_col)).alias("qv"))
    _cell = _cell_assign_udf(seed_rows)
    celled = qdf.select(id_col, "qv", _cell(F.col("qv")).alias("cell"))
    # rebalance: size the append by the increment's data, not the session
    # shuffle width (see build_ivf_index)
    (
        celled.hint("rebalance", "cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(index_path + "/cells")
    )
    spark.sql(f"DROP TABLE IF EXISTS {_index_table_name(index_path)}")


def ivf_delete(
    spark,
    index_path: str,
    delete_ids: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """Incremental IVF deletion — the third leg of the index lifecycle
    (build → :func:`ivf_add` → delete): remove vectors by id, rewriting
    ONLY the cell partitions that actually contain them via dynamic
    partition overwrite. Untouched cells are never rewritten, so a
    deletion costs |affected cells|, not the index.

    Steps: (1) semi-join the celled table against the delete ids to find
    the affected cells; (2) compute the surviving rows of those cells
    and PIN them with ``localCheckpoint`` (the write below overwrites the
    same path the plan reads — truncating lineage first is what makes
    the self-overwrite legal); (3) dynamic-overwrite just those cell
    dirs; (4) cells the delete fully EMPTIED get no file from dynamic
    overwrite (nothing is written for an empty partition), so their
    stale directories are dropped with the Hadoop FileSystem API; (5)
    the catalog registration is invalidated so the next probe
    re-registers (the :func:`ivf_add` pattern). Deleting ids absent from
    the index is a no-op (idempotent replay). Deleting EVERY remaining
    vector raises — an empty IVF index is not representable in the
    parquet cell layout; drop and rebuild instead."""
    cells_path = index_path + "/cells"
    cells = spark.read.parquet(cells_path)
    dels = delete_ids.select(F.col(id_col).cast("long").alias(id_col)).distinct()
    affected = cells.join(dels, id_col, "left_semi").select("cell").distinct()
    affected_ids = {r["cell"] for r in affected.collect()}
    if not affected_ids:
        return
    # cell inventory from the PARTITION LISTING, not a data scan: the
    # cell set IS the directory set, so a distinct over the whole index
    # (O(index) read) carried zero extra information (r15; same FS API
    # the emptied-dir cleanup below already uses)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(cells_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    all_cells = {
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(jpath)
        if st.isDirectory() and st.getPath().getName().startswith("cell=")
    }
    # survivors via a LITERAL cell filter, not a join: the isin predicate
    # statically prunes the scan to the affected partition dirs (a
    # join-derived dim is not guaranteed DPP), matching the "deletion
    # costs |affected cells|" claim
    keep = (
        cells.where(F.col("cell").isin(*[int(c) for c in affected_ids]))
        .join(dels, id_col, "left_anti")
        .localCheckpoint()
    )
    surviving = {r["cell"] for r in keep.select("cell").distinct().collect()}
    if not surviving and affected_ids == all_cells:
        raise ValueError(
            "ivf_delete would remove EVERY indexed vector — an empty IVF "
            "index is not representable in the parquet cell layout (and "
            "later probes/replays would fail reading an empty dir); drop "
            "and rebuild the index instead"
        )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            # rebalance: the survivors of a sparse delete are usually a
            # handful of cells — size the rewrite by them, not by the
            # session shuffle width (see build_ivf_index)
            keep.hint("rebalance", "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(cells_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    emptied = affected_ids - surviving
    if emptied:
        hconf = spark._jsc.hadoopConfiguration()
        for cell in emptied:
            p = spark._jvm.org.apache.hadoop.fs.Path(
                f"{cells_path}/cell={cell}"
            )
            p.getFileSystem(hconf).delete(p, True)
    spark.sql(f"DROP TABLE IF EXISTS {_index_table_name(index_path)}")


def _registered_ivf_index(spark, index_path: str, id_col: str) -> DataFrame:
    """Register (once) and return the persisted IVF celled table — the
    IVF twin of :func:`_registered_ann_index`. cell is a SEED VEC_ID
    (BIGINT), not a bounded bucket number like the LSH index's sign-bit
    bucket: declaring INT would silently truncate ids >= 2^31 and probe
    the wrong partition."""
    tbl = _index_table_name(index_path)
    if not spark.catalog.tableExists(tbl):
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {tbl} "
            f"({id_col} BIGINT, qv ARRAY<BIGINT>, cell BIGINT) "
            f"USING parquet PARTITIONED BY (cell) LOCATION '{index_path}/cells'"
        )
        spark.sql(f"ALTER TABLE {tbl} RECOVER PARTITIONS")
    return spark.table(tbl)


def ivf_probe_persisted(
    spark,
    index_path: str,
    query: DataFrame,
    k: int = 20,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index: rank the (tiny, broadcast) seed table
    by query dot, take the ``n_probe`` nearest cells, and join the
    PARTITION column of the catalog-registered celled table — dynamic
    partition pruning reads only those cell directories. Catalog
    registration happens once per index (same pattern and rationale as
    :func:`ann_probe_persisted`)."""
    cells = _registered_ivf_index(spark, index_path, id_col)
    seeds = spark.read.parquet(index_path + "/seeds")
    qv = query.select(quantize(F.col(vec_col)).alias("query_qv"))
    # seed count grows ~sqrt(N): rank with orderBy+limit
    # (TakeOrderedAndProject) rather than an unpartitioned window
    ranked = (
        qv.crossJoin(F.broadcast(seeds))
        .select(
            "query_qv",
            F.col("sid"),
            int_dot(F.col("query_qv"), F.col("sv")).alias("sdot"),
        )
        .orderBy(F.col("sdot").desc(), F.col("sid").asc())
        .limit(n_probe)
        .select("query_qv", F.col("sid").alias("cell"))
    )
    return (
        cells.join(F.broadcast(ranked), "cell")
        .select(F.col(id_col), int_dot(F.col("qv"), F.col("query_qv")).alias("dot_q"))
        .orderBy(F.col("dot_q").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN with exact rerank
# ---------------------------------------------------------------------------


def _train_pq_codebooks(
    vecs: np.ndarray, m: int, ksub: int, seed: int, iters: int = 12
) -> np.ndarray:
    """Per-subspace Lloyd k-means on a bounded training sample (plain
    numpy, fixed seed + fixed iteration count, so the codebooks are a
    deterministic function of the sample).  Returns (m, ksub, dim/m)."""
    n, dim = vecs.shape
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = vecs[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(n, size=ksub, replace=False)].astype(np.float64)
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=-1)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books[j] = cent
    return books


def pq_encode(codebooks: np.ndarray, vec_col: str = "embedding"):
    """Arrow-batched PQ encoder: each vector compresses to m codebook
    indices (argmin L2 per subspace).  64 float32 (256 B) -> m small ints
    — at m=8 a 32x reduction in what the ANN scan has to read."""
    m, ksub, dsub = codebooks.shape

    @F.pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(vecs.to_numpy()).astype(np.float64)
        codes = np.empty((V.shape[0], m), dtype=np.int32)
        for j in range(m):
            sub = V[:, j * dsub : (j + 1) * dsub]
            # argmin ||v - c||^2 == argmax (v.c - ||c||^2 / 2)
            proj = sub @ codebooks[j].T - 0.5 * (codebooks[j] ** 2).sum(axis=1)
            codes[:, j] = proj.argmax(axis=1)
        return pd.Series(list(codes))

    return _encode(F.col(vec_col))


def pq_search(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 20,
    m: int = 8,
    ksub: int = 16,
    refine: int = 4,
    fit_mod: int = 1,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_fit_rows: int = 100_000,
) -> DataFrame:
    """PQ-compressed ANN with asymmetric distance computation and exact
    rerank — the third ANN family next to LSH buckets and IVF cells:

    1. TRAIN (driver, bounded): per-subspace k-means codebooks from the
       deterministic ``id % fit_mod == 0`` sample.  Codebook size is
       m*ksub*(dim/m) floats (= one vector's worth per subspace) —
       broadcast to every task as a closure constant, never joined.
    2. ENCODE (map-side, Arrow): every corpus vector becomes m codebook
       indices.  At 100 TB this is the point: the ANN scan reads m small
       ints per vector instead of the raw embedding — encode once,
       persist the codes table, and the compressed scan is ~32x less IO.
    3. ADC SCAN (map-side): the query builds an (m x ksub) lookup table
       of subspace dot products; each corpus vector's approximate score
       is m table lookups summed — no float multiply per vector.  The
       batch-local top candidates shuffle (ids + scores only).
    4. RERANK (exact): the ``k * refine`` ADC candidates join back to the
       raw vectors (broadcast of a k*refine-row table) and the final
       top-k orders by the exact quantized integer dot — so the returned
       scores are exact; PQ only decides WHICH candidates get scored.

    Like the learned-IVF variant, the k-means fit is RNG-seeded and
    iterative — not SQL-expressible, so the declared query is rows-only
    checked and the recall gate (vs brute force) lives in pytest.

    Construction is eager like :func:`knn_multiquery` (two bounded
    collects: the fit sample and the single query vector).
    ``max_fit_rows`` hard-caps the fit collect the same way
    :func:`knn_multiquery`'s ``max_queries`` does: the scan stops at
    cap+1 rows (``limit`` bounds driver transfer BEFORE the collect)
    and overflow RAISES with the fix spelled out — a k-means codebook
    needs a bounded sample, never the corpus; at 100 TB an uncapped
    ``fit_mod=1`` collect is a driver OOM."""
    fit_df = embeddings
    if fit_mod > 1:
        fit_df = embeddings.filter(F.col(id_col) % fit_mod == 0)
    fit_rows = fit_df.select(vec_col).limit(max_fit_rows + 1).collect()
    if len(fit_rows) > max_fit_rows:
        raise ValueError(
            f"pq_search codebook fit sample exceeds max_fit_rows={max_fit_rows}; "
            f"raise fit_mod to thin the deterministic id % fit_mod sample "
            f"(or raise max_fit_rows deliberately)"
        )
    sample = np.stack([r[0] for r in fit_rows]).astype(np.float64)
    codebooks = _train_pq_codebooks(sample, m, ksub, seed)

    qrow = query.select(vec_col).collect()
    if len(qrow) != 1:
        raise ValueError(f"pq_search expects exactly one query vector, got {len(qrow)}")
    qvec = np.asarray(qrow[0][0], dtype=np.float64)
    dsub = qvec.shape[0] // m
    # ADC lookup table: lut[j][c] = q_sub_j . codebook[j][c]
    lut = np.stack(
        [codebooks[j] @ qvec[j * dsub : (j + 1) * dsub] for j in range(m)]
    )

    codes_df = embeddings.select(F.col(id_col), pq_encode(codebooks, vec_col).alias("codes"))

    @F.pandas_udf("double")
    def _adc(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=np.float64)
        C = np.stack(codes.to_numpy()).astype(np.int64)
        return pd.Series(lut[np.arange(m)[None, :], C].sum(axis=1))

    cands = (
        codes_df.select(F.col(id_col), _adc(F.col("codes")).alias("adc"))
        .orderBy(F.col("adc").desc(), F.col(id_col))
        .limit(k * refine)
        .select(id_col)
    )
    q_lit = F.array(*[F.lit(int(round(x * QUANT))) for x in qvec])
    return (
        embeddings.join(F.broadcast(cands), id_col)
        .select(
            F.col(id_col),
            int_dot(quantize(F.col(vec_col)), q_lit).alias("dot_q"),
        )
        .orderBy(F.col("dot_q").desc(), F.col(id_col))
        .limit(k)
    )


def mmr_rerank(
    pool: DataFrame,
    k: int,
    id_col: str = "vec_id",
    qv_col: str = "qv",
    rel_col: str = "rel",
) -> DataFrame:
    """Maximal-Marginal-Relevance re-rank of a (small, already
    materialized) candidate pool: greedily pick ``k`` results maximizing
    ``2*rel(d) - max_{s in S} dot(d, s)`` — relevance weighted 2:1
    against redundancy with the already-selected set. All arithmetic is
    exact int64 over micro-quantized vectors (``quantize``), so the greedy
    argmax (tie-break: id) is deterministic and ORACLE-unrollable — the
    float-free twin of the serving-side diversity re-rank.

    Scale shape: the pool is the OUTPUT of an ANN/kNN stage (tens of
    rows, bounded by construction), checkpointed once; each of the k
    rounds is a broadcast join of pool × selected (≤k rows) + one
    TakeOrdered(1) — driver never sees vectors. The corpus-scale work
    happened upstream in the ANN probe; MMR cost is O(k · |pool|).

    Returns ``(pick_rank, id, rel)`` for the k selections in pick order.
    """
    pool = pool.select(
        F.col(id_col).alias("id"), F.col(qv_col).alias("v"), F.col(rel_col).alias("rel")
    ).localCheckpoint()
    first = (
        pool.orderBy(F.desc("rel"), "id")
        .limit(1)
        .select(F.lit(1).alias("pick_rank"), "id", "v", "rel")
    ).localCheckpoint()
    selected = first
    for step in range(2, k + 1):
        remaining = pool.join(
            selected.select(F.col("id").alias("sid")),
            pool["id"] == F.col("sid"),
            "left_anti",
        )
        sel = F.broadcast(
            selected.select(F.col("id").alias("sid"), F.col("v").alias("sv"))
        )
        scored = (
            remaining.join(sel)
            .select("id", "v", "rel", int_dot(F.col("v"), F.col("sv")).alias("div"))
            .groupBy("id")
            .agg(
                F.first("v").alias("v"),
                F.first("rel").alias("rel"),
                F.max("div").alias("maxdiv"),
            )
            .select("id", "v", "rel", (2 * F.col("rel") - F.col("maxdiv")).alias("score"))
        )
        pick = (
            scored.orderBy(F.desc("score"), "id")
            .limit(1)
            .select(F.lit(step).alias("pick_rank"), "id", "v", "rel")
        ).localCheckpoint()
        selected = selected.unionByName(pick)
    return selected.select("pick_rank", F.col("id"), "rel")
