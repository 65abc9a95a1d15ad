"""Corpus retrieval scoring: distributed BM25 top-k over the documents
table — the lexical-search primitive a training-data pipeline uses for
decontamination lookups, targeted corpus slicing, and hard-negative
mining next to the embedding ANN family (operators/similarity.py).

Cross-engine float determinism (the part that makes this hash-checkable
against a DuckDB oracle, not just "close"): the classic BM25 idf is
``ln((N-df+0.5)/(df+0.5)+1)`` — but ``ln`` is a libm call with no
bit-exactness guarantee across runtimes, so this operator scores with the
RATIONAL idf ``(N-df+0.5)/(df+0.5)`` (same Robertson-Sparck-Jones odds
ratio, log dropped; rank order within a term is identical, across terms
the weighting is steeper — documented, deliberate). Every remaining
operation is IEEE-754 +,-,*,/ or an exact int->double cast, evaluated in
the SAME textual order in both engines, and the per-document score sums
the per-term contributions in a FIXED written order (pivot to columns,
then ``t1 + t2 + ... + tn``) instead of a float SUM aggregate whose
reduction order is engine-dependent. Scalar IEEE arithmetic is exactly
rounded and therefore bit-deterministic; only reductions and libm drift.

Scale shape: one projection of the scan gives each document its length
(``size`` of its token array) and the tokens that are query terms
(``filter`` on the array); only those are exploded, so the corpus-wide
token stream is never exploded, aggregated or shuffled. The per-doc tf
groupBy carries the length through, so no per-document length table is
aggregated and joined back. The corpus stats (``n_docs``, ``sum_dl``) are
one aggregate of the same projection; they and the per-term document
frequencies are single-row / few-row side tables (broadcast). Top-k
compiles to TakeOrderedAndProject — no global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens

K1 = 1.2
B = 0.75


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Top-``k`` documents for the bag-of-words query ``terms`` under
    rational-idf BM25 (see module docstring); ``id_col`` is the
    documents' key. Returns
    ``(id_col, score DOUBLE, n_hit_terms BIGINT)`` ordered by
    (score desc, id asc) — callers get a deterministic, hash-stable
    ranking."""
    # NULL text is a document with no tokens (dl 0), whatever the
    # session's size-of-NULL rule
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    per_doc = docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("dl"),
        F.filter(toks, lambda t: t.isin(terms)).alias("hits"),
    )
    hits = per_doc.select(id_col, "dl", F.explode("hits").alias("token"))
    tf = hits.groupBy(id_col, "dl", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = hits.groupBy("token").agg(
        F.countDistinct(id_col).cast("long").alias("doc_freq")
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    scored = tf.join(F.broadcast(dfreq), "token").crossJoin(F.broadcast(stats))
    idf = (F.col("n_docs") - F.col("doc_freq") + F.lit(0.5)) / (
        F.col("doc_freq") + F.lit(0.5)
    )
    avgdl = F.col("sum_dl") / F.col("n_docs")
    norm = F.lit(0.25) + F.lit(B) * (F.col("dl").cast("double") / avgdl)
    denom = F.col("tf").cast("double") + F.lit(K1) * norm
    contrib = idf * ((F.col("tf").cast("double") * F.lit(K1 + 1.0)) / denom)
    per_term = scored.select(id_col, "token", contrib.alias("s"))
    pivoted = per_term.groupBy(id_col).pivot("token", terms).agg(F.max("s"))
    score: Column = F.lit(0.0)
    n_hit: Column = F.lit(0)
    for t in terms:  # FIXED summation order — never a float SUM aggregate
        score = score + F.coalesce(F.col(t), F.lit(0.0))
        n_hit = n_hit + F.when(F.col(t).isNotNull(), 1).otherwise(0)
    return (
        pivoted.select(
            id_col, score.alias("score"), n_hit.cast("long").alias("n_hit_terms")
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def bm25_oracle_sql(terms: list[str], k: int = 20, toks_sql: str | None = None) -> str:
    """The DuckDB twin of :func:`bm25_topk` on the ``documents`` view,
    generated from the same term list so the fixed summation order and
    every literal match the Spark plan textually."""
    toks = toks_sql or "list_filter(regexp_split_to_array(text, '\\s+'), tk -> tk <> '')"
    in_list = ", ".join(f"'{t}'" for t in terms)
    case_cols = "\n".join(
        f"             max(CASE WHEN token = '{t}' THEN s END) AS \"{t}\"," for t in terms
    )
    score = " + ".join(f'COALESCE("{t}", 0.0)' for t in terms)
    n_hit = " + ".join(
        f'CASE WHEN "{t}" IS NOT NULL THEN 1 ELSE 0 END' for t in terms
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({toks}) AS token FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
    hits AS (SELECT * FROM tok WHERE token IN ({in_list})),
    tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
           FROM hits GROUP BY 1, 2),
    dfreq AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
              FROM hits GROUP BY 1),
    stats AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
                     (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS sum_dl),
    per_term AS (
      SELECT tf.doc_id, tf.token,
             ((CAST(s.n_docs - d.doc_freq AS DOUBLE) + 0.5)
              / (CAST(d.doc_freq AS DOUBLE) + 0.5))
             * ((CAST(tf.tf AS DOUBLE) * {K1 + 1.0}) /
                (CAST(tf.tf AS DOUBLE) + {K1} *
                 (0.25 + {B} * (CAST(dl.dl AS DOUBLE) / (s.sum_dl / s.n_docs)))))
                 AS s
      FROM tf JOIN dfreq d ON d.token = tf.token
              JOIN dl ON dl.doc_id = tf.doc_id
              CROSS JOIN stats s),
    pivoted AS (
      SELECT doc_id,
{case_cols}
      FROM per_term GROUP BY doc_id)
    SELECT doc_id, {score} AS score,
           CAST({n_hit} AS BIGINT) AS n_hit_terms
    FROM pivoted
    ORDER BY score DESC, doc_id LIMIT {k}
    """


def _inv_table_name(index_path: str) -> str:
    import hashlib

    return "inv_index_" + hashlib.md5(index_path.encode()).hexdigest()[:12]


def build_inverted_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Build a persisted inverted index: (token, doc, tf) postings written
    PARTITIONED BY the token's hash bucket — the lexical twin of
    build_ann_index (operators/similarity.py). Tokenization+counting is
    the expensive corpus pass; it runs once, and every later term lookup
    is a partition-pruned scan of the few bucket directories holding the
    query terms (static pruning — the buckets are literals at probe
    time). Postings within a bucket are sorted by token so row-group
    stats also prune inside the bucket."""
    from ..functions.xhash import h32

    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    postings = (
        tok.groupBy("token", id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn("bucket", (h32(F.col("token")) % n_buckets).cast("int"))
    )
    (
        postings.repartition("bucket")
        .sortWithinPartitions("token")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    docs.sparkSession.sql(f"DROP TABLE IF EXISTS {_inv_table_name(path)}")


def _registered_inverted_index(spark, index_path: str, id_col: str) -> DataFrame:
    """Catalog-backed registration (once): probes prune partitions from
    metastore metadata, never re-listing the bucket directories — same
    rationale, measured on this host, as _registered_ann_index."""
    tbl = _inv_table_name(index_path)
    if not spark.catalog.tableExists(tbl):
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {tbl} "
            f"(token STRING, {id_col} BIGINT, tf BIGINT, bucket INT) "
            f"USING parquet PARTITIONED BY (bucket) LOCATION '{index_path}'"
        )
        spark.sql(f"ALTER TABLE {tbl} RECOVER PARTITIONS")
    return spark.table(tbl)


def inverted_probe_persisted(
    spark,
    index_path: str,
    terms: list[str],
    k: int = 20,
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Term lookup against the persisted inverted index: the query terms'
    buckets are computed driver-side (h32_py — the Python twin of the
    bucketing hash, so build and probe can never disagree) and pushed as
    LITERAL partition predicates; the scan touches only those bucket
    directories regardless of corpus size. Returns exact
    ``(doc, n_terms, total_tf)`` ranking: docs matching more distinct
    terms first, then higher total term frequency, then id — all
    integers, hash-exact."""
    from ..functions.xhash import h32_py

    buckets = sorted({h32_py(t) % n_buckets for t in terms})
    index = _registered_inverted_index(spark, index_path, id_col)
    hits = index.filter(
        F.col("bucket").isin(buckets) & F.col("token").isin(terms)
    )
    return (
        hits.groupBy(id_col)
        .agg(
            F.countDistinct("token").cast("long").alias("n_terms"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .orderBy(F.col("n_terms").desc(), F.col("total_tf").desc(), F.col(id_col))
        .limit(k)
    )


def inverted_index_path(sf_dir: str, n_buckets: int = 64) -> str:
    """Deterministic on-disk location for the persisted inverted index of
    one dataset — same anchoring + staleness-fingerprint contract as
    similarity.ann_index_path (config in the name, source size+mtime in
    the name, repo-root anchored)."""
    import os

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    sfname = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        fp = f"{st.st_size}_{st.st_mtime_ns}"
    except OSError:
        fp = "nosrc"
    return os.path.join(
        repo_root, "spark-warehouse", f"inv_index_{sfname}_b{n_buckets}_d{fp}"
    )
