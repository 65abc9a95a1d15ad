"""Semantics gates for lexical retrieval (rational-idf BM25) and the
weight-proportional Bernoulli sampler."""

from __future__ import annotations

from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.operators.retrieval import (
    bm25_oracle_sql,
    bm25_topk,
)
from weather_etl_docker_airflow_project_spark.operators.sampling import (
    weighted_bernoulli_sample,
)


def test_bm25_ranks_tf_and_rarity(spark):
    docs = spark.createDataFrame(
        [
            (1, "cat cat cat dog"),          # high tf on 'cat'
            (2, "cat dog dog dog"),          # high tf on 'dog' (commoner term)
            (3, "cat"),                      # short doc, one hit
            (4, "fish fish fish fish"),      # no query terms -> excluded
            (5, "cat dog"),                  # both terms, low tf
            (6, "dog"),
            (7, "dog fish"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, "doc_id", "text", ["cat", "dog"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 4 not in ids, "doc without any query term must not be retrieved"
    # 'cat' (df=4) is rarer than 'dog' (df=5): the all-cat-heavy doc 1
    # must outrank the all-dog-heavy doc 2
    assert ids.index(1) < ids.index(2)
    # two-term docs carry both idf contributions: doc 5 beats single-hit 6
    assert ids.index(5) < ids.index(6)
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[5]["n_hit_terms"] == 2 and by_id[6]["n_hit_terms"] == 1
    # deterministic: same plan twice, identical scores
    again = {r["doc_id"]: r["score"] for r in
             bm25_topk(docs, "doc_id", "text", ["cat", "dog"], k=10).collect()}
    assert all(by_id[i]["score"] == again[i] for i in again)


def test_bm25_edge_documents_match_duckdb_bit_for_bit(spark):
    """Documents with NULL, empty or whitespace-only text count in the
    corpus with length 0; repeated query terms raise tf; a document with
    no query term is not retrieved. Scores equal the DuckDB twin's (which
    takes lengths from a grouped token count) bit for bit."""
    import duckdb

    rows = [
        (1, None),
        (2, ""),
        (3, "   \t  "),
        (4, "cat cat cat cat dog"),
        (5, "  cat   dog  bird "),
        (6, "bird fish fish"),
        (7, "dog dog"),
        (8, "cat"),
        (9, "the cat sat on the mat with a dog and a cat"),
    ]
    terms = ["cat", "dog", "owl"]
    conn = duckdb.connect()
    try:
        conn.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        conn.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        want = [tuple(r) for r in conn.execute(bm25_oracle_sql(terms, k=20)).fetchall()]
    finally:
        conn.close()
    assert {r[0] for r in want} == {4, 5, 7, 8, 9}
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        # size() of a NULL array is NULL under ANSI and -1 without it
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            got = bm25_topk(docs, "doc_id", "text", terms, k=20).collect()
            assert [tuple(r) for r in got] == want, f"ansi={mode}"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_weighted_sample_monotone_in_weight(spark):
    # max-weight rows are kept with probability 1; inclusion frequency
    # must increase with weight and roughly track w/max_w
    rows = [(i, (i % 10) + 1) for i in range(5000)]
    df = spark.createDataFrame(rows, "k long, w long")
    kept = weighted_bernoulli_sample(df, "k", "w").groupBy("w").count().collect()
    freq = {r["w"]: r["count"] / 500.0 for r in kept}
    assert freq[10] == 1.0, "max-weight rows must always be kept"
    assert all(freq.get(w, 0.0) <= freq.get(w + 1, 0.0) + 0.1 for w in range(1, 10))
    assert abs(freq.get(5, 0.0) - 0.5) < 0.1


def test_weighted_sample_is_reproducible(spark):
    df = spark.createDataFrame([(i, i % 7 + 1) for i in range(300)], "k long, w long")
    a = {r["k"] for r in weighted_bernoulli_sample(df, "k", "w").collect()}
    b = {r["k"] for r in weighted_bernoulli_sample(df, "k", "w").collect()}
    assert a == b
    # different salt -> decorrelated decisions, not identical membership
    c = {r["k"] for r in weighted_bernoulli_sample(df, "k", "w", salt="other").collect()}
    assert a != c
