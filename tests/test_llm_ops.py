"""Unit + property tests for the LLM-pipeline operators (SURVEY.md §2.11).

The driver's oracle gate covers engine-vs-DuckDB agreement; these tests
cover the *semantics* on crafted inputs: dedup correctness, LSH recall
properties, fingerprint monotonicity, and the multimodal plumbing."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.operators import (
    audio,
    dedup,
    multimodal,
    similarity,
    text,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
    (3, "the quick brown fox jumps over the sleepy dog"),      # near dup of 1
    (4, "completely different words appear here entirely now"),
    (5, "el rapido zorro marron salta sobre el perro"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = {r["doc_id"]: r for r in dedup.exact_dedup(docs, "doc_id", "text").collect()}
    assert out[1]["is_canonical"] and out[1]["group_size"] == 2
    assert not out[2]["is_canonical"] and out[2]["canonical_id"] == 1
    assert all(out[i]["is_canonical"] for i in (3, 4, 5))


def test_minhash_identical_docs_always_pair(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    assert (1, 2) in pairs          # identical shingle sets -> identical bands
    assert (1, 4) not in pairs      # disjoint shingles share no bucket
    assert (1, 5) not in pairs


def test_simhash_identity_and_separation(spark, docs):
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs, "doc_id", "text").collect()}
    assert sig[1] == sig[2]
    assert 0 <= sig[1] < 2**32
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_neardup_pairs(
            spark.createDataFrame(
                [(k, v) for k, v in sig.items()], ["doc_id", "simhash"]
            ),
            "doc_id",
            max_hamming=3,
        ).collect()
    }
    assert pairs[(1, 2)] == 0


def test_ngram_jaccard_exact_values(docs):
    rows = {
        (r["id_a"], r["id_b"]): (r["inter"], r["uni"])
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold_pct=50).collect()
    }
    assert rows[(1, 2)][0] == rows[(1, 2)][1]           # identical: inter == union
    # docs 1 & 3 differ in one word => 7 shingles each, 5 shared 3-grams
    assert rows[(3, 1) if (3, 1) in rows else (1, 3)] == (5, 9)
    assert not any({a, b} == {1, 4} for a, b in rows)


def test_knn_self_is_top1(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7)
    top = similarity.knn_bruteforce(emb, q, k=5).collect()
    assert top[0]["vec_id"] == 7                        # self-similarity is max
    dots = [r["dot_q"] for r in top]
    assert dots == sorted(dots, reverse=True)
    assert abs(dots[0] - similarity.QUANT**2) < 0.01 * similarity.QUANT**2


def test_ann_results_are_exact_scores_from_query_bucket(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7)
    ann = similarity.ann_lsh_bucketed(emb, q, k=10, n_planes=8, dim=64).collect()
    brute = {r["vec_id"]: r["dot_q"] for r in similarity.knn_bruteforce(emb, q, k=10**6).collect()}
    ids = [r["vec_id"] for r in ann]
    assert 7 in ids                                     # query shares its own bucket
    for r in ann:                                       # ANN never fabricates scores
        assert brute[r["vec_id"]] == r["dot_q"]


def test_connected_components_multihop_chain(spark):
    """A 5-node chain (10-11-12-13-14) plus a separate pair and an
    isolated star: labels propagate across hops to the component min."""
    from weather_etl_docker_airflow_project_spark.operators.components import (
        canonical_members,
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (13, 12), (13, 14),   # chain, shuffled edges
         (2, 7),                                    # separate pair
         (20, 21), (20, 22), (20, 23)],             # star
        ["id_a", "id_b"],
    )
    cc = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert {cc[n] for n in (10, 11, 12, 13, 14)} == {10}
    assert cc[2] == cc[7] == 2
    assert {cc[n] for n in (20, 21, 22, 23)} == {20}
    canon = {
        r["doc_id"]
        for r in canonical_members(connected_components(pairs))
        .filter(F.col("is_canonical"))
        .collect()
    }
    assert canon == {10, 2, 20}


def test_connected_components_raises_when_not_converged(spark):
    """A label needs one round per hop to reach the component minimum; a
    budget smaller than the chain diameter must raise, never return
    silently-split clusters."""
    from weather_etl_docker_airflow_project_spark.operators.components import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 18)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2)
    ok = {
        r["cluster_id"]
        for r in connected_components(chain, max_iterations=20).collect()
    }
    assert ok == {10}


def test_star_cc_matches_label_propagation(spark):
    """Large-star/small-star must produce the identical (doc_id,
    cluster_id) labeling as min-label propagation on a mixed graph."""
    from weather_etl_docker_airflow_project_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (13, 12), (13, 14),
         (2, 7),
         (20, 21), (20, 22), (20, 23),
         (31, 30), (32, 31), (33, 30), (34, 33)],
        ["id_a", "id_b"],
    )
    prop = {(r["doc_id"], r["cluster_id"]) for r in connected_components(pairs).collect()}
    star = {(r["doc_id"], r["cluster_id"]) for r in connected_components_star(pairs).collect()}
    assert star == prop


def test_star_cc_handles_deep_chain_label_propagation_cannot(spark):
    """A 60-hop chain: label propagation moves labels ONE hop per round, so
    the default 20-round budget must raise; star contraction halves tree
    heights every round and labels the whole chain in O(log^2 n) rounds.
    This is exactly the deep-diameter regime the operator exists for."""
    from weather_etl_docker_airflow_project_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 160)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain)  # default 20-round budget < 60-hop diameter
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_star(chain, max_iterations=10).collect()
    }
    assert set(labels) == set(range(100, 161))
    assert set(labels.values()) == {100}


def test_star_cc_validates_iteration_budget(spark):
    from weather_etl_docker_airflow_project_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="max_iterations"):
        connected_components_star(pairs, max_iterations=0)
    with pytest.raises(ValueError, match="max_iterations"):
        connected_components(pairs, max_iterations=0)


def test_spread_width_ignores_sentinel_size_estimates(spark):
    """Catalyst reports no-stats plans as Long.MaxValue-scale sizes (and
    CBO-less join stats multiply children): _spread_for_explode must treat
    those as "unknown" and fall back to the session floor, never schedule a
    million-task repartition for a 10-row input (the regression: the
    minhash test hung for 30 min shuffling 4 rows into 1e6 partitions)."""
    from weather_etl_docker_airflow_project_spark.operators.dedup import (
        _MAX_EXPLODE_WIDTH,
        _estimated_size_bytes,
        _spread_for_explode,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} text") for i in range(10)], ["doc_id", "text"]
    )
    # self-join inflates the stats estimate multiplicatively; the guard
    # must discard it
    inflated = docs.alias("a").join(docs.alias("b"), "doc_id").select(
        F.col("doc_id"), F.col("a.text").alias("text")
    )
    for df in (docs, inflated):
        est = _estimated_size_bytes(df)
        assert 0 <= est < (1 << 50)
        n = _spread_for_explode(df, "doc_id").rdd.getNumPartitions()
        assert n <= max(
            spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
        assert n <= _MAX_EXPLODE_WIDTH


def test_spread_width_floor_is_core_count(spark, monkeypatch):
    """The explode spread is a fixed-count repartition, which AQE never
    coalesces: a small input spreads to exactly the core count (not the
    shuffle width), and only a large size estimate widens it, up to the
    cap."""
    from weather_etl_docker_airflow_project_spark.operators import dedup as d

    docs = spark.createDataFrame(
        [(i, f"doc {i} text") for i in range(10)], ["doc_id", "text"]
    )

    def width():
        return d._spread_for_explode(docs, "doc_id").rdd.getNumPartitions()

    assert width() == spark.sparkContext.defaultParallelism
    monkeypatch.setattr(d, "_estimated_size_bytes", lambda df: 10 << 30)
    assert width() == (10 << 30) * 100 // (128 << 20)
    monkeypatch.setattr(d, "_estimated_size_bytes", lambda df: 1 << 49)
    assert width() == d._MAX_EXPLODE_WIDTH


def test_hot_bucket_cap_bounds_pair_volume(spark):
    """max_bucket_size drops over-popular buckets: identical docs in a
    small group still pair, while a hot 20-doc bucket is excluded."""
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(20)]
        + [(100, "rare unique document pair alpha"), (101, "rare unique document pair alpha")],
        ["doc_id", "text"],
    )
    sig = dedup.minhash_signatures(dedup.shingles(docs, "doc_id", "text"), "doc_id")
    capped = dedup.lsh_candidate_pairs(sig, "doc_id", max_bucket_size=5)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in pairs
    assert not any(a < 20 and b < 20 for a, b in pairs)
    uncapped = dedup.lsh_candidate_pairs(sig, "doc_id")
    assert len({(r["id_a"], r["id_b"]) for r in uncapped.collect()}) == 190 + 1


def test_ann_multiprobe_improves_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7)
    brute = [r["vec_id"] for r in similarity.knn_bruteforce(emb, q, k=20).collect()]
    single = {r["vec_id"] for r in similarity.ann_lsh_bucketed(emb, q, k=20).collect()}
    multi = {
        r["vec_id"]
        for r in similarity.ann_lsh_bucketed(emb, q, k=20, multiprobe=8).collect()
    }
    assert single <= multi                      # probes only add candidates
    recall_s = len(single & set(brute)) / 20
    recall_m = len(multi & set(brute)) / 20
    assert recall_m >= recall_s                 # more probes never hurt
    assert 7 in multi                           # self always retrieved
    assert recall_m > 0


def test_ivf_cells_partition_corpus_and_search_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cells = similarity.ivf_cells(emb, seed_modulus=125)
    n = emb.count()
    assert cells.count() == n                       # total partition, no loss
    assert cells.select("vec_id").distinct().count() == n
    seeds = {r["cell"] for r in cells.select("cell").distinct().collect()}
    assert seeds <= {r["vec_id"] for r in emb.filter(F.col("vec_id") % 125 == 0).collect()}
    # every seed assigns to its own cell (self-dot is max)
    own = cells.filter(F.col("vec_id") % 125 == 0)
    assert all(r["vec_id"] == r["cell"] for r in own.collect())

    q = emb.filter(F.col("vec_id") == 7)
    found = similarity.ivf_search(emb, q, k=10, n_probe=2, seed_modulus=125)
    rows = found.collect()
    assert rows[0]["vec_id"] == 7                   # query in its own cell
    brute = {r["vec_id"]: r["dot_q"] for r in similarity.knn_bruteforce(emb, q, k=10**6).collect()}
    assert all(brute[r["vec_id"]] == r["dot_q"] for r in rows)  # exact scores


def test_embedding_bucketed_neardup_subset_and_recall(spark):
    """The declared banded-LSH near-dup never fabricates pairs (subset of
    the exact kernel, identical dots) and holds recall at the declared
    threshold; the plan is band-bucketed — no cartesian product."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["dot_q"]
        for r in similarity.embedding_neardup_pairs(emb, threshold=0.40).collect()
    }
    bucketed_df = similarity.embedding_neardup_pairs_bucketed(emb, threshold=0.40)
    plan = bucketed_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    bucketed = {(r["id_a"], r["id_b"]): r["dot_q"] for r in bucketed_df.collect()}
    assert set(bucketed) <= set(exact)              # verify stage: no false pairs
    for k, v in bucketed.items():
        assert exact[k] == v                        # identical exact dots
    assert len(bucketed) / len(exact) >= 0.9        # 16x4 banding recall floor


def test_ngram_jaccard_hot_shingle_cap_bounds_pair_volume(spark):
    """A shingle shared by d documents yields d*(d-1)/2 self-join pairs —
    this corpus plants ONE boilerplate trigram in 30 docs (435 pairs from
    that shingle alone) plus one genuine near-dup pair. The DF cap must
    eliminate every boilerplate-only pair while the true pair survives
    with inter/uni computed over the capped universe."""
    hot = [
        (i, f"common boiler plate unique{i} word{i} token{i} extra{i} pad{i}")
        for i in range(1, 31)
    ]
    true_pair = [
        (100, "alpha beta gamma delta epsilon zeta eta"),
        (101, "alpha beta gamma delta epsilon zeta theta"),
    ]
    df = spark.createDataFrame(hot + true_pair, ["doc_id", "text"])
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", threshold_pct=5
        ).collect()
    }
    capped_rows = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", threshold_pct=5, max_shingle_df=10
    ).collect()
    capped = {(r["id_a"], r["id_b"]) for r in capped_rows}
    assert len(uncapped) == 30 * 29 // 2 + 1   # every hot pair + the true one
    assert capped == {(100, 101)}              # cap kills ONLY boilerplate pairs
    (row,) = capped_rows
    # 7 tokens -> 5 trigrams each, 4 shared; none hot, so values are the
    # plain exact-Jaccard counts
    assert (row["inter"], row["uni"]) == (4, 6)


def test_simhash_declared_cap_drops_only_hot_buckets(spark, docs):
    """With a cap far above every bucket's population, capped == uncapped."""
    sig = dedup.simhash_signatures(docs, "doc_id", "text")
    uncapped = {(r["id_a"], r["id_b"]) for r in dedup.simhash_neardup_pairs(sig, "doc_id").collect()}
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_neardup_pairs(sig, "doc_id", max_bucket_size=1000).collect()
    }
    assert capped == uncapped


def test_ann_recall_gates(spark):
    """Numeric recall@20 floors vs brute force at sf0.01, averaged over
    queries. IVF is the strong path on this corpus (directional clusters
    align with cells; measured 0.55-1.0 per query) and gates at 0.5.
    Hyperplane-LSH multiprobe is structurally recall-limited here — top-20
    neighbors sit at cos ~0.5, i.e. per-plane collision ~0.67 vs 0.5
    background, weak contrast — so its gate is the measured floor (~0.10-
    0.20), asserting the dial works, not that LSH fits this geometry."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ivf_recalls, multi_recalls = [], []
    for qid in (0, 7, 42):
        q = emb.filter(F.col("vec_id") == qid)
        brute = {r["vec_id"] for r in similarity.knn_bruteforce(emb, q, k=20).collect()}
        ivf = {
            r["vec_id"]
            for r in similarity.ivf_search(emb, q, k=20, n_probe=2, seed_modulus=125).collect()
        }
        multi = {
            r["vec_id"]
            for r in similarity.ann_lsh_bucketed(emb, q, k=20, multiprobe=8).collect()
        }
        ivf_recalls.append(len(ivf & brute) / 20)
        multi_recalls.append(len(multi & brute) / 20)
    assert sum(ivf_recalls) / len(ivf_recalls) >= 0.5
    assert sum(multi_recalls) / len(multi_recalls) >= 0.10


def test_ivf_kmeans_recall_gate(spark):
    """Learned-quantizer IVF (no SQL oracle possible) earns its place with
    a numeric recall floor vs brute force: avg recall@20 >= 0.5 probing 3
    of 8 KMeans cells at sf0.01 (measured ~0.67)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    recalls = []
    for qid in (0, 7, 42):
        q = emb.filter(F.col("vec_id") == qid)
        brute = {r["vec_id"] for r in similarity.knn_bruteforce(emb, q, k=20).collect()}
        got = {
            r["vec_id"]
            for r in similarity.ivf_kmeans_search(
                emb, q, k=20, n_cells=8, n_probe=3
            ).collect()
        }
        assert len(got) == 20
        recalls.append(len(got & brute) / 20)
    assert sum(recalls) / len(recalls) >= 0.5


def test_fingerprint_empty_doc_is_null_not_error(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two three")], ["doc_id", "text"]
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(df, "doc_id", "text").collect()}
    assert fp[1] is None and fp[2] is None
    assert fp[3] is not None


def test_fingerprint_append_monotone(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base + " lambda mu nu xi omicron")], ["doc_id", "text"]
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(df, "doc_id", "text").collect()}
    # appending only adds windows: the min can only stay or decrease
    assert fp[2] <= fp[1]


def test_boilerplate_shingles_per_group(spark):
    """A 3-gram repeated across docs of the same source is flagged; the
    same 3-gram split across different sources is not."""
    df = spark.createDataFrame(
        [
            (1, "srcA", "all rights reserved unique alpha words here"),
            (2, "srcA", "all rights reserved other beta content words"),
            (3, "srcB", "all rights reserved but only one doc here"),
        ],
        ["doc_id", "source", "text"],
    )
    flagged = {
        (r["source"], r["shingle"]): r["n_docs"]
        for r in text.boilerplate_shingles(df, "doc_id", "text", "source").collect()
    }
    assert flagged[("srcA", "all rights reserved")] == 2
    assert not any(src == "srcB" for src, _ in flagged)


def test_redact_pii_masks_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b@test.com or c@x.org now"),
            (2, "no addresses at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.redact_pii(df, "doc_id", "text").collect()}
    assert out[1]["n_emails"] == 2
    assert out[1]["redacted"] == "mail me at [EMAIL] or [EMAIL] now"
    assert out[2]["n_emails"] == 0 and out[2]["redacted"] == "no addresses at all"


def test_repetition_stats_detects_loops(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c a b c"),     # 12 tokens, 10 grams, 3 distinct
            (2, "all twelve tokens here are totally distinct from one another yes ok"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.repetition_stats(df, "doc_id", "text").collect()}
    assert out[1]["n_grams"] == 10 and out[1]["n_distinct_grams"] == 3
    assert out[1]["dup_gram_pct"] == 70
    assert out[2]["dup_gram_pct"] == 0
    assert out[3]["n_grams"] == 0 and out[3]["dup_gram_pct"] == 0


def test_gopher_rules_flags(spark):
    long_ok = " ".join(["word"] * 20)                    # 20 words, mean 4
    short = "too short"                                  # fails word count
    symbols = " ".join(["ok"] * 16 + ["###"] * 4)        # 20% symbol tokens
    df = spark.createDataFrame(
        [(1, long_ok), (2, short), (3, symbols)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in text.gopher_rules(df, "doc_id", "text").collect()}
    assert out[1]["keep"] and out[1]["mean_word_len"] == 4
    assert not out[2]["keep"] and not out[2]["ok_word_count"]
    assert not out[3]["keep"] and not out[3]["ok_symbol_ratio"]
    assert out[3]["n_symbol_tokens"] == 4 and out[3]["ok_word_count"]


def test_lang_id_real_stopwords(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "le chat et les chiens pour la maison"),
            (3, "zzz qqq www"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(df, "doc_id", "text").collect()}
    assert out[1] == "en" and out[2] == "fr" and out[3] == "und"


def test_split_stable_partitioned_and_proportional(spark):
    from weather_etl_docker_airflow_project_spark.operators.sampling import (
        stratified_sample,
        train_val_test_split,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    s1 = train_val_test_split(docs, "doc_id")
    s2 = train_val_test_split(docs.repartition(7), "doc_id")  # layout-proof
    a = {(r["doc_id"], r["split"]) for r in s1.select("doc_id", "split").collect()}
    b = {(r["doc_id"], r["split"]) for r in s2.select("doc_id", "split").collect()}
    assert a == b                                   # identical on any layout
    counts = {r["split"]: r["count"] for r in s1.groupBy("split").count().collect()}
    n = sum(counts.values())
    assert n == docs.count()
    assert 0.7 < counts["train"] / n < 0.9          # ~80/10/10
    assert counts["val"] + counts["test"] == n - counts["train"]

    samp = stratified_sample(docs, "doc_id", {"en": 100}, "lang")
    assert samp.count() == docs.filter(F.col("lang") == "en").count()  # pct=100 keeps all
    assert stratified_sample(docs, "doc_id", {}, "lang").count() == 0


def test_multimodal_features_and_stub(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "a b")], ["doc_id", "text"])
    mm = multimodal.attach_payload(df, "doc_id", "text")
    meta = {r["doc_id"]: r["meta"] for r in mm.collect()}
    assert meta[1]["format"] == "text/utf-8" and meta[1]["byte_len"] == 3
    feats = {r["doc_id"]: r for r in multimodal.byte_features(mm).collect()}
    assert feats[1]["byte_len"] == 3
    assert feats[1]["checksum"] == (97 + 98 + 99) % 997
    assert feats[2]["first_byte"] == 97 and feats[2]["last_byte"] == 98
    with pytest.raises(ValueError):
        multimodal.decode_media(b"\x00")                 # no known container
    with pytest.raises(ValueError):
        multimodal.decode_media(b"\x00", fmt="pixels")   # unknown container


def test_png_pixel_codec_roundtrip_local():
    """encode_png writes scanline y with filter y % 5, so a 7-row image
    exercises None/Sub/Up/Average/Paeth; the decoder must invert all five
    bit-exactly. Corrupting one IDAT byte must fail the CRC check, and
    nearest-neighbor resize is checked against direct index arithmetic."""
    w, h = 5, 7
    rgb = bytes((x * 37 + y * 11 + c * 3) % 256 for y in range(h) for x in range(w) for c in range(3))
    png = multimodal.encode_png(w, h, rgb)
    gw, gh, got = multimodal.decode_png_pixels(png)
    assert (gw, gh, got) == (w, h, rgb)

    out = multimodal.resize_image(png, 3, 2)
    ow, oh, orgb = multimodal.decode_png_pixels(out)
    assert (ow, oh) == (3, 2)
    for y in range(2):
        for x in range(3):
            sx, sy = x * w // 3, y * h // 2
            src = (sy * w + sx) * 3
            assert orgb[(y * 3 + x) * 3 : (y * 3 + x) * 3 + 3] == rgb[src : src + 3]

    bad = bytearray(png)
    bad[-20] ^= 0xFF  # inside IDAT data, before IEND
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_png_pixels(bytes(bad))


def test_video_container_roundtrip_and_frame_sample(spark):
    payload = multimodal.encode_video([10, 20, 30, 40, 50])
    frames = multimodal.decode_video_frames(payload)
    assert len(frames) == 5
    assert frames[2] == bytes([30]) * multimodal.VID_FRAME_LEN
    with pytest.raises(ValueError):
        multimodal.decode_video_frames(b"nope")
    # resize: all three image codecs are real now; a header-only JPEG has
    # no scan data and must fail loudly; a video payload is not an image
    with pytest.raises(ValueError, match="SOF/SOS"):
        multimodal.resize_image(multimodal.encode_jpeg_header(8, 8), 32, 32)
    with pytest.raises(ValueError):
        multimodal.resize_image(payload, 32, 32)

    df = spark.createDataFrame([(1, "abcdef")], ["doc_id", "text"])
    video = multimodal.synthesize_video(df, "doc_id", "text")
    sampled = multimodal.frame_sample(video, every_n=2).collect()
    # 6 frames, stride 2 -> indices 0, 2, 4 with checksum 64*byte % 997
    got = {(r["frame_idx"], r["frame_checksum"]) for r in sampled}
    assert got == {
        (i, (multimodal.VID_FRAME_LEN * ord("abcdef"[i])) % 997) for i in (0, 2, 4)
    }


def test_media_header_roundtrip_local():
    """Encoder and parser agree for every container, including dimension
    values whose bytes would betray an endianness mix-up (258 = 0x0102)."""
    for enc, fmt in [
        (multimodal.encode_png_header, "image/png"),
        (multimodal.encode_jpeg_header, "image/jpeg"),
        (multimodal.encode_gif_header, "image/gif"),
    ]:
        out = multimodal.decode_media(enc(258, 513))
        assert out == {"format": fmt, "width": 258, "height": 513}, fmt


def test_media_decode_dataflow(spark):
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "ab cd"), (2, "x" * 700)], ["doc_id", "text"]
    )
    media = multimodal.synthesize_media(df, "doc_id", "text")
    dims = {r["doc_id"]: r for r in multimodal.media_dimensions(media).collect()}
    assert dims[0]["media_format"] == "image/png"
    assert dims[1]["media_format"] == "image/jpeg"
    assert dims[2]["media_format"] == "image/gif"
    assert dims[0]["width"] == 5 % 640 + 16 and dims[0]["height"] == 3 % 480 + 16
    assert dims[2]["width"] == 700 % 640 + 16 and dims[2]["height"] == 1 % 480 + 16


def test_knn_multiquery_matches_per_query_bruteforce(spark):
    """Batched exact k-NN must return, for EVERY query in the table, the
    identical ids+dots as the single-query kernel — partial top-k + final
    merge loses nothing when ties break on a total order."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    batched = similarity.knn_multiquery(emb, queries, k=10).collect()
    by_query: dict[int, list[tuple[int, int]]] = {}
    for r in sorted(batched, key=lambda r: (r["query_id"], r["rn"])):
        by_query.setdefault(r["query_id"], []).append((r["vec_id"], r["dot_q"]))
    assert set(by_query) == {0, 100, 200, 300, 400}
    for qid, got in by_query.items():
        single = similarity.knn_bruteforce(
            emb, emb.filter(F.col("vec_id") == qid), k=10
        ).collect()
        assert got == [(r["vec_id"], r["dot_q"]) for r in single]


def test_ann_lsh_multiquery_is_bucketed_subset(spark):
    """Each query's batched-LSH results must equal its single-query LSH
    results (same planes, same buckets) — batching changes the plan, not
    the answers."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    batched = similarity.ann_lsh_multiquery(emb, queries, k=10).collect()
    by_query: dict[int, set[tuple[int, int]]] = {}
    for r in batched:
        by_query.setdefault(r["query_id"], set()).add((r["vec_id"], r["dot_q"]))
    for qid, got in by_query.items():
        single = similarity.ann_lsh_bucketed(
            emb, emb.filter(F.col("vec_id") == qid), k=10
        ).collect()
        assert got == {(r["vec_id"], r["dot_q"]) for r in single}


def test_chunk_and_pack_invariants(spark):
    """l6_chunk_and_pack contract on the real corpus (sf0.001): chunk
    token sums reconstruct each document exactly, no chunk exceeds the
    64-token cap, chunk ids are dense from 0, and no bin's load exceeds
    capacity + cap - 1 (the bound chunking buys — raw contiguous fill
    has no bound at all when a document exceeds capacity)."""
    from weather_etl_docker_airflow_project_spark.operators import text
    from weather_etl_docker_airflow_project_spark.io import load_table
    from weather_etl_docker_airflow_project_spark.plans import catalog

    sf = "/root/testdata/sf0.001"
    rows = catalog.REGISTRY["l6_chunk_and_pack"].fn(spark, sf).collect()
    docs = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, sf, "documents")
        .select("doc_id", F.size(text.tokens(F.col("text"))).alias("n"))
        .collect()
    }
    per_doc: dict[int, list] = {}
    loads: dict[int, int] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_tokens"]))
        loads[r["bin_id"]] = loads.get(r["bin_id"], 0) + r["chunk_tokens"]
        assert r["chunk_tokens"] <= 64
    assert set(per_doc) == set(docs)
    for doc_id, chunks in per_doc.items():
        chunks.sort()
        assert [c for c, _ in chunks] == list(range(len(chunks)))  # dense ids
        assert sum(t for _, t in chunks) == docs[doc_id]  # exact reconstruction
    assert max(loads.values()) <= 256 + 63


def test_exact_stratified_take_quota(spark):
    """Exact-quota sampling: every stratum yields exactly min(15, |stratum|)
    rows, ranks are dense 1..n within each stratum, and the selection is
    identical across two runs (pure function of the keys)."""
    from weather_etl_docker_airflow_project_spark.io import load_table
    from weather_etl_docker_airflow_project_spark.plans import catalog

    sf = "/root/testdata/sf0.001"
    fn = catalog.REGISTRY["l6_exact_stratified_take"].fn
    got = sorted((r["source"], r["doc_id"], r["take_rank"]) for r in fn(spark, sf).collect())
    sizes: dict[str, int] = {}
    for r in load_table(spark, sf, "documents").groupBy("source").count().collect():
        sizes[r["source"]] = r["count"]
    per_src: dict[str, list[int]] = {}
    for src, _, rank in got:
        per_src.setdefault(src, []).append(rank)
    assert set(per_src) == {s for s, n in sizes.items() if n > 0}
    for src, ranks in per_src.items():
        assert sorted(ranks) == list(range(1, min(15, sizes[src]) + 1))
    again = sorted((r["source"], r["doc_id"], r["take_rank"]) for r in fn(spark, sf).collect())
    assert got == again


def test_firstfit_packing_respects_capacity_and_backfills(spark):
    """Crafted shard where contiguous fill MUST overfill (60+60 in one
    bin) but first-fit back-fills: [60, 60, 40, 40] at capacity 100 packs
    into exactly two full bins, and no bin ever exceeds capacity."""
    from weather_etl_docker_airflow_project_spark.operators.sampling import (
        sequence_packing_bins,
        sequence_packing_firstfit,
    )

    df = spark.createDataFrame(
        [(0, 60), (1, 60), (2, 40), (3, 40)], ["doc_id", "n_tokens"]
    )
    ff = sequence_packing_firstfit(df, "doc_id", "n_tokens", capacity=100, n_shards=1)
    rows = {r["doc_id"]: r["bin_id"] for r in ff.collect()}
    assert rows == {0: 0, 1: 1, 2: 0, 3: 1}  # 40s back-fill the 60s' bins
    loads: dict[int, int] = {}
    for doc, b in rows.items():
        loads[b] = loads.get(b, 0) + {0: 60, 1: 60, 2: 40, 3: 40}[doc]
    assert all(v <= 100 for v in loads.values())
    # contiguous fill on the same order overfills bin 0 (60+60=120 spill)
    cont = sequence_packing_bins(df, "doc_id", "n_tokens", capacity=100)
    cont_loads: dict[int, int] = {}
    for r in cont.collect():
        cont_loads[r["bin_id"]] = cont_loads.get(r["bin_id"], 0) + r["n_tokens"]
    assert max(cont_loads.values()) > 100


def test_firstfit_utilization_beats_nextfit_on_corpus(spark):
    """On the real documents table, first-fit must use no more bins than
    next-fit (the capacity-respecting sequential baseline) in every shard
    — i.e. utilization is monotonically better, the r2-verdict contract."""
    from weather_etl_docker_airflow_project_spark.operators import text
    from weather_etl_docker_airflow_project_spark.operators.sampling import (
        sequence_packing_firstfit,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sized = docs.select(
        "doc_id", F.size(text.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    cap, shards = 2048, 8
    ff = sequence_packing_firstfit(sized, "doc_id", "n_tokens", cap, n_shards=shards)
    ff_bins = {
        r["shard"]: r["nb"]
        for r in ff.groupBy("shard")
        .agg(F.countDistinct("bin_id").alias("nb"))
        .collect()
    }
    lengths = {
        s: [r["n_tokens"] for r in sized.filter(F.col("doc_id") % shards == s)
            .orderBy("doc_id").collect()]
        for s in range(shards)
    }
    for s, ls in lengths.items():
        nf_bins, load = 1, 0
        for length in ls:
            if load + length > cap:
                nf_bins, load = nf_bins + 1, 0
            load += length
        assert ff_bins[s] <= nf_bins


def test_wav_codec_roundtrip_local():
    """encode_wav (struct writer) vs decode_wav (chunk walker) round-trip,
    including clamping, an unknown chunk the walker must skip, the
    word-alignment pad byte, and loud failures on malformed containers."""
    samples = [0, 100, -100, 32767, -32768, 40000, -40000, 7]
    wav = audio.encode_wav(samples, 16000)
    rate, got = audio.decode_wav(wav)
    assert rate == 16000
    assert got == [0, 100, -100, 32767, -32768, 32767, -32768, 7]

    # insert an odd-length unknown chunk between fmt and data: the walker
    # must skip it (honoring the pad byte) and still find the data chunk
    fmt_end = wav.index(b"data")
    junk = b"LIST" + (5).to_bytes(4, "little") + b"abcde" + b"\x00"
    patched = bytearray(wav[:fmt_end] + junk + wav[fmt_end:])
    rate2, got2 = audio.decode_wav(bytes(patched))
    assert (rate2, got2) == (rate, got)

    with pytest.raises(ValueError, match="RIFF"):
        audio.decode_wav(b"notawav")
    with pytest.raises(ValueError, match="truncated"):
        audio.decode_wav(wav[:-3])
    # stereo PCM is declared unsupported, not silently mis-decoded
    stereo = bytearray(wav)
    ch_off = wav.index(b"fmt ") + 8 + 2
    stereo[ch_off:ch_off + 2] = (2).to_bytes(2, "little")
    with pytest.raises(ValueError, match="unsupported PCM shape"):
        audio.decode_wav(bytes(stereo))


def test_audio_features_dataflow(spark):
    """Closed-form fixture through the full Spark path: synthesize real WAV
    payloads, decode+featurize via mapInPandas, check one row against
    direct arithmetic."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    wav = audio.synthesize_audio(docs, "doc_id", "text")
    feats = {r["doc_id"]: r for r in audio.audio_features(wav).collect()}
    assert set(feats) == {d for d, _ in DOCS}
    d, text = DOCS[0]
    n = len(text) % 256 + 16
    s = [((d * 31 + i * 17) % 4096) - 2048 for i in range(n)]
    row = feats[d]
    assert row["sample_rate"] == 8000 + (d % 3) * 4000
    assert row["n_samples"] == n
    assert row["sum_abs"] == sum(abs(x) for x in s)
    assert row["peak"] == max(abs(x) for x in s)
    assert row["zero_crossings"] == sum(
        1 for a, b in zip(s, s[1:]) if a * b < 0
    )


def test_gif_lzw_codec_roundtrip_local():
    """encode_gif (string-table LZW) vs decode_gif_pixels (positional
    table rebuild): round-trip including code-width growth, the KwKwK
    case, sub-block framing, and a skipped extension block. A long
    low-entropy run forces 12-bit codes + a clear-code table reset."""
    import random

    palette = [((j * 37) % 256, (j * 37 + 85) % 256, (j * 37 + 170) % 256)
               for j in range(8)]
    w, h = 19, 13
    idx = bytes((3 + 2 * x + 3 * y) % 8 for y in range(h) for x in range(w))
    gif = multimodal.encode_gif(w, h, idx, palette)
    gw, gh, rgb = multimodal.decode_gif_pixels(gif)
    assert (gw, gh) == (w, h)
    assert rgb == b"".join(bytes(palette[i]) for i in idx)

    # KwKwK: aaa... emits the just-defined code immediately
    assert multimodal._lzw_decode(multimodal._lzw_encode(b"\x01" * 500, 2), 2) == b"\x01" * 500

    # force table past 4096 entries -> clear-code reset mid-stream
    rng = random.Random(11)
    big = bytes(rng.randrange(8) for _ in range(200_000))
    assert multimodal._lzw_decode(multimodal._lzw_encode(big, 3), 3) == big

    # extension blocks are skipped, not mis-parsed as image data
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    patched = gif[:13 + 3 * 8] + gce + gif[13 + 3 * 8:]
    assert multimodal.decode_gif_pixels(patched)[2] == rgb

    with pytest.raises(ValueError, match="not a GIF"):
        multimodal.decode_gif_pixels(b"PNG...")
    with pytest.raises(ValueError, match="no image data"):
        multimodal.decode_gif_pixels(gif[:13 + 3 * 8] + b"\x3b")

    # GIF resize resamples the index plane and preserves the palette
    out = multimodal.resize_image(gif, 7, 5)
    ow, oh, orgb = multimodal.decode_gif_pixels(out)
    assert (ow, oh) == (7, 5)
    for y in range(5):
        for x in range(7):
            sx, sy = x * w // 7, y * h // 5
            assert orgb[(y * 7 + x) * 3:(y * 7 + x) * 3 + 3] == \
                rgb[(sy * w + sx) * 3:(sy * w + sx) * 3 + 3]

    # mixed-format dispatcher routes by magic; a header-only JPEG reaches
    # the real decoder and fails loudly on the missing scan
    assert multimodal.decode_image_pixels(gif)[0] == w
    with pytest.raises(ValueError, match="SOF/SOS"):
        multimodal.decode_image_pixels(multimodal.encode_jpeg_header(4, 4))


def test_oversample_mix_weights(spark):
    """Weight 300 -> exactly 3 copies of every row; weight 0 / absent
    stratum -> dropped; fractional weight subsamples deterministically
    (idempotent across runs) with distinct copy_ids."""
    from weather_etl_docker_airflow_project_spark.operators.sampling import (
        oversample_mix,
    )

    rows = [(i, "hi" if i % 2 else "lo") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "stratum"])
    out = oversample_mix(
        df, "doc_id", {"hi": 300, "lo": 50}, strata_col="stratum"
    ).collect()
    hi = [r for r in out if r["stratum"] == "hi"]
    lo = [r for r in out if r["stratum"] == "lo"]
    assert len(hi) == 3 * 100
    assert {r["copy_id"] for r in hi} == {0, 1, 2}
    assert 20 <= len(lo) <= 80                       # ~50% of 100, hash-split
    assert all(r["copy_id"] == 0 for r in lo)
    again = oversample_mix(
        df, "doc_id", {"hi": 300, "lo": 50}, strata_col="stratum"
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    none = oversample_mix(df, "doc_id", {}, strata_col="stratum")
    assert none.count() == 0
    with pytest.raises(ValueError, match="negative"):
        oversample_mix(df, "doc_id", {"hi": -1}, strata_col="stratum")


def test_bpe_pretokens_classes(spark):
    """'ab2c, x!' -> alpha runs [ab, c, x], digits [2], marks [, !]."""
    df = spark.createDataFrame([(1, "ab2c, x!"), (2, ""), (3, "   ")],
                               ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.bpe_pretokens(df, "doc_id", "text").collect()}
    assert (out[1]["n_pretokens"], out[1]["n_alpha_runs"],
            out[1]["n_digits"], out[1]["n_marks"]) == (6, 3, 1, 2)
    assert out[2]["n_pretokens"] == 0
    assert out[3]["n_pretokens"] == 0


def test_jpeg_codec_flat_exact_and_ac_reference_local():
    """Baseline JPEG codec (operators/jpeg.py): flat-block images decode
    INTEGER-EXACTLY (DC-only IDCT is round(dc/8)+128 by construction);
    arbitrary AC spectra decode to the same pixels as an independently
    computed direct-form reference IDCT; scope violations raise."""
    import math
    import random

    from weather_etl_docker_airflow_project_spark.operators import jpeg

    blocks = [[(5 * 7 + 11 * bx + 17 * by) % 200 + 28 for bx in range(3)]
              for by in range(2)]
    payload = jpeg.encode_flat_jpeg(24, 16, blocks)
    w, h, rgb = jpeg.decode_jpeg_pixels(payload)
    assert (w, h) == (24, 16)
    for by in range(2):
        for bx in range(3):
            for y in range(8):
                for x in range(8):
                    p = ((by * 8 + y) * 24 + bx * 8 + x) * 3
                    v = blocks[by][bx]
                    assert rgb[p:p + 3] == bytes((v, v, v))

    # AC path: random quantized spectrum vs direct-form reference IDCT
    rng = random.Random(5)
    coefs = [0] * 64
    coefs[0] = rng.randrange(-40, 40)
    for _ in range(12):
        coefs[rng.randrange(1, 64)] = rng.randrange(-9, 10)
    _w, _h, got_rgb = jpeg.decode_jpeg_pixels(
        jpeg.encode_coef_jpeg(8, 8, [[coefs]])
    )
    deq = [coefs[i] * jpeg.QTAB_LUMA[i] for i in range(64)]

    def cc(u):
        return math.sqrt(0.125) if u == 0 else 0.5

    for y in range(8):
        for x in range(8):
            s = sum(
                cc(u) * cc(v) * deq[v * 8 + u]
                * math.cos((2 * x + 1) * u * math.pi / 16)
                * math.cos((2 * y + 1) * v * math.pi / 16)
                for v in range(8) for u in range(8)
            )
            ref = max(0, min(255, round(s) + 128))
            assert abs(got_rgb[(y * 8 + x) * 3] - ref) <= 1

    # byte stuffing: an 0xFF entropy byte is written stuffed and read back
    bw_ = jpeg._BitWriter()
    bw_.put(0xFF, 8)
    bw_.put(0xA5, 8)
    stream = bw_.flush()
    assert stream.startswith(b"\xff\x00\xa5")
    br = jpeg._BitReader(stream)
    assert br.bits(8) == 0xFF and br.bits(8) == 0xA5
    with pytest.raises(ValueError, match="marker"):
        jpeg._BitReader(b"\xff\xd9").bits(8)  # marker inside entropy data

    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg.decode_jpeg_pixels(b"nope")
    with pytest.raises(ValueError, match="multiples of 8"):
        jpeg.encode_flat_jpeg(12, 8, [[100]])

    # resize decodes JPEG and re-encodes lossless as PNG
    out = multimodal.resize_image(payload, 12, 8)
    ow, oh, orgb = multimodal.decode_png_pixels(out)
    assert (ow, oh) == (12, 8)
    for y in range(8):
        for x in range(12):
            sx, sy = x * 24 // 12, y * 16 // 8
            src = (sy * 24 + sx) * 3
            assert orgb[(y * 12 + x) * 3:(y * 12 + x) * 3 + 3] == rgb[src:src + 3]


def test_fuzzy_blocked_pairs_hot_block_cap(spark):
    """A crafted generic block ('item', 2000 rows -> ~2M pairs uncapped)
    must be droppable via max_block_size while small blocks keep their
    pairs — pair volume stays bounded by cap^2 per block."""
    rows = [(i, "item", 1, f"item {i}") for i in range(2000)]
    rows += [(10_001, "rare", 1, "rare widget"), (10_002, "rare", 1, "rare widgex")]
    df = spark.createDataFrame(rows, ["id", "blk", "sz", "name"])
    capped = dedup.fuzzy_blocked_pairs(
        df, "id", "name", ["blk", "sz"], max_distance=2, max_block_size=100
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(10_001, 10_002)}
    assert capped[0]["lev"] == 1


def test_pq_search_recall_and_compression(spark):
    """PQ contract: codes compress to exactly m small ints, encoding is
    deterministic (same codebooks -> same codes), the ADC+rerank pipeline
    beats a recall floor vs brute force, and the returned scores are the
    EXACT integer dots (rerank property: every returned (id, dot) pair
    must appear identically in the brute-force ranking)."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7)
    brute = {r["vec_id"]: r["dot_q"] for r in similarity.knn_bruteforce(emb, q, k=20).collect()}
    pq = {r["vec_id"]: r["dot_q"] for r in similarity.pq_search(emb, q, k=20).collect()}
    # exact-score property: returned dots equal the brute-force dots
    for vid, dot in pq.items():
        if vid in brute:
            assert dot == brute[vid]
    # self is its own nearest neighbor and survives PQ candidate pruning
    assert 7 in pq
    recall = len(set(pq) & set(brute)) / 20
    assert recall >= 0.5, f"PQ recall@20 collapsed: {recall}"

    # codes: m ints per vector, deterministic across two encode passes
    sample = np.stack([r[0] for r in emb.select("embedding").collect()]).astype(np.float64)
    books = similarity._train_pq_codebooks(sample, m=8, ksub=16, seed=7)
    c1 = dict(emb.select("vec_id", similarity.pq_encode(books).alias("c")).collect())
    c2 = dict(emb.select("vec_id", similarity.pq_encode(books).alias("c")).collect())
    assert c1 == c2
    assert all(len(v) == 8 and all(0 <= x < 16 for x in v) for v in c1.values())


def test_pq_search_fit_collect_is_capped(spark):
    """The codebook fit collect must be HARD-capped (r4 verdict: the one
    genuine scale-killer — an uncapped fit_mod=1 collect is a driver OOM
    at corpus scale). Overflow raises with the fix named; a thinned
    deterministic sample under the cap still clears the recall floor."""
    import pytest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7)
    with pytest.raises(ValueError, match="max_fit_rows"):
        similarity.pq_search(emb, q, k=5, max_fit_rows=10)
    # the declared-query posture: explicit fit_mod thinning under the cap
    brute = {r["vec_id"] for r in similarity.knn_bruteforce(emb, q, k=20).collect()}
    pq = {
        r["vec_id"]
        for r in similarity.pq_search(
            emb, q, k=20, fit_mod=4, max_fit_rows=50_000
        ).collect()
    }
    assert 7 in pq
    assert len(pq & brute) / 20 >= 0.5


def test_leakage_safe_split_keeps_clusters_together(spark):
    from weather_etl_docker_airflow_project_spark.plans.llm_q import l6_leakage_safe_split

    out = l6_leakage_safe_split(spark, "/root/testdata/sf0.001")
    per_cluster = (
        out.groupBy("cluster_id").agg(F.countDistinct("split").alias("n_splits"))
    )
    assert per_cluster.filter(F.col("n_splits") > 1).count() == 0
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits


def test_mmr_rerank_prefers_diversity(spark):
    from weather_etl_docker_airflow_project_spark.operators.similarity import mmr_rerank

    # two clumps: A = {1,2,3} nearly identical high-relevance vectors,
    # B = {4} distinct, slightly lower relevance. Pure top-2 = {1,2};
    # MMR's redundancy penalty must pick one from each clump.
    rows = [
        (1, [1000000, 0, 0], 1000),
        (2, [999999, 1, 0], 999),
        (3, [999998, 2, 0], 998),
        (4, [0, 1000000, 0], 900),
    ]
    pool = spark.createDataFrame(rows, "vec_id long, qv array<long>, rel long")
    got = {
        r["pick_rank"]: r["id"]
        for r in mmr_rerank(pool, k=2, id_col="vec_id").collect()
    }
    assert got == {1: 1, 2: 4}


def test_containment_catches_subset_jaccard_misses(spark):
    from weather_etl_docker_airflow_project_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    sub = " ".join(f"tok{i}" for i in range(8))
    sup = sub + " " + " ".join(f"extra{i}" for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, sub), (2, sup), (3, other)], "doc_id long, text string"
    )
    cp = containment_pairs(docs, "doc_id", "text", threshold_pct=80, min_shingles=5)
    got = {(r["id_sub"], r["id_sup"]) for r in cp.collect()}
    assert (1, 2) in got          # the quote IS contained in the article
    assert (2, 1) not in got      # not vice versa
    assert not any(3 in p for p in got)
    # symmetric Jaccard misses the same pair at a comparable threshold
    jac = ngram_jaccard_pairs(docs, "doc_id", "text", threshold_pct=60)
    assert jac.count() == 0


def test_ngram_lm_exact_counts_and_probs(spark):
    """Crafted-corpus semantics for the bigram LM table: counts, left
    continuation mass, and integer-division conditional probabilities are
    exact; docs with <2 tokens contribute nothing; top-k ties break on
    (l, r)."""
    docs = spark.createDataFrame(
        [
            (0, "a b a b c"),     # bigrams: ab, ba, ab, bc
            (1, "a b"),           # ab
            (2, "solo"),          # no bigram
            (3, ""),              # no bigram
        ],
        "doc_id long, text string",
    )
    out = {
        (r["l"], r["r"]): (r["cnt"], r["left_total"], r["prob_micros"])
        for r in text.ngram_counts(docs, "doc_id", "text", top_k=10).collect()
    }
    # c(a,b)=3; left 'a' appears as bigram-left 3 times -> P(b|a)=1.0
    assert out[("a", "b")] == (3, 3, 1_000_000)
    # c(b,a)=1, c(b,c)=1; left 'b' mass = 2 -> each P = 0.5 exactly
    assert out[("b", "a")] == (1, 2, 500_000)
    assert out[("b", "c")] == (1, 2, 500_000)
    assert len(out) == 3


def test_ivf_add_grows_without_rewriting_and_matches_one_shot(spark):
    """Incremental IVF growth contract: (a) the add APPENDS — every cell
    file from the initial build is still on disk afterwards; (b) a probe
    over the grown index is row-identical to ivf_search over the full
    corpus (frozen-quantizer equality: the initial build held all seed
    ids)."""
    import glob
    import os

    from weather_etl_docker_airflow_project_spark.io import scratch_dir

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter((F.col("vec_id") % 2 == 0) | (F.col("vec_id") % 125 == 0))
    delta = emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") % 125 != 0))
    path = os.path.join(scratch_dir("ivf_add_t"), "index")
    similarity.build_ivf_index(base, path)
    before = set(glob.glob(path + "/cells/cell=*/*.parquet"))
    similarity.ivf_add(spark, path, delta)
    after = set(glob.glob(path + "/cells/cell=*/*.parquet"))
    assert before <= after and len(after) > len(before)

    q = emb.filter(F.col("vec_id") == 7)
    grown = [
        (r["vec_id"], r["dot_q"])
        for r in similarity.ivf_probe_persisted(spark, path, q, k=10, n_probe=2).collect()
    ]
    one_shot = [
        (r["vec_id"], r["dot_q"])
        for r in similarity.ivf_search(emb, q, k=10, n_probe=2).collect()
    ]
    assert grown == one_shot

    # replay idempotence (r5 advice): redelivering the same increment —
    # or an increment overlapping already-indexed ids — must be a no-op,
    # not a silent row duplication that corrupts probe results
    n_rows = spark.read.parquet(path + "/cells").count()
    similarity.ivf_add(spark, path, delta)
    assert spark.read.parquet(path + "/cells").count() == n_rows
    overlap = emb.filter(F.col("vec_id") < 50)  # mix of indexed ids only
    similarity.ivf_add(spark, path, overlap)
    assert spark.read.parquet(path + "/cells").count() == n_rows


def test_lm_familiarity_crafted(spark):
    """Hand-checked bigram LM scoring: LM fits on even doc_ids only;
    odd docs with unseen bigrams count them; <2-token docs score NULL."""
    from weather_etl_docker_airflow_project_spark.operators.text import lm_familiarity

    docs = spark.createDataFrame(
        [
            (0, "a b a b"),   # train: bigrams (a,b)x2, (b,a)x1
            (2, "a b"),       # train: (a,b)
            (1, "a b c"),     # score: (a,b) seen, (b,c) unseen
            (3, "x"),         # <2 tokens -> no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lm_familiarity(docs, "doc_id", "text").collect()}
    # LM: (a,b) cnt 3, (b,a) cnt 1 -> P(b|a)=1.0 (left_total 3... (a,*)=3)
    # -> prob_micros(a,b) = 1000000*3 div 3 = 1000000; (b,a): left b total 1
    # -> 1000000
    assert rows[0]["n_bigrams"] == 3 and rows[0]["n_unseen"] == 0
    assert rows[0]["familiarity_micros"] == 1000000
    assert rows[2]["n_bigrams"] == 1 and rows[2]["familiarity_micros"] == 1000000
    assert rows[1]["n_bigrams"] == 2 and rows[1]["n_unseen"] == 1
    assert rows[1]["familiarity_micros"] == 500000  # (1000000 + 0) div 2
    assert rows[3]["n_bigrams"] == 0 and rows[3]["n_unseen"] == 0
    assert rows[3]["familiarity_micros"] is None


def test_ahash_resolution_invariant_buckets(spark):
    """The perceptual hash must bucket the SAME pattern at different
    resolutions together (the property that catches resized re-encodes)
    and separate opposite patterns."""
    from weather_etl_docker_airflow_project_spark.operators.multimodal import (
        ahash_bits,
        encode_png,
    )

    def half_png(w, h, bright_left):
        rgb = bytes(
            (250 if (x < w // 2) == bright_left else 5)
            for y in range(h)
            for x in range(w)
            for _ in range(3)
        )
        return encode_png(w, h, rgb)

    rows = [
        (1, half_png(8, 8, True)),
        (2, half_png(16, 16, True)),   # same pattern, 2x resolution
        (3, half_png(12, 8, True)),    # same pattern, non-square
        (4, half_png(8, 8, False)),    # mirrored pattern
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r["ahash_bits"] for r in ahash_bits(df, "doc_id").collect()}
    assert got[1] == got[2] == got[3]
    assert got[4] != got[1]
    assert set(got[1]) <= {"0", "1"} and len(got[1]) == 16


def test_incremental_neardup_matches_oneshot_and_replays_idempotently(spark, tmp_path):
    """Increment-vs-index candidate pairs must equal the one-shot LSH
    pairs restricted to pairs touching the increment; replaying the same
    increment appends nothing and returns the identical pair set."""
    import os

    from weather_etl_docker_airflow_project_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = os.path.join(str(tmp_path), "band_index")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    inc = docs.filter(F.col("doc_id") % 2 == 1)
    dedup.build_band_index(base, "doc_id", "text", path)

    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.incremental_neardup_pairs(
            spark, path, inc, "doc_id", "text"
        ).collect()
    }
    oneshot = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text").collect()
        if r["id_a"] % 2 == 1 or r["id_b"] % 2 == 1
    }
    assert got == oneshot

    n_index = spark.read.parquet(path).count()
    again = {
        (r["id_a"], r["id_b"])
        for r in dedup.incremental_neardup_pairs(
            spark, path, inc, "doc_id", "text"
        ).collect()
    }
    assert again == got
    assert spark.read.parquet(path).count() == n_index  # replay appended nothing


def test_ahash_tiny_image_empty_cells_hash_zero(spark):
    """Images narrower than the grid leave empty cells — they must hash
    '0' (not the degenerate 0>=0 '1'), and the hash stays grid² chars."""
    from weather_etl_docker_airflow_project_spark.operators.multimodal import (
        ahash_bits,
        encode_png,
    )

    rgb = bytes([200] * (2 * 3 * 3))  # uniform 2x3 image
    df = spark.createDataFrame([(1, encode_png(2, 3, rgb))], "doc_id long, payload binary")
    h = ahash_bits(df, "doc_id").collect()[0]["ahash_bits"]
    assert len(h) == 16
    # grid columns 1 and 3 get no pixels (cx = x*4//2 ∈ {0, 2}) -> '0'
    rows = [h[i : i + 4] for i in range(0, 16, 4)]
    assert all(r[1] == "0" and r[3] == "0" for r in rows)
    # populated cells of a uniform image are all at the mean -> '1'
    assert all(r[0] == "1" and r[2] == "1" for r in rows[:3])


def test_ivf_delete_rewrites_only_affected_cells(spark, tmp_path):
    """Deletion contract: (a) cells without any deleted id keep their
    ORIGINAL files byte-for-byte (never rewritten); (b) deleted ids are
    gone, survivors intact; (c) a fully-emptied cell's directory
    disappears; (d) replaying the same delete is a no-op."""
    import glob
    import os

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = os.path.join(str(tmp_path), "index")
    similarity.build_ivf_index(emb, path)
    before = {
        f: os.path.getmtime(f) for f in glob.glob(path + "/cells/cell=*/*.parquet")
    }
    rows0 = (
        spark.read.parquet(path + "/cells").select("vec_id", "cell").collect()
    )
    by_cell = {}
    for r in rows0:
        by_cell.setdefault(r["cell"], []).append(r["vec_id"])
    # delete every vector of ONE cell (to exercise the emptied-dir drop)
    # plus a couple of ids from another
    cells_sorted = sorted(by_cell)
    wipe_cell = cells_sorted[0]
    partial_cell = cells_sorted[1]
    dels = list(by_cell[wipe_cell]) + list(by_cell[partial_cell])[:2]
    ddf = spark.createDataFrame([(i,) for i in dels], "vec_id long")
    similarity.ivf_delete(spark, path, ddf)

    after_ids = {r["vec_id"] for r in spark.read.parquet(path + "/cells").select("vec_id").collect()}
    assert not (set(dels) & after_ids)
    assert after_ids == {r["vec_id"] for r in rows0} - set(dels)
    assert not os.path.exists(f"{path}/cells/cell={wipe_cell}")
    untouched = [
        f for f in before
        if f"cell={wipe_cell}/" not in f and f"cell={partial_cell}/" not in f
    ]
    assert untouched and all(
        os.path.exists(f) and os.path.getmtime(f) == before[f] for f in untouched
    )

    n = spark.read.parquet(path + "/cells").count()
    similarity.ivf_delete(spark, path, ddf)  # replay: no-op
    assert spark.read.parquet(path + "/cells").count() == n


def test_curriculum_order_invariants(spark):
    """Curriculum manifest contract: train_pos is a contiguous 1..N total
    order, tiers are non-decreasing along it (easy-to-hard), and the
    whole ordering is deterministic across invocations (no rand())."""
    from weather_etl_docker_airflow_project_spark.plans import catalog

    fn = catalog.REGISTRY["l6_curriculum_order"].fn
    rows = sorted(
        ((r["train_pos"], r["tier"], r["doc_id"])
         for r in fn(spark, "/root/testdata/sf0.001").collect())
    )
    n = len(rows)
    assert [p for p, _, _ in rows] == list(range(1, n + 1))
    tiers = [t for _, t, _ in rows]
    assert tiers == sorted(tiers)
    assert set(tiers) <= {0, 1, 2, 3}
    again = sorted(
        ((r["train_pos"], r["tier"], r["doc_id"])
         for r in fn(spark, "/root/testdata/sf0.001").collect())
    )
    assert again == rows


def test_ivf_delete_refuses_to_empty_the_index(spark, tmp_path):
    import os

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = os.path.join(str(tmp_path), "index")
    similarity.build_ivf_index(emb, path)
    with pytest.raises(ValueError, match="EVERY indexed vector"):
        similarity.ivf_delete(spark, path, emb.select("vec_id"))
    # index untouched after the refusal
    assert spark.read.parquet(path + "/cells").count() == emb.count()


def test_span_coverage_crafted(spark):
    # doc1/doc2 share an 8-token run; doc3 is unique; doc4 is too short
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    df = spark.createDataFrame(
        [
            (1, shared + " unique-one tail-a tail-b"),
            (2, "prefix-two " + shared),
            (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
            (4, "too short"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.span_coverage(df, "doc_id", "text", n=8).collect()
    }
    # doc1: 11 tokens -> 4 windows; only window 1 (the shared run) dups
    assert out[1]["n_spans"] == 4 and out[1]["n_dup_spans"] == 1
    # doc2: 9 tokens -> 2 windows; window 2 == shared run
    assert out[2]["n_spans"] == 2 and out[2]["n_dup_spans"] == 1
    assert out[2]["dup_ratio"] == 0.5
    # doc3: 10 tokens -> 3 windows, none duplicated
    assert out[3]["n_spans"] == 3 and out[3]["n_dup_spans"] == 0
    # doc4: shorter than n -> zero windows, ratio 0.0, still present
    assert out[4]["n_spans"] == 0 and out[4]["dup_ratio"] == 0.0


def test_span_coverage_within_doc_repeat_is_not_cross_doc_dup(spark):
    # the same 8-token run twice in ONE doc is not cross-doc duplication
    run = "a b c d e f g h"
    df = spark.createDataFrame(
        [(1, run + " x " + run), (2, "z1 z2 z3 z4 z5 z6 z7 z8 z9")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.span_coverage(df, "doc_id", "text", n=8).collect()
    }
    assert out[1]["n_dup_spans"] == 0


def test_radius_search_matches_bruteforce_filter(spark):
    emb = spark.createDataFrame(
        [
            (i, [1.0 if j == (i % 4) else 0.0 for j in range(8)])
            for i in range(12)
        ],
        ["vec_id", "embedding"],
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # identical one-hot vectors dot to QUANT^2; orthogonal ones to 0
    out = similarity.radius_search_multiquery(emb, q, min_dot=1)
    ids = sorted(r["vec_id"] for r in out.collect())
    assert ids == [0, 4, 8]  # i % 4 == 0 -> same one-hot axis as the query
    dots = {r["vec_id"]: r["dot_q"] for r in out.collect()}
    assert all(d == similarity.QUANT * similarity.QUANT for d in dots.values())


def test_radius_search_empty_query_table(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0])], ["vec_id", "embedding"]
    )
    q = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.radius_search_multiquery(emb, q, min_dot=0)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "dot_q"]


def test_radius_search_query_cap_raises(spark):
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)], ["vec_id", "embedding"]
    )
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="max_queries"):
        similarity.radius_search_multiquery(emb, q, min_dot=0, max_queries=3)
