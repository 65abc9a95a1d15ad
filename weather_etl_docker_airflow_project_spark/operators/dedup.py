"""Deduplication operators for LLM data pipelines (SURVEY.md §2.11 L1/L2).

Four dedup families, each pure DataFrame ops (no Python in the hot path),
each with an exact DuckDB oracle twin in ``plans/llm_q.py``:

- **exact**: md5 content hash, canonical = min id per hash. One shuffle on
  the 128-bit hash (uniform keys — no skew by construction).
- **MinHash + LSH**: word-shingles -> 16 universal-hash minima -> 4 bands
  of 4; candidate pairs share >=1 band bucket. The band bucket-join is the
  scale path: cost is per-bucket pairs, never the O(n^2) cross join.
- **SimHash**: 32-bit sign-aggregated token-hash signature; near-dup pairs
  via 4x8-bit band blocking — by pigeonhole, hamming distance <= 3 implies
  at least one of the 4 bands matches exactly, so blocking loses nothing.
- **n-gram Jaccard**: exact set overlap via shingle equi-join; integer
  (intersection, union) output with the threshold as an integer inequality
  so the oracle hash is exact.

Scale notes (100 TB): shingle explode is linear in corpus tokens; all
joins are equi-joins on hash-uniform keys (shuffle-friendly, AQE-skew
safe). Band width trades recall for bucket size — at 100 TB raise bands or
add a second-stage exact-Jaccard verify on candidates (the verify is this
module's ``ngram_jaccard_pairs`` restricted to candidate pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.xhash import MINHASH_A, h32, minhash_perm

SHINGLE_K = 3          # word n-gram width for shingles
MINHASH_BANDS = 4
MINHASH_ROWS = 4       # 4 bands x 4 rows = 16 permutations
SIMHASH_BITS = 32
SIMHASH_BANDS = 4      # 4 x 8-bit bands => exact-recall blocking for d<=3


_EXPLODE_FANOUT = 100          # conservative shingle/token blow-up factor
_POST_EXPLODE_PART_BYTES = 128 << 20  # target partition size after fan-out
# Estimates at/above 1 PiB are Catalyst's "no stats" sentinel territory:
# without CBO, join/aggregate stats multiply child sizes and leaves without
# computeStats report spark.sql.defaultSizeInBytes (Long.MaxValue). Trusting
# such a number once turned a 10-row test input into a 1,000,000-partition
# repartition (a ~90-minute no-op shuffle). Anything this side of a real
# petabyte pre-explode input is a lie — fall back to the core-count floor.
_SIZE_ESTIMATE_SANE_MAX = 1 << 50
# Scheduler-practical stage width ceiling: beyond ~64k tasks per stage,
# driver-side task bookkeeping (not data) dominates; inputs that genuinely
# need more should be processed as independent input splits.
_MAX_EXPLODE_WIDTH = 1 << 16


def _estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate (file stats for a parquet
    scan) — plan-time metadata only, no job, no ``.rdd`` materialization.
    Returns 0 when unavailable (future Spark Connect sessions) or when the
    estimate is the no-stats sentinel/blowup (see _SIZE_ESTIMATE_SANE_MAX)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes()))
    except Exception:
        return 0
    return size if 0 < size < _SIZE_ESTIMATE_SANE_MAX else 0


def _spread_for_explode(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition the compact pre-explode input so the ~100x
    shingle/token fan-out runs wide. The width is sized FROM THE DATA:
    estimated input bytes x fan-out / 128 MB-per-partition (capped at
    ``_MAX_EXPLODE_WIDTH``), so a many-thousand-partition 100 TB scan is
    never collapsed to a few hundred partitions right before the explode.

    The floor is the core count (``defaultParallelism``), not
    ``spark.sql.shuffle.partitions``: a fixed-count ``repartition(n, col)``
    is one AQE never coalesces, so every stage after the spread (explode,
    signatures, banding, the persisted buckets, the checkpointed pair
    join's input) runs exactly ``n`` tasks. With 32 shuffle partitions
    on 4 cores, that floor gave ``l2_minhash_lsh_pairs`` 130 tasks to
    build and 32 to collect over the analytic_mix documents; at the core
    count it runs 18 and 4. On a host with at least as many cores as
    shuffle partitions the width is the same either way.

    The shuffle itself is deliberately unconditional: probing the current
    partition count needs ``df.rdd`` (forcing an RDD-lineage
    materialization of the plan), while repartitioning the pre-explode
    side is one narrow shuffle of the SMALL representation — at 100 TB
    that moves ~100x fewer bytes than shuffling exploded shingles."""
    floor_width = df.sparkSession.sparkContext.defaultParallelism
    data_width = (
        _estimated_size_bytes(df) * _EXPLODE_FANOUT // _POST_EXPLODE_PART_BYTES
    )
    target = max(floor_width, min(int(data_width), _MAX_EXPLODE_WIDTH))
    return df.repartition(target, F.col(id_col))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """L1: content-hash dedup. Returns every row with its hash, the
    canonical (minimum) id for that hash, and an ``is_canonical`` flag —
    callers keep ``is_canonical`` rows to dedup, or inspect groups."""
    w = Window.partitionBy("content_hash")
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count("*").over(w))
        .withColumn("is_canonical", (F.col(id_col) == F.col("canonical_id")))
    )


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SHINGLE_K,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Distinct word k-gram shingles per document, exploded to
    (id, shingle) rows — plus ``carry_cols`` carried through the explode
    (joining a small attribute back onto the EXPLODED table costs a
    corpus-sized shuffle; carrying it through costs bytes-per-row).

    The input is spread BEFORE the explode: a document scan often arrives
    in file-granularity partitions (one small file = one task), which
    would serialize the ~100x shingle fan-out onto one core — and at
    100 TB, repartitioning the pre-explode (small) side moves 100x fewer
    bytes than shuffling exploded shingles."""
    spread = _spread_for_explode(df, id_col)
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i.cast("int"), k)
        ),
    )
    return spread.select(
        F.col(id_col),
        *[F.col(c) for c in (carry_cols or [])],
        F.explode(F.array_distinct(grams)).alias("shingle"),
    )


def span_coverage(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of a document's
    ``n``-token windows (stride 1) whose exact text also appears in at
    least one OTHER document. This is the exact-substring-duplication
    signal (Lee et al., *Deduplicating Training Data Makes Language Models
    Better*, ACL'22 — public literature): whole-doc dedup misses the long
    boilerplate runs and quoted passages that inflate memorization, and a
    doc with high span coverage is mostly stitched from text that exists
    elsewhere in the corpus.

    Distributed shape: spread -> one explode (positions x docs), one
    (span-hash) aggregation to find spans in >=2 distinct docs, then —
    deliberately — the join back carries ONLY the duplicated spans
    (``nd >= 2`` filtered BEFORE the join): duplicated spans are the rare
    tail of the hash table, so the fact-fact join's build side shrinks
    from |all spans| to |dup spans| and a missing match simply means
    "unique span". Docs shorter than ``n`` tokens have zero windows and
    report coverage 0.0 (kept via left join, not dropped by the explode).

    Returns (id, n_spans, n_dup_spans, dup_ratio) — dup_ratio a double
    from an exact integer ratio (bit-identical cross-engine)."""
    spread = _spread_for_explode(df, id_col)
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit(""))
    sz = F.size(toks)
    grams = F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(1), sz - (n - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i.cast("int"), n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sp = spread.select(F.col(id_col), F.explode(grams).alias("sh"))
    dup_spans = (
        sp.groupBy("sh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    per_doc = (
        sp.join(dup_spans.withColumn("_dup", F.lit(1)), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.coalesce(F.sum("_dup"), F.lit(0)).cast("long").alias("n_dup_spans"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
            F.when(F.coalesce(F.col("n_spans"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.col("n_dup_spans").cast("double") / F.col("n_spans").cast("double")
            )
            .alias("dup_ratio"),
        )
    )


def contamination_score(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """GRADED benchmark contamination per training document: the fraction
    of the doc's distinct word ``k``-grams that also occur anywhere in the
    eval set — the n-gram-overlap decontamination signal the GPT-3 and
    PaLM reports describe (public literature), refining the boolean
    any-shingle flag of ``l6_decontaminate_against_eval`` into a score a
    pipeline can threshold (drop >X%-contaminated, keep the tail).

    Distributed shape: eval benchmarks are small by construction, so the
    distinct eval gram set is the BROADCAST side; the training shingles
    stream through one map-side left join (hit indicator), and a single
    doc-keyed aggregation emits both the gram count and the hit count —
    one shuffle total, nothing eval-sized ever shuffles. The score is an
    exact integer percentage (floor of 100·hits/grams), bit-identical
    cross-engine.

    Returns ``(id, n_grams, n_contaminated, contamination_pct)``.
    """
    train_sh = shingles(train, id_col, text_col, k)  # distinct per doc
    eval_grams = (
        shingles(eval_df, id_col, text_col, k)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    agg = (
        train_sh.join(F.broadcast(eval_grams), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
    )
    return agg.select(
        F.col(id_col),
        F.col("n_grams").cast("long").alias("n_grams"),
        "n_contaminated",
        # integer div, no floats anywhere: n_grams >= 1 by construction
        # (short docs contribute their whole token run as one shingle)
        F.expr("(100 * n_contaminated) div n_grams")
        .cast("long")
        .alias("contamination_pct"),
    )


def minhash_signatures(sh: DataFrame, id_col: str) -> DataFrame:
    """16 minhash values per document from exploded shingles: one hash
    aggregation (map-side partial min, single shuffle on id).

    The md5-derived hash is materialized as a projection column FIRST, so
    each of the 16 aggregate expressions is plain (a*h+b)%p arithmetic —
    inlining the md5 subtree 16x made the generated aggregate class large
    enough that Janino compilation dominated query time."""
    hashed = sh.select(F.col(id_col), h32(F.col("shingle")).alias("h"))
    mins = [
        F.min(minhash_perm(F.col("h"), k)).alias(f"mh{k}")
        for k in range(len(MINHASH_A))
    ]
    return hashed.groupBy(id_col).agg(*mins)


def _drop_hot_buckets(buckets: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Optionally exclude buckets above a population cap before the
    pair-generating self-join: pair volume is quadratic per bucket, so one
    pathological bucket (boilerplate, empty docs, a common template)
    dominates the whole job. Dropping "too common to be a useful
    similarity signal" buckets is the standard production tradeoff —
    recall loss is confined to pairs whose ONLY collision is the hot
    bucket."""
    if max_bucket_size is None:
        return buckets
    counts = buckets.groupBy("band", "bucket").count()
    keep = counts.filter(F.col("count") <= max_bucket_size).drop("count")
    return buckets.join(keep, ["band", "bucket"], "left_semi")


def band_bucket_table(sig: DataFrame, id_col: str) -> DataFrame:
    """LSH banding of a minhash-signature table: ``(id, band, bucket)``
    rows, bucket key = the band's concatenated minhash values. This is
    the persistable signature-index layout — the pair self-join
    (:func:`lsh_candidate_pairs`) and the incremental dedup
    (:func:`incremental_neardup_pairs`) both consume it."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.col(f"mh{b * MINHASH_ROWS + r}")
                        for r in range(MINHASH_ROWS)
                    ],
                ).alias("bucket"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return sig.select(F.col(id_col), F.explode(bands).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, max_bucket_size: int | None = None
) -> DataFrame:
    """LSH banding: bucket key = concatenated band values; candidate pairs
    are distinct (a < b) sharing any band bucket. The self-join is per
    (band, bucket) — never a global cross join."""
    buckets = band_bucket_table(sig, id_col)
    # Materialize before the self-join: otherwise BOTH join sides recompute
    # (and re-codegen) the whole shingle->minhash pipeline. At 100 TB this
    # is a persisted signature table; here MEMORY_AND_DISK.
    buckets = _drop_hot_buckets(buckets, max_bucket_size).persist()
    buckets.count()
    left = buckets.alias("l")
    right = buckets.alias("r")
    out = (
        left.join(
            right,
            (F.col(f"l.band") == F.col(f"r.band"))
            & (F.col(f"l.bucket") == F.col(f"r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
        # materialize the (rare-tail-sized) pair table so the
        # corpus-sized bucket cache frees NOW instead of pinning for the
        # session — the ngram_jaccard_pairs cache-hygiene rule (leaked
        # persists from every invocation evict longer-lived caches and
        # drag every later query in the session)
        .localCheckpoint()
    )
    buckets.unpersist()
    return out


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """L2 end-to-end: shingle -> minhash -> band -> candidate pairs."""
    return lsh_candidate_pairs(
        minhash_signatures(shingles(df, id_col, text_col), id_col), id_col
    )


def build_band_index(
    df: DataFrame, id_col: str, text_col: str, index_path: str
) -> None:
    """Persist the banded minhash signature index of a corpus snapshot —
    the table incremental dedup joins later arrivals against. Shingle →
    minhash → band runs ONCE per snapshot; afterwards near-dup checks
    against this corpus never re-read its text."""
    band_bucket_table(
        minhash_signatures(shingles(df, id_col, text_col), id_col), id_col
    ).write.mode("overwrite").parquet(index_path)


def incremental_neardup_pairs(
    spark,
    index_path: str,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    append: bool = True,
) -> DataFrame:
    """Incremental near-dup detection: candidate pairs between a NEW
    document increment and everything already indexed (plus within the
    increment itself), touching ONLY the increment's text.

    The 100 TB shape: a daily crawl drop must not re-shingle the whole
    corpus — cost here is |new| shingling + one (band, bucket) equi-join
    of the new rows against the persisted index. Pairs canonicalize as
    ``(least, greatest)`` + distinct, so new↔new collisions count once.
    With ``append=True`` the increment's bucket rows are folded into the
    index for the next increment — LEFT-ANTI-guarded on id (the
    :func:`~..similarity.ivf_add` idempotence pattern), so replaying an
    increment is a no-op and the returned pairs are identical on rerun.
    """
    newb = band_bucket_table(
        minhash_signatures(shingles(new_docs, id_col, text_col), id_col), id_col
    ).persist()
    newb.count()
    old = spark.read.parquet(index_path)
    all_b = old.unionByName(newb)
    l, r = newb.alias("l"), all_b.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}")),
        )
        .select(
            F.least(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    # materialize pairs BEFORE any index mutation: the pair plan is lazy
    # and its `old` scan must not pick up files a later append writes.
    # localCheckpoint (eager) pins the tiny result AND truncates lineage,
    # so no recompute can ever reference newb or the index again; its
    # blocks are released by the ContextCleaner when the result is GC'd
    # (a bare persist() accumulated pinned copies across bench runs).
    pairs = pairs.localCheckpoint()
    if append:
        fresh = newb.join(old.select(id_col).distinct(), id_col, "left_anti")
        fresh.write.mode("append").parquet(index_path)
    newb.unpersist()
    return pairs


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash over distinct tokens: per (doc, bit) sum the +/-1
    contributions of each token hash's bit, then fold sign bits into the
    signature. Two hash aggregations; rows exploded = tokens x 32."""
    spread = _spread_for_explode(df, id_col)  # parallelize the tokens x 32 fan-out
    tok = spread.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("token"),
    ).withColumn("th", h32(F.col("token")))
    contrib = tok.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
        F.col("th"),
    ).withColumn(
        # python F.shiftright needs an int literal; SQL shiftright takes exprs
        "c",
        F.when(F.expr("(th >> bit) & 1") == 1, 1).otherwise(-1),
    )
    bitsum = contrib.groupBy(id_col, "bit").agg(F.sum("c").alias("s"))
    return bitsum.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0)
        ).alias("simhash")
    )


def simhash_neardup_pairs(
    sig: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, blocked on
    4x8-bit bands (exact recall for max_hamming <= SIMHASH_BANDS - 1)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * 8).bitwiseAND(0xFF).alias("bucket"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    buckets = sig.select(F.col(id_col), F.col("simhash"), F.explode(bands).alias("bb")).select(
        id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    # hot-bucket cap + persist: see lsh_candidate_pairs
    buckets = _drop_hot_buckets(buckets, max_bucket_size).persist()
    buckets.count()
    l, r = buckets.alias("l"), buckets.alias("r")
    hamming = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    ).cast("long")
    # hamming filter BEFORE distinct: candidate volume is bucket-quadratic
    # (skewed corpora produce huge buckets), and the filter is a cheap
    # map-side expression — the distinct shuffle then sees only true
    # near-dups instead of every candidate.
    out = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        # checkpoint-then-unpersist: see lsh_candidate_pairs
        .localCheckpoint()
    )
    buckets.unpersist()
    return out


def _drop_hot_shingles(
    sh: DataFrame, id_col: str, max_shingle_df: int | None
) -> DataFrame:
    """Exclude shingles whose document frequency exceeds the cap before the
    pair-generating self-join. Pair volume per shingle is quadratic in its
    document frequency — one 3-gram shared by 10k documents alone yields
    ~5x10^7 pairs — and a common-template/boilerplate shingle carries no
    similarity signal anyway. ``shingles()`` emits distinct shingles per
    document, so ``count(*)`` IS the document frequency (map-side partial
    agg, one shuffle on the hash-uniform shingle key). The twin of
    ``_drop_hot_buckets`` for the exact-Jaccard family."""
    if max_shingle_df is None:
        return sh
    keep = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_shingle_df)
        .drop("df")
    )
    # merge hint (r9, the sf10 lesson): ``keep`` is the corpus's distinct
    # shingle set — corpus-sized — but it sits behind an aggregate+filter,
    # whose static cardinality estimate shrinks enough for the planner to
    # BROADCAST it (512 MB hashed-relation OOM at 500k docs). Sort-merge
    # is fully spillable; at small scale AQE's measured sizes keep it
    # cheap, and the hint is what stops the unmeasured static broadcast.
    return sh.join(keep.hint("merge"), "shingle", "left_semi")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_pct: int = 60,
    k: int = SHINGLE_K,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard: equi-join on shared shingles counts the
    intersection; per-doc shingle counts give the union. The threshold is
    the integer inequality 100*inter >= pct*union — no float in the output.

    ``max_shingle_df`` bounds the quadratic fan-out of the shingle
    self-join (the 100 TB scale requirement): shingles in more than that
    many documents are dropped from the UNIVERSE — both intersection and
    per-doc sizes are computed over surviving shingles, i.e. the semantics
    become "Jaccard over non-boilerplate shingles", self-consistent and
    exactly mirrored in the oracle. Without a cap, one shingle shared by
    d documents yields d*(d-1)/2 join rows. The other 100 TB posture is
    unchanged: run this as the *verify* stage on LSH candidate pairs
    (see ``l2_neardup_pipeline``), where the join is per-candidate."""
    sh = shingles(df, id_col, text_col, k)
    if max_shingle_df is None:
        # uncapped: keep the distributed self-join (a grouped pair
        # expansion would materialize df^2 pairs of one hot shingle
        # inside a single task; the join at least spreads them)
        sh = _drop_hot_shingles(sh, id_col, max_shingle_df).persist()
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        l, r = sh.alias("l"), sh.alias("r")
        # merge hints on every corpus-derived join side: the shingle
        # table's static size estimate is unreliable past the cap
        # aggregate, and a planner-chosen broadcast of a corpus-sized
        # side is the one plan shape that cannot survive scale
        inter = (
            l.join(
                r.hint("merge"),
                (F.col("l.shingle") == F.col("r.shingle"))
                & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
            )
            .groupBy(
                F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
            )
            .agg(F.count("*").alias("inter"))
        )
        release = sh
    else:
        # CAPPED (the declared scale path): ONE groupBy collapses each
        # shingle to its sorted id set — and the (a < b) pair expansion
        # is a map-side nested transform bounded by cap^2/2 per shingle.
        # This replaces the shingle SELF-JOIN (two corpus-sized
        # sort-merge sides + the hot-cap semi-join's two more sorts)
        # with one stream exchange and zero sorts — the g2 edge-build
        # pattern ("no basket self-join"), measured ~2x on the
        # containment/jaccard family at sf0.1.
        #
        # Hot shingles are dropped BEFORE the id lists are built (r16,
        # ADVICE): a boilerplate shingle shared by millions of documents
        # — the exact case the cap exists for — would otherwise
        # materialize an unbounded collect_list buffer in ONE
        # aggregation task. The hot set comes from a constant-buffer
        # count aggregate (map-side combined, narrow rows); the
        # anti-join is hinted shuffled-hash so (a) no side ever sorts,
        # (b) the build side is the hot TAIL (per-partition slices of a
        # hash-uniform key — bounded even for adversarial corpora where
        # the hot set itself is large), and (c) the probe stream leaves
        # the join hash-partitioned by shingle, which the grouped
        # collect below REUSES — the skew bound costs one narrow count
        # exchange, never a second pass over the stream.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        grouped = (
            sh.join(hot.hint("shuffle_hash"), "shingle", "left_anti")
            .groupBy("shingle")
            .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
            .filter(F.size("ids") <= max_shingle_df)
            .persist()
        )
        sizes = (
            grouped.select(F.explode("ids").alias(id_col))
            .groupBy(id_col)
            .agg(F.count("*").alias("n_sh"))
        )
        inter = (
            grouped.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ids, (x, i) -> "
                        "transform(slice(ids, i + 2, size(ids)), "
                        "y -> struct(x AS id_a, y AS id_b))))"
                    )
                ).alias("p")
            )
            .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
        release = grouped
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa.hint("merge"), "id_a")
        .join(sb.hint("merge"), "id_b")
        .withColumn("uni", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .filter(F.lit(100) * F.col("inter") >= F.lit(threshold_pct) * F.col("uni"))
        .select("id_a", "id_b", "inter", "uni")
        # materialize the (small) pair table so the corpus-sized shingle
        # cache can free NOW instead of pinning for the session — the
        # similarity.py cache-hygiene rule (pinned per-call caches evict
        # longer-lived persisted tables)
        .localCheckpoint()
    )
    release.unpersist()
    return out


def fuzzy_blocked_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    max_distance: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Entity-resolution pairs: equi-join on the blocking key(s), verify
    with ``levenshtein <= max_distance`` — the candidate-then-verify shape
    of the LSH dedup family with a semantic blocking key instead of a hash
    bucket. Pair volume is quadratic PER BLOCK, so ``max_block_size``
    (same contract as ``_drop_hot_buckets``) drops pathological blocks —
    a block hotter than the cap is too generic to be a useful identity
    signal, and one such block otherwise dominates the whole job at
    corpus scale. Returns (id_a, id_b, name_a, name_b, lev), id_a < id_b.
    """
    p = df
    if max_block_size is not None:
        counts = df.groupBy(*block_cols).count()
        keep = counts.filter(F.col("count") <= max_block_size).drop("count")
        p = df.join(keep, block_cols, "left_semi")
    a, b = p.alias("a"), p.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    lev = F.levenshtein(F.col(f"a.{text_col}"), F.col(f"b.{text_col}"))
    return (
        a.join(b, cond)
        .filter(lev <= max_distance)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{text_col}").alias("name_a"),
            F.col(f"b.{text_col}").alias("name_b"),
            lev.cast("long").alias("lev"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_pct: int = 80,
    min_shingles: int = 5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: directed pairs where the smaller
    document's shingle set is >= threshold_pct CONTAINED in the other's
    (``inter / |sub| >= t``) — catches quote-expansion and
    template-plus-extra-content duplicates that symmetric Jaccard misses
    (a tweet quoted inside an article scores high containment, low
    Jaccard). Same skew discipline as the Jaccard family: hot shingles
    dropped via the declared document-frequency cap BEFORE the
    pair-generating self-join; documents below ``min_shingles`` are
    excluded (trivially contained). Integer threshold arithmetic
    (100*inter >= t*n_sub) — hash-exact."""
    sh = shingles(df, id_col, text_col)
    if max_shingle_df is None:
        # uncapped fallback: distributed self-join (see ngram_jaccard)
        sh = _drop_hot_shingles(sh, id_col, max_shingle_df).persist()
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        left = sh.select(F.col(id_col).alias("id_sub"), "shingle")
        right = sh.select(F.col(id_col).alias("id_sup"), "shingle")
        inter = (
            left.join(right.hint("merge"), "shingle")
            .filter(F.col("id_sub") != F.col("id_sup"))
            .groupBy("id_sub", "id_sup")
            .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        )
        release = sh
    else:
        # CAPPED: grouped pair expansion — one groupBy + map-side
        # nested transform replaces the self-join's two corpus-sized
        # sort-merge sides and the hot-cap semi-join (ngram_jaccard's
        # rewrite, r15). Intersection counts are SYMMETRIC, so unordered
        # (a < b) pairs are counted once and each emits both directed
        # (sub, sup) rows via one tiny explode. Hot shingles are
        # anti-joined out BEFORE any id list builds (r16 — see
        # ngram_jaccard_pairs: bounds the collect_list buffer under
        # boilerplate skew; the shuffled-hash probe side re-feeds the
        # grouped collect without a second exchange).
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        grouped = (
            sh.join(hot.hint("shuffle_hash"), "shingle", "left_anti")
            .groupBy("shingle")
            .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
            .filter(F.size("ids") <= max_shingle_df)
            .persist()
        )
        sizes = (
            grouped.select(F.explode("ids").alias(id_col))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        inter_u = (
            grouped.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ids, (x, i) -> "
                        "transform(slice(ids, i + 2, size(ids)), "
                        "y -> struct(x AS a, y AS b))))"
                    )
                ).alias("p")
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        )
        inter = inter_u.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("id_sub"),
                        F.col("b").alias("id_sup"),
                        F.col("inter"),
                    ),
                    F.struct(
                        F.col("b").alias("id_sub"),
                        F.col("a").alias("id_sup"),
                        F.col("inter"),
                    ),
                )
            ).alias("d")
        ).select("d.id_sub", "d.id_sup", "d.inter")
        release = grouped
    sub_sz = sizes.select(F.col(id_col).alias("id_sub"), F.col("n_sh").alias("n_sub"))
    out = (
        inter.join(sub_sz.hint("merge"), "id_sub")
        .filter(
            (F.col("n_sub") >= min_shingles)
            & (100 * F.col("inter") >= threshold_pct * F.col("n_sub"))
        )
        .select("id_sub", "id_sup", "inter", F.col("n_sub").cast("long"))
        # see ngram_jaccard_pairs: checkpoint the small pair table so the
        # corpus-sized shingle cache frees per-invocation
        .localCheckpoint()
    )
    release.unpersist()
    return out


def band_index_path(sf_dir: str) -> str:
    """Deterministic on-disk location for a dataset's persisted minhash
    band index — same anchoring + staleness-fingerprint contract as
    retrieval.inverted_index_path (source size+mtime in the name, so a
    regenerated dataset gets a fresh index)."""
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
        repo_root, "spark-warehouse", f"band_index_{sfname}_d{fp}"
    )
