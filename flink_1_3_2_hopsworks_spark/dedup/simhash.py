"""SimHash near-duplicate detection.

North-star extension (SURVEY.md §2.14). 64-bit Charikar simhash: each token
hashes to 64 bits; each bit position accumulates +1/-1 across tokens; the
sign vector is the fingerprint. Near-duplicates have small Hamming distance.

Implementation is fully relational — no Python in the hot path: tokens are
exploded JVM-side, token hashes are one ``xxhash64`` per token, and the
bit-majority is 64 codegen'd SUM aggregates in ONE hash-aggregate pass
(the same explode→project→hash-agg shape as the MinHash signature). The
fingerprint reassembles from the 64 sign bits with bitwise ORs. Candidate
pairing blocks on 4 16-bit fingerprint chunks (any pair within Hamming
distance 3 shares at least one chunk — pigeonhole), then verifies exact
Hamming distance with an XOR popcount.

Scale notes: signature cost is linear in token count and shuffles only the
per-doc 64-sum rows; the chunk-bucket join is the lone wide op and its keys
(16-bit chunk values) distribute well. A degenerate chunk value (e.g. the
zero chunk from short docs) is the skew risk — ``max_bucket`` drops chunk
buckets above that size BEFORE the self-join (same cap as minhash's band
buckets), so one hot 16-bit value can't quadratically explode a task at
100 TB. A doc dropped from one degenerate chunk can still pair through its
other 3 chunks; within Hamming<=3 only if >1 chunk is degenerate does a
pair go unseen — the standard LSH-cap recall trade.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def portable_hash60(col: Column) -> Column:
    """60-bit token hash from an md5 prefix — bit-for-bit reproducible in
    DuckDB as ``('0x' || substr(md5(tok), 1, 15))::BIGINT``, unlike
    xxhash64. The registry gate hashes with this so its oracle can replay
    the ENTIRE simhash pipeline in SQL; production callers keep the faster
    default. 60 bits (15 hex chars) so the value fits a signed long."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "simhash",
    hash_expr: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """(id, simhash) per row — whitespace tokens, 64-bit Charikar majority.

    One explode + one hash-aggregate; everything whole-stage-codegen'd.
    Empty/whitespace-only texts get fingerprint 0 (restored by the left
    join — explode of an empty token array drops the row). ``hash_expr``
    swaps the token-hash function (default xxhash64; see portable_hash60).

    r13 note: the r12 union-into-the-aggregate restore (one NULL-hash
    marker row per id instead of the id ⟕ aggregate join) was REVERTED
    after the r12 driver bench regressed both simhash gates ~18% and a
    quiet-gated interleaved A/B confirmed it structural: union-shape
    median 3.54 s vs join-shape 2.06 s on identical downstream pipelines
    (plans/r13/ab_dedup_components_r13.json) — the union forces every id
    through the aggregate's exchange and breaks the scan→explode→partial-
    agg codegen pipeline, costing more than the avoided join.
    """
    hash_expr = hash_expr or F.xxhash64
    ids = df.select(F.col(id_col).alias("_id"))
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("_tok"),
    ).filter(F.col("_tok") != "")
    hashed = toks.select("_id", hash_expr(F.col("_tok")).alias("_h"))
    # Per-bit set-counts, packed 4 counters × 16 bits into each of 16 long
    # accumulators: one aggregate pass with 17 small SUM expressions (vs 64
    # one-per-bit sums, whose generated code takes longer to Janino-compile
    # than the query takes to run at test scale). Counter g holds bits
    # 4g..4g+3; bit b of a token hash contributes 1<<(16*(b%4)) to counter
    # b//4. 16-bit counters cap per-doc token count at 65535 — beyond that,
    # shingle-sample the document first (standard simhash practice).
    def _packed(g: int) -> Column:
        h = F.col("_h")
        terms = [
            F.shiftleft(
                F.shiftrightunsigned(h, 4 * g + s).bitwiseAND(F.lit(1)).cast("long"),
                16 * s,
            )
            for s in range(4)
        ]
        t = terms[0]
        for extra in terms[1:]:
            t = t + extra
        return t

    sums = hashed.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(_packed(g)).alias(f"_p{g}") for g in range(16)],
    )
    # Majority per bit: 2*count_set > n  →  set bit b of the fingerprint.
    fp: Column = F.lit(0).cast("long")
    for b in range(64):
        count_b = F.shiftrightunsigned(F.col(f"_p{b // 4}"), 16 * (b % 4)).bitwiseAND(
            F.lit(0xFFFF)
        )
        fp = fp.bitwiseOR(
            F.when(count_b * 2 > F.col("_n"), F.shiftleft(F.lit(1).cast("long"), b))
            .otherwise(0)
            .cast("long")
        )
    fps = sums.select("_id", fp.alias(out_col))
    return (
        ids.join(fps, "_id", "left")
        .select(F.col("_id").alias(id_col), F.coalesce(out_col, F.lit(0)).alias(out_col))
    )


def _chunk(col: Column, i: int) -> Column:
    """16-bit chunk i of a 64-bit signed fingerprint."""
    return F.shiftrightunsigned(col, i * 16).bitwiseAND(F.lit(0xFFFF))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_chunk_keys(
    fps: DataFrame, id_col: str, hash_col: str = "simhash"
) -> DataFrame:
    """``(id_col, simhash, ci, cv)`` — one row per (doc, 16-bit chunk):
    the chunk posting keys of a fingerprint frame, with THE same chunk
    algebra the probes use (:func:`_chunk`), so a persisted posting store
    and the probe can never drift. Persist each epoch (e.g. with
    streaming/stores.write_epoch) and :func:`incremental_simhash_ingest`
    detects the layout by its columns, probes the stored chunk rows
    directly, and caps buckets exactly."""
    return fps.select(
        F.col(id_col),
        F.col(hash_col).alias("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("ci"),
                    _chunk(F.col(hash_col), i).alias("cv"),
                )
                for i in range(4)
            ])
        ).alias("_c"),
    ).select(id_col, "simhash", F.col("_c.ci").alias("ci"),
             F.col("_c.cv").alias("cv"))


def _budget_guard(
    bucket_sizes: DataFrame,
    max_bucket: int,
    candidate_budget: int,
    on_over_budget: str,
) -> None:
    """Σ size·(size−1)/2 over under-cap chunk buckets — the candidate-pair
    count the blocking join will enumerate — estimated from the bucket-size
    aggregate BEFORE the quadratic join runs (one small eager job). Over
    budget: raise (default) or warn, pointing at the scale-safe
    alternatives (same playbook as minhash_near_dups' guard)."""
    if on_over_budget not in ("raise", "warn"):
        raise ValueError(
            f"on_over_budget must be 'raise' or 'warn', got {on_over_budget!r}"
        )
    est = (
        bucket_sizes.filter(F.col("_bsize") <= max_bucket)
        .agg(
            F.coalesce(
                F.sum(F.col("_bsize") * (F.col("_bsize") - 1) / 2), F.lit(0.0)
            ).alias("n")
        )
        .collect()[0]["n"]
    )
    if est > candidate_budget:
        msg = (
            f"simhash_near_dups: estimated {est:.0f} under-cap candidate "
            f"pairs exceeds candidate_budget={candidate_budget}. Pair "
            "listing is inherently quadratic in chunk-bucket co-membership; "
            "use simhash_star_edges for cluster resolution, or lower "
            "max_bucket."
        )
        if on_over_budget == "raise":
            raise ValueError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=3)


def _chunked_capped(
    fps: DataFrame, max_bucket: int
) -> tuple[DataFrame, DataFrame]:
    """(capped, bucket_sizes): 4 chunk rows per doc, oversized
    (chunk-index, chunk-value) buckets anti-joined away. Cap via a
    broadcast ANTI-join against the (≤4·65536-row) oversized list — NOT a
    window count over (ci, cv): the hot bucket the cap exists for is
    exactly the partition a WindowExec would buffer whole in one task,
    while the hash-aggregate takes a map-side partial."""
    chunked = fps.select(
        "_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("ci"), _chunk(F.col("simhash"), i).alias("cv"))
                for i in range(4)
            ])
        ).alias("_c"),
    ).select("_id", "simhash", F.col("_c.ci").alias("ci"), F.col("_c.cv").alias("cv"))
    bucket_sizes = chunked.groupBy("ci", "cv").agg(
        F.count(F.lit(1)).alias("_bsize")
    )
    oversized = bucket_sizes.filter(F.col("_bsize") > max_bucket).select("ci", "cv")
    capped = chunked.join(F.broadcast(oversized), ["ci", "cv"], "left_anti")
    return capped, bucket_sizes


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    max_bucket: int = 1000,
    hash_expr: Callable[[Column], Column] | None = None,
    fingerprints: DataFrame | None = None,
    persist: bool = True,
    candidate_budget: int | None = None,
    on_over_budget: str = "raise",
) -> DataFrame:
    """Pairs (id_a < id_b) with simhash Hamming distance <= max_distance.

    This is the PAIR-LISTING (audit) form: output size is the candidate
    pair count, inherently super-linear on low-entropy corpora (measured:
    the sf10 decade ratio was 9.65× — the worst in the suite — before the
    star mode existed). When the goal is duplicate CLUSTERS, use
    :func:`simhash_star_edges` (Θ(docs × 4) edges regardless of bucket
    sizes). ``candidate_budget`` estimates the under-cap pair count from
    the bucket-size aggregate before enumerating (one small eager job) and
    raises/warns over budget — same guard as minhash_near_dups.

    Scale path: 4-chunk blocking turns the quadratic pair space into
    per-chunk-value buckets; verification is an integer XOR popcount.
    ``max_bucket`` caps any one (chunk-index, chunk-value) bucket — a
    hash-aggregated count + broadcast anti-join before the self-join,
    bounding the worst task at max_bucket² pairs regardless of corpus skew.

    Hamming-0 pairs ALWAYS survive the cap: identical-fingerprint groups
    additionally emit a linear doc→canonical (min-id) star, so even when
    every chunk bucket of a degenerate group (e.g. >max_bucket empty docs,
    all fingerprint 0) is dropped, its exact duplicates still pair — N−1
    rows per group, never N².
    """
    # Persisted like minhash's signature table: one long per doc — tiny next
    # to the corpus — and referenced by the blocking self-join (twice), the
    # bucket-size count, and the exact-star (twice); recomputing it would
    # re-scan and re-hash the corpus per reference. Lifecycle: a caller
    # looping over many corpora should pass ``persist=False`` (recompute per
    # reference) or supply a pre-persisted ``fingerprints`` DataFrame
    # (columns [id_col, "simhash"], e.g. from simhash_fingerprints) and own
    # its unpersist — no unpersist hook can fire here because the returned
    # plan executes after this function.
    if fingerprints is not None:
        fps = fingerprints.withColumnRenamed(id_col, "_id")
    else:
        fps = simhash_fingerprints(df, id_col, text_col, hash_expr=hash_expr).withColumnRenamed(
            id_col, "_id"
        )
        if persist:
            fps = fps.persist()
    capped, bucket_sizes = _chunked_capped(fps, max_bucket)
    if candidate_budget is not None:
        _budget_guard(bucket_sizes, max_bucket, candidate_budget, on_over_budget)

    left = capped.select("ci", "cv", F.col("_id").alias("id_a"), F.col("simhash").alias("fp_a"))
    right = capped.select("ci", "cv", F.col("_id").alias("id_b"), F.col("simhash").alias("fp_b"))
    # Hamming filter BEFORE the pair dedup: the XOR popcount is codegen'd
    # and cuts the candidate stream to near-duplicates only, so the
    # dropDuplicates shuffle moves the surviving pairs — not every blocked
    # candidate (a pair sharing k chunks appears k times; dedup must follow
    # the verify, but the verify is the cheap half). No dropDuplicates
    # HERE: the final dedup after the exact-star union covers it in ONE
    # pair-keyed exchange instead of two (r12) — every duplicate of a pair
    # carries the same hamming (a pure function of the two fingerprints,
    # and 0 from the exact arm), so one dedup at the end is
    # row-equivalent.
    blocked = (
        left.join(right, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("fp_a"), F.col("fp_b")).cast("long"))
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )
    # Exact-duplicate recovery (see docstring): canonical star per
    # identical-fingerprint group, linear in group size. groupBy+join, not
    # a window over simhash: the degenerate group this exists for (hot
    # fingerprint) is exactly the partition a WindowExec would have to
    # buffer/spill whole; hash-agg does a map-side partial instead.
    canon = fps.groupBy("simhash").agg(F.min("_id").alias("_cid"))
    exact = (
        fps.join(canon, "simhash")
        .filter(F.col("_id") != F.col("_cid"))
        .select(
            F.col("_cid").alias("id_a"),
            F.col("_id").alias("id_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return blocked.unionByName(exact).dropDuplicates(["id_a", "id_b"])


def simhash_star_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    max_bucket: int = 1000,
    hash_expr: Callable[[Column], Column] | None = None,
    fingerprints: DataFrame | None = None,
    persist: bool = True,
) -> DataFrame:
    """LINEAR near-dup edge generation for cluster resolution — the simhash
    twin of :func:`~flink_1_3_2_hopsworks_spark.dedup.minhash.minhash_star_edges`
    (the r7 playbook that fixed minhash's decade-scale quadratic, applied
    verbatim): per (chunk-index, chunk-value) blocking bucket, emit only
    the verified star edges (bucket-min anchor ↔ member, XOR-popcount
    Hamming <= ``max_distance``) — Θ(size) edges per bucket instead of the
    O(size²) pair expansion. The Hamming verify is CHEAPER than minhash's
    estimator (one XOR + bit_count vs num_hashes compares), so the star
    reduction is strictly easier here.

    For connected components the star edges connect exactly the members
    the verify accepts against the bucket's min doc — a subset of the pair
    graph with identical precision (every edge passed the same
    ``<= max_distance`` check); connectivity can only split where a
    bucket's anchor is NOT within distance of two members that ARE within
    distance of each other, and each of the 4 independent chunk buckets
    gives such a pair another chance to meet through a shared anchor.
    Identical-fingerprint docs co-locate in ALL buckets, and the
    Hamming-0 canonical star (union'd below, same as pairs mode)
    guarantees exact duplicates connect even when every chunk bucket of a
    degenerate group is capped away.

    Scale shape: one hash-aggregate row per bucket (min of a struct —
    anchor id WITH its fingerprint, no second pass) plus one bucket-keyed
    join; total work Θ(docs × 4) regardless of bucket sizes. Same
    ``max_bucket`` capping as pairs mode.
    """
    if fingerprints is not None:
        fps = fingerprints.withColumnRenamed(id_col, "_id")
    else:
        fps = simhash_fingerprints(df, id_col, text_col, hash_expr=hash_expr).withColumnRenamed(
            id_col, "_id"
        )
        if persist:
            fps = fps.persist()
    capped, _ = _chunked_capped(fps, max_bucket)

    # The anchor row per bucket in ONE hash-aggregate: min of a struct
    # whose first field is the id picks the min-id row WITH its
    # fingerprint — no second join against a min-id list.
    anchors = capped.groupBy("ci", "cv").agg(
        F.min(F.struct(F.col("_id"), F.col("simhash"))).alias("_m")
    )
    stars = (
        capped.join(anchors, ["ci", "cv"])
        .filter(F.col("_id") > F.col("_m._id"))
        .withColumn(
            "hamming", hamming64(F.col("_m.simhash"), F.col("simhash")).cast("long")
        )
        .filter(F.col("hamming") <= max_distance)
        .select(
            F.col("_m._id").alias("id_a"),
            F.col("_id").alias("id_b"),
            "hamming",
        )
    )
    canon = fps.groupBy("simhash").agg(F.min("_id").alias("_cid"))
    exact = (
        fps.join(canon, "simhash")
        .filter(F.col("_id") != F.col("_cid"))
        .select(
            F.col("_cid").alias("id_a"),
            F.col("_id").alias("id_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return stars.unionByName(exact).dropDuplicates(["id_a", "id_b"])


def incremental_simhash_ingest(
    batch_fps: DataFrame,
    store_fps: DataFrame,
    id_col: str,
    hash_col: str = "simhash",
    max_distance: int = 3,
    max_bucket: int = 1000,
    materialize_probe: bool = True,
) -> DataFrame:
    """Incremental NEAR-dup ingestion over 64-bit fingerprints — the
    simhash twin of dedup/incremental.py's ``incremental_near_ingest``
    (perceptual-hash media crawls use this where text crawls use the
    MinHash estimator). One verdict row per batch item:
    ``(id_col, kept, reason)`` with ``reason`` ∈ {'kept',
    'corpus_near_dup', 'batch_near_dup'} — a batch item drops when any
    STORED fingerprint sharing one of its 16-bit chunk buckets is within
    ``max_distance`` Hamming bits, else clusters within the batch (the
    star geometry, min id survives). An uncapped EQUALITY arm preserves
    the Hamming-0 guarantee under the bucket cap: exact duplicates of a
    stored fingerprint always drop, even when every shared chunk bucket
    is oversized (the degenerate-fingerprint case the cap exists for).

    ``store_fps`` may be the plain fingerprint table (chunks derived
    here) or the r11 chunk-posting layout (:func:`simhash_chunk_keys`
    rows, detected by its ``ci``/``cv`` columns) — the posting layout
    skips re-deriving the chunks of every stored fingerprint per probe;
    verdicts are identical (the same bucket caps, and an exactly-equal
    stored hash is found through its ``ci = 0`` row).

    Scale shape (mirrors the MinHash ingest exactly): the store — the
    100 TB side — is only ever SCANNED; its chunk rows stream through
    ONE probe join against the batch's chunk rows, which are BROADCAST
    (bounded by the batch); oversized STORE buckets (> ``max_bucket``)
    are excluded like every blocking op here; the within-batch step is
    the linear star reduction. The store-side cap count is a map-side-
    combined hash aggregate whose exchange is bounded by the BUCKET
    DOMAIN (4 chunk indexes × 65536 values = ≤262,144 rows), not by
    store size — so total shuffle volume is O(|batch| + bucket domain),
    independent of the store.

    **EAGER by default** (same contract note as
    ``incremental_near_ingest`` / ``write_zordered``): with
    ``materialize_probe=True`` this call RUNS both store probes at
    plan-build time and pins their duplicate-id result via
    ``localCheckpoint`` (the survivor frame fans out into the star,
    cluster resolution, and the verdict join; unpinned, each reference
    re-ran the probes). The pinned blocks are slim batch-bounded ids,
    released by Spark's ContextCleaner once the driver drops the
    returned frame — a crawl loop that discards each epoch's verdicts
    stays bounded. Pass ``materialize_probe=False`` for a fully-lazy
    plan (single-action callers, plan audits); extra actions then
    re-pay the probes.
    """
    from flink_1_3_2_hopsworks_spark.dedup.neardup import (
        resolve_duplicate_clusters,
    )

    batch = batch_fps.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("simhash")
    )
    batch_chunks = batch.select(
        "_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("ci"),
                    _chunk(F.col("simhash"), i).alias("cv"),
                )
                for i in range(4)
            ])
        ).alias("_c"),
    ).select(
        F.col("_id").alias("_bid"),
        F.col("simhash").alias("_bh"),
        F.col("_c.ci").alias("ci"),
        F.col("_c.cv").alias("cv"),
    )
    if {"ci", "cv"} <= set(store_fps.columns):
        # r11 chunk-posting layout (simhash_chunk_keys rows): every
        # stored hash has one row per chunk, so its ci=0 row carries it
        # into the equality arm below.
        chunks = store_fps.select(
            F.col(hash_col).alias("simhash"), "ci", "cv"
        )
        oversized = (
            chunks.groupBy("ci", "cv")
            .agg(F.count(F.lit(1)).alias("_bsize"))
            .filter(F.col("_bsize") > max_bucket)
            .select("ci", "cv")
        )
        store_probe = chunks.join(
            F.broadcast(oversized), ["ci", "cv"], "left_anti"
        ).select("ci", "cv", F.col("simhash").alias("_sh"))
        store_eq = chunks.filter(F.col("ci") == 0).select("simhash")
    else:
        store = store_fps.select(
            F.lit(0).cast("long").alias("_id"),
            F.col(hash_col).alias("simhash"),
        )
        store_capped, _ = _chunked_capped(store, max_bucket)
        store_probe = store_capped.select(
            "ci", "cv", F.col("simhash").alias("_sh")
        )
        store_eq = store.select("simhash")
    near_hits = (
        store_probe
        .join(F.broadcast(batch_chunks), ["ci", "cv"])
        .filter(hamming64(F.col("_sh"), F.col("_bh")) <= max_distance)
        .select(F.col("_bid"))
    )
    # Uncapped EQUALITY arm — the Hamming-0 guarantee the other simhash
    # entry points keep (simhash_near_dups' exact-duplicate recovery
    # star): a stored fingerprint whose 4 chunk buckets are ALL oversized
    # is invisible to the capped probe above, so its exact duplicates
    # would be kept and re-appended every epoch, growing the hot bucket
    # further. Same scale shape as the probe: the store is SCANNED once
    # more (8 bytes/doc), semi-probed by the broadcast batch key set;
    # collisions are bounded by the batch's distinct hashes.
    batch_keys = batch.select("simhash").distinct()
    exact_hits_keys = (
        store_eq
        .join(F.broadcast(batch_keys), "simhash", "left_semi")
        .distinct()
    )
    exact_hits = batch.join(
        F.broadcast(exact_hits_keys), "simhash"
    ).select(F.col("_id").alias("_bid"))
    # MATERIALIZED (bounded by the batch — slim ids): the survivor frame
    # derived from this is referenced by the star's chunk/anchor/canon
    # subtrees, cluster resolution, and the verdict join — unpinned, each
    # reference re-ran BOTH store probes (measured 37 s of a 46 s epoch
    # at gate scale re-executing the probe 4-5x). EAGER: see the
    # docstring's contract note; materialize_probe=False keeps the probe
    # subtree lazy (single-action callers, plan audits).
    corpus_dups = near_hits.unionByName(exact_hits).distinct()
    if materialize_probe:
        from flink_1_3_2_hopsworks_spark.operators.iterate import (
            materialize,
        )

        corpus_dups = materialize(corpus_dups)
    survivors = batch.join(
        corpus_dups, batch["_id"] == corpus_dups["_bid"], "left_anti"
    ).select(F.col("_id").alias(id_col), "simhash")
    edges = simhash_star_edges(
        survivors, id_col, "simhash",
        max_distance=max_distance, max_bucket=max_bucket,
        fingerprints=survivors,
    )
    clustered = resolve_duplicate_clusters(
        survivors.select(id_col), edges, id_col
    )
    verdict = batch_fps.select(id_col).join(
        clustered.select(id_col, "kept"), id_col, "left"
    )
    return verdict.select(
        id_col,
        F.coalesce(F.col("kept"), F.lit(False)).alias("kept"),
        F.when(F.col("kept").isNull(), F.lit("corpus_near_dup"))
        .when(F.col("kept"), F.lit("kept"))
        .otherwise(F.lit("batch_near_dup"))
        .alias("reason"),
    )
