"""Streaming MULTIMODAL ingest funnel — the media twin of
streaming/funnel.py, completing the crawl-loop family (text feeds get
rules → exact → MinHash near-dedup; vector feeds get the ANN ingest;
binary media feeds get THIS).

Each arriving micro-batch of binary payloads flows decode-validate →
quality rules → exact perceptual dedup → fuzzy perceptual near-dedup
THROUGH the persisted fingerprint stores, emitting the same auditable
per-epoch funnel rows the batch image funnel
(multimodal/curation.py image_curation_funnel) produces
(reference-analogue: the continuous-ingestion job graph where
ContinuousFileMonitoringFunction feeds a keyed stateful chain).

Stage semantics per epoch N (each stage owns its state):

1. ``input``       — every payload in the micro-batch.
2. ``decoded``     — the codec accepted it (corrupt payloads drop).
3. ``quality_rules`` — brightness/contrast bounds (the image analogue of
                     C4/Gopher; stateless).
4. ``exact_perceptual_dedup`` — drop items whose aHash is already in the
                     EXACT STORE (exact-stage survivors of epochs < N —
                     brightness-shifted re-encodes collide at Hamming 0
                     by aHash construction), then the min-id keeper per
                     aHash within the batch. Surviving (id, simhash)
                     append under ``exact_store/batch_id=N``.
5. ``near_dup``    — incremental_simhash_ingest against the NEAR STORE
                     (near-stage survivors of epochs < N): batch items
                     within ``max_distance`` Hamming bits of a stored
                     fingerprint sharing a 16-bit chunk drop, the rest
                     cluster within the batch (star geometry, min id
                     survives). Survivors append under
                     ``near_store/batch_id=N``.

State & scale contract (identical to the r9/r10 ingest loops): ZERO
Spark streaming state — dedup state IS the two epoch-partitioned
fingerprint stores (8 bytes per accepted item, shared with batch
backfills); per epoch both stores are only SCANNED (broadcast batch-key
probes / the chunk probe join); shuffle volume is O(|micro-batch|);
exactly-once via per-epoch overwrite partitions with own-epoch reads
excluded, so crash replay is idempotent (pytest-pinned).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from flink_1_3_2_hopsworks_spark.dedup.simhash import (
    incremental_simhash_ingest,
    simhash_chunk_keys,
)
from flink_1_3_2_hopsworks_spark.multimodal.curation import decode_signals
from flink_1_3_2_hopsworks_spark.operators.sampling import salted_h32
from flink_1_3_2_hopsworks_spark.streaming.neardup import _read_store
from flink_1_3_2_hopsworks_spark.streaming.stores import (
    compact_store,
    compaction_due,
    write_epoch,
)

STAGES = (
    "input",
    "decoded",
    "quality_rules",
    "exact_perceptual_dedup",
    "near_dup",
)


def seed_media_funnel_state(
    media: DataFrame,
    exact_store_path: str,
    near_store_path: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> None:
    """Seed both perceptual-fingerprint stores with an EXISTING media
    corpus before the stream starts (reserved ``batch_id=-1`` partitions,
    visible to every epoch including epoch-0 crash replays)."""
    fps = decode_signals(media, id_col, payload_col).filter(
        F.col("decoded")
    ).select(id_col, "simhash")
    write_epoch(fps, exact_store_path, -1)
    write_epoch(simhash_chunk_keys(fps, id_col), near_store_path, -1)


def compact_media_funnel_stores(
    spark,
    exact_store_path: str,
    near_store_path: str,
    before_batch_id: int,
) -> dict:
    """OFFLINE compaction of the media funnel's two perceptual stores:
    epochs ``batch_id < before_batch_id`` of the exact store and of the
    chunk-posting near store collapse into one ``batch_id=-1`` base each
    (stores.compact_store — see its watermark contract). Run between
    epochs with ``before_batch_id`` at or below the committed watermark.
    Returns ``{"exact": stats, "near": stats}``."""
    return {
        "exact": compact_store(spark, exact_store_path, before_batch_id),
        "near": compact_store(spark, near_store_path, before_batch_id),
    }


def media_funnel_stream(
    stream: DataFrame,
    exact_store_path: str,
    near_store_path: str,
    funnel_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    min_brightness: float = 105.0,
    max_brightness: float = 137.0,
    min_contrast: float = 40.0,
    max_distance: int = 3,
    max_bucket: int = 1000,
    salt: str = "mmfun10",
    compact_every: int | None = None,
) -> StreamingQuery:
    """Start the continuous media ingest funnel over ``stream`` (a
    streaming DataFrame carrying ``id_col`` and a binary
    ``payload_col``). Each micro-batch writes its five funnel rows under
    ``funnel_path/batch_id=N`` and appends each perceptual stage's
    survivors to that stage's store. ``compact_every=N`` self-maintains
    the two stores: every Nth epoch folds the committed history into one
    base before ingesting (crash-replay-safe — see
    curation_funnel_stream's note and stores.recover_compaction)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        if compaction_due(batch_id, compact_every):
            compact_media_funnel_stores(
                batch.sparkSession, exact_store_path, near_store_path,
                batch_id,
            )
        ingest_media_funnel_batch(
            batch, batch_id, exact_store_path, near_store_path,
            funnel_path, id_col=id_col, payload_col=payload_col,
            min_brightness=min_brightness, max_brightness=max_brightness,
            min_contrast=min_contrast, max_distance=max_distance,
            max_bucket=max_bucket, salt=salt,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ingest_media_funnel_batch(
    batch: DataFrame,
    batch_id: int,
    exact_store_path: str,
    near_store_path: str,
    funnel_path: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    min_brightness: float = 105.0,
    max_brightness: float = 137.0,
    min_contrast: float = 40.0,
    max_distance: int = 3,
    max_bucket: int = 1000,
    salt: str = "mmfun10",
) -> None:
    """One epoch of the media ingest funnel (the foreachBatch body,
    exposed so sequential-replay equivalence and crash-replay idempotency
    are directly testable). Idempotent per ``batch_id``: every store read
    excludes this epoch's own (possibly uncommitted) appends, and all
    three writes overwrite their own partition. ONE decode pass per
    epoch, pinned — payloads never shuffle, never re-decode."""
    from flink_1_3_2_hopsworks_spark.operators.iterate import (
        push_pin_scope,
        release_pin_scope,
    )

    spark = batch.sparkSession
    _id = F.col(id_col)
    slim = None
    exact_keep = None
    near = None
    # Epoch pin scope: the simhash ingest's eager probe checkpoint and
    # the cluster-resolution supersteps are consumed before this epoch's
    # writes return — release their blocks deterministically (see
    # iterate.pinned_scope).
    pins = push_pin_scope()
    try:
        # ONE decode pass, pinned (the foreachBatch re-read trap plus
        # the codec cost make this the most important pin in the loop).
        slim = decode_signals(batch, id_col, payload_col).persist()
        s1 = F.col("decoded")
        s2 = (
            s1
            & (F.col("brightness") >= min_brightness)
            & (F.col("brightness") <= max_brightness)
            & (F.col("contrast") >= min_contrast)
        )

        # ---- exact perceptual dedup: store probe (broadcast batch
        # hashes — the store only scans) + within-batch min-id keeper ----
        q = slim.filter(s2)
        exact_store = _read_store(spark, exact_store_path, batch_id)
        if exact_store is not None:
            batch_keys = q.select("simhash").distinct()
            collisions = (
                exact_store.select("simhash")
                .join(F.broadcast(batch_keys), "simhash", "left_semi")
                .distinct()
            )
            q_new = q.join(F.broadcast(collisions), "simhash", "left_anti")
        else:
            q_new = q
        # Pinned: referenced by the near input, the funnel aggregate,
        # and the exact-store write.
        exact_keep = (
            q_new.groupBy("simhash")
            .agg(F.min(_id).alias(id_col))
            .select(_id, F.lit(True).alias("_ex_keep"))
            .persist()
        )

        # ---- fuzzy perceptual near-dedup vs the near store ----
        surv3 = slim.join(exact_keep.select(id_col), id_col).select(
            id_col, "simhash"
        )
        near_store = _read_store(spark, near_store_path, batch_id)
        if near_store is None:
            near_store = simhash_chunk_keys(surv3.limit(0), id_col)
        near = incremental_simhash_ingest(
            surv3, near_store, id_col,
            max_distance=max_distance, max_bucket=max_bucket,
        ).select(_id, F.col("kept").alias("_nd_ok")).persist()

        # ---- stage booleans + the one conditional funnel aggregate ----
        v = slim.join(exact_keep, id_col, "left").join(near, id_col, "left")
        s_cols = [
            F.lit(True),
            s1,
            s2,
            s2 & F.coalesce("_ex_keep", F.lit(False)),
            s2
            & F.coalesce("_ex_keep", F.lit(False))
            & F.coalesce("_nd_ok", F.lit(False)),
        ]
        ck = salted_h32(_id, salt=f"{salt}ck")
        aggs = []
        for i in range(len(STAGES)):
            cond = s_cols[i]
            aggs += [
                F.sum(F.when(cond, 1).otherwise(0))
                .cast("long")
                .alias(f"_d{i}"),
                F.coalesce(F.sum(F.when(cond, F.col("n_bytes"))), F.lit(0))
                .cast("long")
                .alias(f"_b{i}"),
                F.coalesce(F.sum(F.when(cond, ck)), F.lit(0))
                .cast("long")
                .alias(f"_c{i}"),
            ]
        wide = v.agg(*aggs)
        rows = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("stage_idx"),
                        F.lit(name).alias("stage"),
                        F.col(f"_d{i}").alias("n_images"),
                        F.col(f"_b{i}").alias("n_bytes"),
                        F.col(f"_c{i}").alias("id_checksum"),
                    )
                    for i, name in enumerate(STAGES)
                ]
            )
        )
        funnel = wide.select(rows.alias("_r")).select("_r.*")

        # ---- exactly-once epoch writes ----
        write_epoch(funnel, funnel_path, batch_id)
        write_epoch(
            slim.join(exact_keep.select(id_col), id_col).select(
                id_col, "simhash"
            ),
            exact_store_path, batch_id,
        )
        near_surv = slim.join(
            near.filter(F.col("_nd_ok")).select(id_col), id_col
        ).select(id_col, "simhash")
        write_epoch(
            simhash_chunk_keys(near_surv, id_col), near_store_path, batch_id
        )
    finally:
        release_pin_scope(pins)
        if near is not None:
            near.unpersist()
        if exact_keep is not None:
            exact_keep.unpersist()
        if slim is not None:
            slim.unpersist()


def media_funnel_replay(
    batches: list[DataFrame],
    base_dir: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    compact_every: int | None = None,
    **params,
) -> DataFrame:
    """Deterministic sequential replay (the batch twin and backfill
    path): run ``batches[e]`` as epoch ``e`` through
    :func:`ingest_media_funnel_batch` under ``base_dir`` and return the
    per-epoch funnel ordered by (batch_id, stage_idx). With in-order
    replay, the streaming query emits exactly these rows
    (pytest-pinned)."""
    spark = batches[0].sparkSession
    exact_store = f"{base_dir}/exact_store"
    near_store = f"{base_dir}/near_store"
    funnel = f"{base_dir}/funnel"
    for e, b in enumerate(batches):
        if compaction_due(e, compact_every):
            compact_media_funnel_stores(spark, exact_store, near_store, e)
        ingest_media_funnel_batch(
            b, e, exact_store, near_store, funnel,
            id_col=id_col, payload_col=payload_col, **params,
        )
    return (
        spark.read.parquet(funnel)
        .select(
            F.col("batch_id").cast("long"),
            "stage_idx", "stage", "n_images", "n_bytes", "id_checksum",
        )
        .orderBy("batch_id", "stage_idx")
    )
