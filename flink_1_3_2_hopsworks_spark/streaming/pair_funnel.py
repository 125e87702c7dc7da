"""Streaming CROSS-MODAL PAIRED curation funnel — the (caption, image)
twin of streaming/funnel.py and streaming/media_funnel.py, completing the
crawl-loop family for paired multimodal feeds (text → funnel.py, binary
media → media_funnel.py, vectors → ann.py, PAIRS → this).

Each arriving micro-batch of (id, caption text, image payload) pairs
flows the JOINT survivorship chain of multimodal/pair_curation.py —
caption rules → image quality → caption exact dedup → image exact dedup
→ caption MinHash near-dedup → image simhash near-dedup — THROUGH four
persisted dedup stores, one per set-dependent stage, emitting per-epoch
auditable funnel rows whose checksums bind the PAIR (id + caption
fingerprint + image aHash). A pair drops if EITHER side fails; every
stage's candidate set is the previous stage's PAIR survivors, so drops
propagate across modalities epoch by epoch (the caption-dup pair's image
never enters the image stores).

Stage semantics per epoch N:

1. ``input``              — every pair in the micro-batch.
2. ``caption_rules``      — C4 whole-document caption rules (stateless).
3. ``image_quality``      — decode + brightness/contrast bounds
                            (stateless).
4. ``caption_exact_dedup``— drop pairs whose caption fingerprint is in
                            the FP STORE (this stage's survivors of
                            epochs < N), then min-id keeper per fp within
                            the batch; survivors append.
5. ``image_exact_dedup``  — same against the IMAGE EXACT STORE (aHash).
6. ``caption_near_dedup`` — incremental_near_ingest vs the SIGNATURE
                            STORE (+ posting-key sidecar); survivor
                            signatures append (ONE shingle+hash pass per
                            epoch, r11 contract).
7. ``image_near_dedup``   — incremental_simhash_ingest vs the CHUNK
                            STORE (r11 chunk-posting layout); survivor
                            chunk rows append.

State & scale contract (inherited from the sibling loops, r11 layouts
throughout): ZERO Spark streaming state — the four epoch-partitioned
stores ARE the state, shared with batch backfills; per epoch every
store is only SCANNED, against broadcast batch keys; shuffle volume is
O(|micro-batch|); exactly-once via per-epoch overwrite partitions with
own-epoch reads excluded, so crash replay is idempotent (pytest-pinned).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.streaming import StreamingQuery

from flink_1_3_2_hopsworks_spark.dedup.incremental import (
    incremental_near_ingest,
    minhash_signature_store,
)
from flink_1_3_2_hopsworks_spark.dedup.simhash import (
    incremental_simhash_ingest,
    simhash_chunk_keys,
)
from flink_1_3_2_hopsworks_spark.functions.text import fingerprint, token_count
from flink_1_3_2_hopsworks_spark.multimodal.curation import decode_signals
from flink_1_3_2_hopsworks_spark.multimodal.pair_curation import (
    _caption_rules,
)
from flink_1_3_2_hopsworks_spark.operators.sampling import salted_h32
from flink_1_3_2_hopsworks_spark.streaming.neardup import (
    _read_keys_store,
    _read_store,
    _write_store_epoch,
    compact_signature_store,
)
from flink_1_3_2_hopsworks_spark.streaming.stores import (
    compact_store,
    compaction_due,
    write_epoch,
)

STAGES = (
    "input",
    "caption_rules",
    "image_quality",
    "caption_exact_dedup",
    "image_exact_dedup",
    "caption_near_dedup",
    "image_near_dedup",
)


def compact_pair_funnel_stores(
    spark,
    base_dir: str,
    before_batch_id: int,
    bands: int = 8,
) -> dict:
    """OFFLINE compaction of the pair funnel's FOUR dedup stores under
    ``base_dir``: the caption fingerprint store (``_fp``), the image
    exact store (``simhash``), the caption MinHash signature store +
    posting-key sidecar (compact_signature_store), and the image
    chunk-posting near store (``(ci, cv)``) — each collapsing its
    epochs ``batch_id < before_batch_id`` into one ``batch_id=-1`` base
    (stores.compact_store — see its watermark contract). The per-epoch
    funnel OUTPUT under
    ``base_dir/funnel`` is never compacted — its epoch attribution IS
    the result. Run between epochs with ``before_batch_id`` at or
    below the committed watermark. Returns per-store stats keyed
    ``fp / img_exact / sig / img_near``."""
    return {
        "fp": compact_store(spark, f"{base_dir}/fp_store", before_batch_id),
        "img_exact": compact_store(
            spark, f"{base_dir}/img_exact_store", before_batch_id
        ),
        "sig": compact_signature_store(
            spark, f"{base_dir}/sig_store", before_batch_id, bands=bands
        ),
        "img_near": compact_store(
            spark, f"{base_dir}/img_near_store", before_batch_id
        ),
    }


def pair_funnel_stream(
    stream: DataFrame,
    base_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    payload_col: str = "payload",
    rules: Column | None = None,
    compact_every: int | None = None,
    **params,
) -> StreamingQuery:
    """Start the continuous paired-curation funnel over ``stream`` (a
    streaming DataFrame carrying ``id_col``, ``text_col`` and a binary
    ``payload_col``). Stores and funnel rows live under ``base_dir``
    (``fp_store``, ``img_exact_store``, ``sig_store`` (+``_keys``),
    ``img_near_store``, ``funnel``)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        if compaction_due(batch_id, compact_every):
            compact_pair_funnel_stores(
                batch.sparkSession, base_dir, batch_id,
                bands=params.get("bands", 8),
            )
        ingest_pair_funnel_batch(
            batch, batch_id, base_dir,
            id_col=id_col, text_col=text_col, payload_col=payload_col,
            rules=rules, **params,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ingest_pair_funnel_batch(
    batch: DataFrame,
    batch_id: int,
    base_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    payload_col: str = "payload",
    rules: Column | None = None,
    min_brightness: float = 105.0,
    max_brightness: float = 137.0,
    min_contrast: float = 40.0,
    threshold: float = 0.8,
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    max_distance: int = 3,
    max_bucket: int = 1000,
    portable: bool = True,
    salt: str = "pairfun11",
) -> None:
    """One epoch of the streaming paired funnel (the foreachBatch body,
    exposed so sequential-replay equivalence and crash-replay idempotency
    are directly testable). Idempotent per ``batch_id``: every store read
    excludes this epoch's own (possibly uncommitted) appends, and all
    five writes overwrite their own partition. ONE text pass + ONE decode
    pass build the pinned slim pair frame; the near stage's ONE
    shingle+hash pass serves probe, star, and append."""
    spark = batch.sparkSession
    _id = F.col(id_col)
    fp_store = f"{base_dir}/fp_store"
    img_exact_store = f"{base_dir}/img_exact_store"
    sig_store = f"{base_dir}/sig_store"
    img_near_store = f"{base_dir}/img_near_store"
    funnel_path = f"{base_dir}/funnel"

    from flink_1_3_2_hopsworks_spark.operators.iterate import (
        push_pin_scope,
        release_pin_scope,
    )

    batch = batch.persist()
    slim = None
    cap_keep = None
    img_keep = None
    sig2 = None
    cnear = None
    inear = None
    # Epoch pin scope: both ingests' eager probe checkpoints and the
    # cluster-resolution supersteps are consumed before this epoch's
    # writes return — release their blocks deterministically (see
    # iterate.pinned_scope).
    pins = push_pin_scope()
    try:
        rule_ok = rules if rules is not None else _caption_rules(text_col)
        slim = (
            batch.select(
                _id,
                token_count(F.coalesce(F.col(text_col), F.lit("")))
                .cast("long")
                .alias("_ntok"),
                fingerprint(text_col).alias("_fp"),
                rule_ok.alias("_c4"),
            )
            .join(decode_signals(batch, id_col, payload_col), id_col)
            .persist()
        )
        s1 = F.col("_c4")
        s2 = (
            s1
            & F.col("decoded")
            & (F.col("brightness") >= min_brightness)
            & (F.col("brightness") <= max_brightness)
            & (F.col("contrast") >= min_contrast)
        )

        # ---- caption exact dedup vs the fp store ----
        p2 = slim.filter(s2)
        fstore = _read_store(spark, fp_store, batch_id)
        if fstore is not None:
            fkeys = p2.select("_fp").distinct()
            fcoll = (
                fstore.select("_fp")
                .join(F.broadcast(fkeys), "_fp", "left_semi")
                .distinct()
            )
            p2_new = p2.join(F.broadcast(fcoll), "_fp", "left_anti")
        else:
            p2_new = p2
        cap_keep = (
            p2_new.groupBy("_fp")
            .agg(F.min(_id).alias(id_col))
            .select(_id, F.lit(True).alias("_ce"))
            .persist()
        )

        # ---- image exact dedup vs the aHash store, among the JOINT
        # caption-exact survivors ----
        p3 = slim.join(cap_keep.select(id_col), id_col)
        istore = _read_store(spark, img_exact_store, batch_id)
        if istore is not None:
            ikeys = p3.select("simhash").distinct()
            icoll = (
                istore.select("simhash")
                .join(F.broadcast(ikeys), "simhash", "left_semi")
                .distinct()
            )
            p3_new = p3.join(F.broadcast(icoll), "simhash", "left_anti")
        else:
            p3_new = p3
        img_keep = (
            p3_new.groupBy("simhash")
            .agg(F.min(_id).alias(id_col))
            .select(_id, F.lit(True).alias("_ie"))
            .persist()
        )

        # ---- caption near-dedup vs the signature store (+ keys) ----
        p4 = batch.join(img_keep.select(id_col), id_col)
        sstore = _read_store(spark, sig_store, batch_id)
        skeys = _read_keys_store(spark, sstore, sig_store, batch_id)
        if sstore is None:
            sstore = minhash_signature_store(
                batch.limit(0), id_col, text_col,
                shingle_k=shingle_k, num_hashes=num_hashes,
                portable=portable,
            )
        sig2 = minhash_signature_store(
            p4, id_col, text_col,
            shingle_k=shingle_k, num_hashes=num_hashes, portable=portable,
        ).persist()
        cnear = incremental_near_ingest(
            p4, sstore, id_col, text_col,
            threshold=threshold, shingle_k=shingle_k,
            num_hashes=num_hashes, bands=bands, max_bucket=max_bucket,
            portable=portable, batch_signatures=sig2, corpus_keys=skeys,
        ).select(_id, F.col("kept").alias("_cn")).persist()

        # ---- image near-dedup vs the chunk store, among the JOINT
        # caption-near survivors (pinned aHashes — no second decode) ----
        p5 = slim.join(
            cnear.filter(F.col("_cn")).select(id_col), id_col
        ).select(id_col, "simhash")
        nstore = _read_store(spark, img_near_store, batch_id)
        if nstore is None:
            nstore = simhash_chunk_keys(p5.limit(0), id_col)
        inear = incremental_simhash_ingest(
            p5, nstore, id_col,
            max_distance=max_distance, max_bucket=max_bucket,
        ).select(_id, F.col("kept").alias("_in")).persist()

        # ---- stage booleans + ONE conditional funnel aggregate ----
        v = (
            slim.join(cap_keep, id_col, "left")
            .join(img_keep, id_col, "left")
            .join(cnear, id_col, "left")
            .join(inear, id_col, "left")
        )
        flags = [
            F.lit(True),
            s1,
            s2,
            s2 & F.coalesce("_ce", F.lit(False)),
            s2 & F.coalesce("_ce", F.lit(False))
            & F.coalesce("_ie", F.lit(False)),
        ]
        flags.append(flags[4] & F.coalesce("_cn", F.lit(False)))
        flags.append(flags[5] & F.coalesce("_in", F.lit(False)))
        ck = salted_h32(
            _id, F.col("_fp"), F.col("simhash"), salt=f"{salt}ck"
        )
        aggs = []
        for i in range(len(STAGES)):
            cond = flags[i]
            aggs += [
                F.sum(F.when(cond, 1).otherwise(0))
                .cast("long")
                .alias(f"_d{i}"),
                F.coalesce(F.sum(F.when(cond, F.col("_ntok"))), F.lit(0))
                .cast("long")
                .alias(f"_t{i}"),
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
                        F.col(f"_d{i}").alias("n_pairs"),
                        F.col(f"_t{i}").alias("n_tokens"),
                        F.col(f"_b{i}").alias("n_bytes"),
                        F.col(f"_c{i}").alias("pair_checksum"),
                    )
                    for i, name in enumerate(STAGES)
                ]
            )
        )
        funnel = wide.select(rows.alias("_r")).select("_r.*")

        # ---- exactly-once epoch writes (each overwrites its partition):
        # funnel rows + each set-dependent stage's survivors to its own
        # store ----
        write_epoch(funnel, funnel_path, batch_id)
        write_epoch(
            slim.join(cap_keep.select(id_col), id_col).select(_id, "_fp"),
            fp_store, batch_id,
        )
        write_epoch(
            slim.join(img_keep.select(id_col), id_col).select(
                _id, "simhash"
            ),
            img_exact_store, batch_id,
        )
        _write_store_epoch(
            sig2.join(
                cnear.filter(F.col("_cn")).select(id_col), id_col,
                "left_semi",
            ),
            batch_id, sig_store, id_col,
            shingle_k=shingle_k, num_hashes=num_hashes, bands=bands,
            portable=portable,
        )
        inear_surv = p5.join(
            inear.filter(F.col("_in")).select(id_col), id_col, "left_semi"
        )
        write_epoch(
            simhash_chunk_keys(inear_surv, id_col), img_near_store, batch_id
        )
    finally:
        release_pin_scope(pins)
        for frame in (inear, cnear, sig2, img_keep, cap_keep, slim):
            if frame is not None:
                frame.unpersist()
        batch.unpersist()


def pair_funnel_replay(
    batches: list[DataFrame],
    base_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    payload_col: str = "payload",
    compact_every: int | None = None,
    **params,
) -> DataFrame:
    """Deterministic sequential replay (the batch twin and backfill
    path): run ``batches[e]`` as epoch ``e`` through
    :func:`ingest_pair_funnel_batch` under ``base_dir`` and return the
    per-epoch funnel ordered by (batch_id, stage_idx). With in-order
    replay, the streaming query emits exactly these rows
    (pytest-pinned)."""
    spark = batches[0].sparkSession
    for e, b in enumerate(batches):
        if compaction_due(e, compact_every):
            compact_pair_funnel_stores(
                spark, base_dir, e, bands=params.get("bands", 8)
            )
        ingest_pair_funnel_batch(
            b, e, base_dir,
            id_col=id_col, text_col=text_col, payload_col=payload_col,
            **params,
        )
    return (
        spark.read.parquet(f"{base_dir}/funnel")
        .select(
            F.col("batch_id").cast("long"),
            "stage_idx", "stage", "n_pairs", "n_tokens", "n_bytes",
            "pair_checksum",
        )
        .orderBy("batch_id", "stage_idx")
    )
