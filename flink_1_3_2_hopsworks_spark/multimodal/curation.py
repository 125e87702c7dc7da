"""Multimodal (image) curation funnel — the binary-column twin of
curation.py's text funnel.

A 100 TB image corpus runs the same published pipeline shape as text:
decode-validate → quality rules → exact near-dup collapse → fuzzy
near-dup clustering → shuffle-shard. Every stage here is an existing,
individually-tested library piece (the pure-numpy BMP codec, aHash
fingerprints, the simhash star machinery, the portable salted draw); this
module adds only composition, mirroring curation.py: per-image signals
from ONE Arrow kernel pass pinned as a slim frame, set-dependent stages
derived from the pin, and one conditional aggregate producing the
auditable funnel.

Scale contract:
- ONE decode pass. The kernel maps payload bytes → (decoded, brightness,
  contrast, aHash, n_bytes); payloads never shuffle, never leave the
  scan, and are never decoded twice (the slim frame is pinned — without
  the pin every downstream consumer re-runs the codec, the same measured
  trap as BM25's postings).
- Exact perceptual dedup is a hash-aggregate on the 64-bit fingerprint;
  the fuzzy stage is the star geometry (Θ(images × 4 chunks), never
  all-pairs), both restricted to the prior stage's survivors.
- The funnel is one conditional aggregate over the pinned frame: stage
  counters share every scan and shuffle.
"""

from __future__ import annotations

from typing import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

STAGES = (
    "input",
    "decoded",
    "quality_rules",
    "exact_perceptual_dedup",
    "near_dup_star",
    "shuffle_shard",
)


def decode_signals(
    media: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """The funnel's ONE decode pass as a reusable frame:
    ``(id, decoded, brightness, contrast, simhash, n_bytes)`` from one
    Arrow kernel over the binary payloads — payloads never shuffle,
    never leave the scan. ``simhash`` is the exact signed 64-bit
    ``codecs.ahash64`` of the decoded pixels, or NULL (like brightness
    and contrast) for an undecodable payload, whatever else shares its
    Arrow batch. Shared by the batch funnel
    (:func:`image_curation_verdicts`) and the streaming ingest funnel
    (streaming/media_funnel.py). NOT pinned here — each caller owns its
    pin (materialize for the lazy batch plan, persist/unpersist per
    epoch in foreachBatch)."""
    id_type = dict(media.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, decoded boolean, brightness double, "
        "contrast double, simhash long, n_bytes long"
    )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        from flink_1_3_2_hopsworks_spark.multimodal.binary_ops import (
            decode_image,
        )
        from flink_1_3_2_hopsworks_spark.multimodal.codecs import (
            ahash64,
            image_quality_stats,
        )

        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for p in pdf[payload_col]:
                try:
                    pixels = decode_image(bytes(p))
                    mean, std = image_quality_stats(pixels)
                    rows.append((True, mean, std, ahash64(pixels), len(p)))
                except Exception:  # noqa: BLE001 — corrupt payload verdict
                    rows.append((False, None, None, None, len(p or b"")))
            out = pd.DataFrame(
                rows,
                columns=["decoded", "brightness", "contrast", "simhash",
                         "n_bytes"],
            )
            # A None among the fingerprints makes the inferred column
            # float64, rounding every aHash in the batch to 53 bits.
            out["simhash"] = pd.array([r[3] for r in rows], dtype="Int64")
            out.insert(0, id_col, pdf[id_col].values)
            yield out

    return media.select(id_col, payload_col).mapInPandas(kernel, schema)


def image_curation_verdicts(
    media: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    min_brightness: float = 105.0,
    max_brightness: float = 137.0,
    min_contrast: float = 40.0,
    max_distance: int = 3,
    n_shards: int = 8,
    salt: str = "mmcur9",
) -> DataFrame:
    """Per-image curation verdicts: one row per image with cumulative
    stage-survival booleans ``s0``..``s5``, the slim signals behind them
    (brightness/contrast/fingerprint/bytes), and the final ``shard``.

    Quality rules are the image analogue of C4/Gopher: drop undecodable
    payloads, under/over-exposed images (mean brightness outside
    [min_brightness, max_brightness]) and near-flat images (contrast
    below ``min_contrast``). Exact perceptual dedup collapses aHash
    collisions (brightness-shifted re-encodes land at Hamming 0 by
    construction); the star stage clusters locally-edited copies within
    ``max_distance`` bits.
    """
    from flink_1_3_2_hopsworks_spark.dedup.neardup import (
        resolve_duplicate_clusters,
    )
    from flink_1_3_2_hopsworks_spark.dedup.simhash import simhash_star_edges
    from flink_1_3_2_hopsworks_spark.operators.iterate import materialize
    from flink_1_3_2_hopsworks_spark.operators.sampling import salted_h32

    # ONE decode pass, pinned slim (ids + numbers only — never payloads).
    d = materialize(decode_signals(media, id_col, payload_col))
    _id = F.col(id_col)

    s1 = F.col("decoded")
    s2 = (
        s1
        & (F.col("brightness") >= min_brightness)
        & (F.col("brightness") <= max_brightness)
        & (F.col("contrast") >= min_contrast)
    )

    # Exact perceptual dedup: min id per fingerprint among s2 survivors.
    keepers = (
        d.filter(s2)
        .groupBy("simhash")
        .agg(F.min(_id).alias("_keep_id"))
        .select(F.col("_keep_id").alias(id_col), F.lit(True).alias("_ex_ok"))
    )
    d2 = d.join(keepers, id_col, "left")
    s3 = s2 & F.coalesce("_ex_ok", F.lit(False))

    # Fuzzy near-dup star over the exact survivors (anchors must be
    # survivors, so the fingerprint frame is the survivor-filtered pin).
    # Pinned: the star machinery + cluster resolution reference it ~4
    # times, each of which would otherwise replay the keepers shuffle.
    fps3 = materialize(d2.filter(s3).select(id_col, "simhash"))
    edges = simhash_star_edges(
        fps3, id_col, "simhash", max_distance=max_distance,
        fingerprints=fps3,
    )
    nd = resolve_duplicate_clusters(fps3, edges, id_col).select(
        id_col, F.col("kept").alias("_nd_ok")
    )
    d3 = d2.join(nd, id_col, "left")
    s4 = s3 & F.coalesce("_nd_ok", F.lit(True))

    shard = (salted_h32(_id, salt=f"{salt}sh") % n_shards).cast("int")
    return d3.select(
        _id,
        "brightness",
        "contrast",
        "simhash",
        "n_bytes",
        F.lit(True).alias("s0"),
        s1.alias("s1"),
        s2.alias("s2"),
        s3.alias("s3"),
        s4.alias("s4"),
        s4.alias("s5"),
        F.when(s4, shard).alias("shard"),
    )


def image_curation_funnel(
    media: DataFrame,
    id_col: str = "doc_id",
    salt: str = "mmcur9",
    **kwargs,
) -> DataFrame:
    """The auditable image-curation funnel: one row per stage with the
    surviving image count, surviving byte total, and the
    order-independent survivor-set checksum (sum of portable salted
    32-bit id hashes; the shard row's checksum binds (id, shard)).
    Output: ``(stage_idx, stage, n_images, n_bytes, id_checksum)``."""
    from flink_1_3_2_hopsworks_spark.operators.sampling import salted_h32

    v = image_curation_verdicts(media, id_col=id_col, salt=salt, **kwargs)
    _id = F.col(id_col)
    ck = salted_h32(_id, salt=f"{salt}ck")
    ck_shard = salted_h32(_id, F.col("shard"), salt=f"{salt}ck")
    aggs = []
    for i, name in enumerate(STAGES):
        cond = F.col(f"s{i}")
        check = ck_shard if name == "shuffle_shard" else ck
        aggs += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"_d{i}"),
            F.coalesce(F.sum(F.when(cond, F.col("n_bytes"))), F.lit(0))
            .cast("long")
            .alias(f"_b{i}"),
            F.coalesce(F.sum(F.when(cond, check)), F.lit(0))
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
    return wide.select(rows.alias("_r")).select("_r.*").orderBy("stage_idx")
