"""Streaming paired-curation funnel (streaming/pair_funnel.py): the
foreachBatch loop over FOUR dedup stores — stream matches
sequential replay, joint cross-modal drops per epoch, per-stage store
contents, and crash-replay idempotency."""

from __future__ import annotations

import glob
import os
import shutil

from flink_1_3_2_hopsworks_spark.multimodal.synth import synth_image

T_BASE = (
    "the archive crawler fetched this page on a tuesday and the content "
    "describes migratory birds crossing the northern flyway in autumn"
)
T_NEAR = T_BASE + " indeed"
T_A = "completely unrelated corpus text about combustion engines and oil"
T_B = "a standalone document about tide pools and coastal erosion patterns"
T_C = "market gardeners rotate brassica crops to confuse soil pathogens"
T_D = "volcanic soils drain quickly yet hold surprising mineral wealth"
T_BAD = "lorem ipsum dolor sit amet the classic boilerplate filler"


def _img(k: int, v: int) -> bytes:
    from flink_1_3_2_hopsworks_spark.multimodal.codecs import encode_bmp

    return encode_bmp(synth_image(k, v))


# epoch 0: 1 clean; 2 caption rule drop; 3 clean (image (2,0))
# epoch 1: 11 cross-epoch caption exact dup of 1; 12 cross-epoch image
#          exact dup of 3; 13 clean
# epoch 2: 21 cross-epoch caption NEAR dup of 1; 22 cross-epoch image
#          NEAR dup of 13's (4,0) via (4,2) at Hamming 3; 23 clean
BATCHES = [
    [(1, T_BASE, _img(1, 0)), (2, T_BAD, _img(3, 0)),
     (3, T_A, _img(2, 0))],
    [(11, T_BASE, _img(5, 0)), (12, T_B, _img(2, 0)),
     (13, T_C, _img(4, 0))],
    [(21, T_NEAR, _img(7, 0)), (22, T_D, _img(4, 2)),
     (23, "quiet harbours shelter small boats from the winter storms",
      _img(3, 0))],
]

# (batch_id, stage) -> surviving pair count; pins the cross-epoch,
# cross-MODAL store semantics stage by stage. NOTE: 23's image (3, 0)
# never entered any store (its epoch-0 carrier pair 2 died at caption
# rules), so the clean pair survives end to end.
EXPECTED_N_PAIRS = {
    (0, "input"): 3, (0, "caption_rules"): 2, (0, "image_quality"): 2,
    (0, "caption_exact_dedup"): 2, (0, "image_exact_dedup"): 2,
    (0, "caption_near_dedup"): 2, (0, "image_near_dedup"): 2,
    (1, "input"): 3, (1, "caption_rules"): 3, (1, "image_quality"): 3,
    (1, "caption_exact_dedup"): 2, (1, "image_exact_dedup"): 1,
    (1, "caption_near_dedup"): 1, (1, "image_near_dedup"): 1,
    (2, "input"): 3, (2, "caption_rules"): 3, (2, "image_quality"): 3,
    (2, "caption_exact_dedup"): 3, (2, "image_exact_dedup"): 3,
    (2, "caption_near_dedup"): 2, (2, "image_near_dedup"): 1,
}

SCHEMA = "doc_id long, text string, payload binary"


def _frames(spark):
    return [spark.createDataFrame(rows, SCHEMA) for rows in BATCHES]


def _rows(spark, funnel):
    return sorted(
        (
            (r["batch_id"], r["stage_idx"], r["stage"], r["n_pairs"],
             r["n_tokens"], r["n_bytes"], r["pair_checksum"])
            for r in spark.read.parquet(funnel).collect()
        )
    )


def test_pair_funnel_replay_counts_and_store_contents(spark, tmp_path):
    from flink_1_3_2_hopsworks_spark.streaming.pair_funnel import (
        pair_funnel_replay,
    )

    base = str(tmp_path / "pair")
    out = pair_funnel_replay(_frames(spark), base)
    got = {
        (r["batch_id"], r["stage"]): r["n_pairs"] for r in out.collect()
    }
    assert got == EXPECTED_N_PAIRS

    # Each store holds exactly its stage's survivors across epochs.
    fp_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{base}/fp_store").collect()
    )
    assert fp_ids == [1, 3, 12, 13, 21, 22, 23]  # caption-exact survivors
    img_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{base}/img_exact_store").collect()
    )
    assert img_ids == [1, 3, 13, 21, 22, 23]  # + image-exact drop of 12
    sig_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{base}/sig_store").collect()
    )
    assert sig_ids == [1, 3, 13, 22, 23]  # + caption-near drop of 21
    near_ids = sorted(
        set(
            r["doc_id"]
            for r in spark.read.parquet(f"{base}/img_near_store").collect()
        )
    )
    assert near_ids == [1, 3, 13, 23]  # + image-near drop of 22

    # The layouts actually on disk: plain epoch files whose columns are
    # exactly the written frames', plus the keys sidecar.
    from flink_1_3_2_hopsworks_spark.dedup.incremental import (
        _KEYS_STAMP_PREFIX,
    )

    columns = {
        "fp_store": ["doc_id", "_fp"],
        "img_exact_store": ["doc_id", "simhash"],
        "sig_store_keys": ["doc_id", "_band", "_bucket"],
        "img_near_store": ["doc_id", "simhash", "ci", "cv"],
    }
    for store, cols in columns.items():
        assert glob.glob(f"{base}/{store}/batch_id=0/*.parquet")
        assert not glob.glob(f"{base}/{store}/*/*=*")
        got_cols = spark.read.parquet(f"{base}/{store}").columns
        if store == "sig_store_keys":
            stamp = got_cols.pop(3)
            assert stamp.startswith(_KEYS_STAMP_PREFIX), stamp
        assert got_cols == cols + ["batch_id"], (store, got_cols)


def test_pair_funnel_stream_matches_sequential_replay(spark, tmp_path):
    from flink_1_3_2_hopsworks_spark.streaming.pair_funnel import (
        pair_funnel_replay,
        pair_funnel_stream,
    )

    # stage one parquet FILE per batch, mtimes ordered
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(BATCHES):
        staging = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = glob.glob(f"{staging}/part-*.parquet")[0]
        dest = str(src / f"b{i}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = pair_funnel_stream(
        stream, str(tmp_path / "stream"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(600)
    q.stop()

    replay_base = str(tmp_path / "replay")
    pair_funnel_replay(_frames(spark), replay_base)
    assert _rows(spark, f"{tmp_path}/stream/funnel") == _rows(
        spark, f"{replay_base}/funnel"
    )


def test_pair_funnel_crash_replay_is_idempotent(spark, tmp_path):
    from flink_1_3_2_hopsworks_spark.streaming.pair_funnel import (
        ingest_pair_funnel_batch,
    )

    base = str(tmp_path / "pair")
    frames = _frames(spark)
    for i, b in enumerate(frames):
        ingest_pair_funnel_batch(b, i, base)

    def snapshot():
        stores = [
            "fp_store", "img_exact_store", "sig_store", "img_near_store",
        ]
        return (
            _rows(spark, f"{base}/funnel"),
            [
                sorted(
                    r["doc_id"]
                    for r in spark.read.parquet(f"{base}/{s}").collect()
                )
                for s in stores
            ],
        )

    before = snapshot()
    # crash-after-append replay of the last epoch: all five writes
    # overwrite their own partitions, every read excludes batch_id=2
    ingest_pair_funnel_batch(frames[2], 2, base)
    assert snapshot() == before
