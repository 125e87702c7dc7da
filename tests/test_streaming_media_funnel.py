"""Streaming multimodal ingest funnel (streaming/media_funnel.py):
decode → quality rules → exact perceptual dedup → incremental simhash
near-dedup over the two fingerprint stores — stream-equals-sequential-
replay, crash-replay idempotency, and seed-store visibility."""

from __future__ import annotations

import glob
import os
import shutil

import pyspark.sql.functions as F

# ids → deterministic 32×32 BMPs (multimodal/synth.py): pattern k = id%16,
# variant v = (id//16)%3 — v1 collides with v0 at aHash Hamming 0 (exact
# perceptual dup), some v2 local edits land within Hamming 3 (near dups).
BATCHES = [list(range(0, 50)), list(range(50, 100)), list(range(100, 150))]


def _frames(spark):
    from flink_1_3_2_hopsworks_spark.multimodal.synth import image_twin

    return [
        image_twin(
            spark.createDataFrame([(i,) for i in ids], "doc_id long"),
            "doc_id",
        )
        for ids in BATCHES
    ]


def _stage_files(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    frames = _frames(spark)
    for i, fr in enumerate(frames):
        staging = str(tmp_path / f"stage{i}")
        fr.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(f"{staging}/part-*.parquet")[0]
        dest = str(src / f"b{i}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return str(src)


def _rows(spark, funnel_path):
    return {
        (r["batch_id"], r["stage"]): (
            r["n_images"], r["n_bytes"], r["id_checksum"]
        )
        for r in spark.read.parquet(funnel_path).collect()
    }


def test_media_funnel_stream_matches_sequential_replay(spark, tmp_path):
    from flink_1_3_2_hopsworks_spark.streaming.media_funnel import (
        media_funnel_stream,
        media_funnel_replay,
    )

    src = _stage_files(spark, tmp_path)
    stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = media_funnel_stream(
        stream,
        exact_store_path=str(tmp_path / "exact_store"),
        near_store_path=str(tmp_path / "near_store"),
        funnel_path=str(tmp_path / "funnel"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    q.stop()
    streamed = _rows(spark, str(tmp_path / "funnel"))
    assert len(streamed) == 15  # 3 epochs x 5 stages

    replay_dir = tmp_path / "replay"
    replay_dir.mkdir()
    replayed = media_funnel_replay(_frames(spark), str(replay_dir))
    got = {
        (r["batch_id"], r["stage"]): (
            r["n_images"], r["n_bytes"], r["id_checksum"]
        )
        for r in replayed.collect()
    }
    assert got == streamed

    # The funnel is monotone within each epoch, and later epochs' exact
    # stage drops the earlier epochs' perceptual duplicates (ids 48..149
    # repeat (pattern, variant) images of ids 0..47).
    for e in range(3):
        counts = [streamed[(e, s)][0] for s in (
            "input", "decoded", "quality_rules",
            "exact_perceptual_dedup", "near_dup",
        )]
        assert counts == sorted(counts, reverse=True)
    assert streamed[(1, "exact_perceptual_dedup")][0] < streamed[
        (1, "quality_rules")
    ][0]


def test_media_funnel_crash_replay_is_idempotent(spark, tmp_path):
    from flink_1_3_2_hopsworks_spark.streaming.media_funnel import (
        ingest_media_funnel_batch,
    )

    exact_store = str(tmp_path / "exact_store")
    near_store = str(tmp_path / "near_store")
    funnel = str(tmp_path / "funnel")
    frames = _frames(spark)
    for i, b in enumerate(frames):
        ingest_media_funnel_batch(b, i, exact_store, near_store, funnel)

    def snapshot():
        return (
            _rows(spark, funnel),
            sorted(r["doc_id"] for r in spark.read.parquet(exact_store).collect()),
            sorted(r["doc_id"] for r in spark.read.parquet(near_store).collect()),
        )

    before = snapshot()
    # Stores hold each stage's own survivors; near ⊆ exact per epoch.
    assert set(before[2]) <= set(before[1])
    ingest_media_funnel_batch(frames[2], 2, exact_store, near_store, funnel)
    assert snapshot() == before


def test_media_funnel_seeded_stores_visible(spark, tmp_path):
    """Seeding with an existing media corpus dedups epoch 0 against it:
    exact perceptual dups of seed images drop at the exact stage."""
    from flink_1_3_2_hopsworks_spark.multimodal.synth import image_twin
    from flink_1_3_2_hopsworks_spark.streaming.media_funnel import (
        ingest_media_funnel_batch,
        seed_media_funnel_state,
    )

    exact_store = str(tmp_path / "exact_store")
    near_store = str(tmp_path / "near_store")
    funnel = str(tmp_path / "funnel")
    ids = spark.createDataFrame([(i,) for i in range(48)], "doc_id long")
    seed_media_funnel_state(image_twin(ids, "doc_id"), exact_store, near_store)

    # Epoch 0 repeats seed imagery (ids 48.. map to the same 48 classes).
    batch = image_twin(
        spark.createDataFrame([(i,) for i in range(48, 98)], "doc_id long"),
        "doc_id",
    )
    ingest_media_funnel_batch(batch, 0, exact_store, near_store, funnel)
    rows = _rows(spark, funnel)
    n = {k[1]: v[0] for k, v in rows.items()}
    # Every batch image's (pattern, variant) class is already in the
    # seed, so NOTHING survives the exact perceptual stage.
    assert n["input"] == 50
    assert n["exact_perceptual_dedup"] == 0
    assert n["near_dup"] == 0


def test_chunk_posting_store_matches_plain(spark, tmp_path):
    """Chunk-posting layout: verdicts through the (ci, cv)-exploded
    near store are IDENTICAL to the plain fingerprint-table scan,
    including the Hamming-0 equality arm (an equal stored hash is found
    through its chunk-0 row), and the store is plain epoch files whose
    columns are exactly the written frame's."""
    from flink_1_3_2_hopsworks_spark.dedup.simhash import (
        incremental_simhash_ingest,
        simhash_chunk_keys,
    )
    from flink_1_3_2_hopsworks_spark.streaming.stores import write_epoch

    store_plain = spark.createDataFrame(
        [(1000 + i, (i * 2654435761) % (1 << 63)) for i in range(300)]
        + [(2000, 0)],
        "doc_id long, simhash long",
    )
    path = str(tmp_path / "near_store")
    posted = simhash_chunk_keys(store_plain, "doc_id")
    write_epoch(posted, path, -1)
    store_posted = spark.read.parquet(path)
    assert store_posted.columns == posted.columns + ["batch_id"]

    batch = spark.createDataFrame(
        [(1, 0), (2, 1), (3, (123 * 2654435761) % (1 << 63)),
         (4, 987654321987)],
        "doc_id long, simhash long",
    )
    v_plain = incremental_simhash_ingest(batch, store_plain, "doc_id")
    v_keys = incremental_simhash_ingest(batch, store_posted, "doc_id")
    assert sorted(map(tuple, v_plain.collect())) == sorted(
        map(tuple, v_keys.collect())
    )
    got = {r["doc_id"]: r["reason"] for r in v_keys.collect()}
    # 1 = exact dup of stored 0; 2 = Hamming 1 of it; 3 = exact dup of a
    # stored hash; 4 = novel
    assert got == {
        1: "corpus_near_dup", 2: "corpus_near_dup",
        3: "corpus_near_dup", 4: "kept",
    }

    # plain epoch files, no inner partition directories
    assert not glob.glob(f"{path}/*/*=*")
    files = glob.glob(f"{path}/batch_id=-1/*.parquet")
    n_tasks = posted.rdd.getNumPartitions()
    assert 1 <= len(files) <= n_tasks, (len(files), n_tasks)
