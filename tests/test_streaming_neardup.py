"""Streaming near-dedup ingestion (streaming/neardup.py): the foreachBatch
loop over the MinHash signature store — per-batch verdicts, store growth,
cross-batch dedup, exactly-once restart, and batch-path equivalence."""

from __future__ import annotations

import glob
import os
import shutil

import pyspark.sql.functions as F

BASE = "the quick brown fox jumps over the lazy dog again and again"
FRESH = "fresh unseen content one two three four five six"
NOVEL = "a lone novel document unlike anything else at all"
OTHER = "completely unrelated corpus text about engines"

BATCHES = [
    [(1, BASE), (2, BASE), (3, OTHER)],
    [(11, BASE), (12, FRESH), (13, FRESH)],
    [(21, FRESH), (22, NOVEL)],
]

EXPECTED = {
    1: (True, "kept"),
    2: (False, "batch_near_dup"),
    3: (True, "kept"),
    11: (False, "corpus_near_dup"),
    12: (True, "kept"),
    13: (False, "batch_near_dup"),
    21: (False, "corpus_near_dup"),  # dup of batch-2 survivor: store GREW
    22: (True, "kept"),
}


def _stage_files(spark, tmp_path):
    """One parquet FILE per batch in the source dir, mtimes increasing so
    maxFilesPerTrigger=1 replays them as three ordered micro-batches."""
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(BATCHES):
        staging = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(staging)
        part = glob.glob(f"{staging}/part-*.parquet")[0]
        dest = str(src / f"b{i}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return str(src)


def _run(spark, src, tmp_path, suffix=""):
    from flink_1_3_2_hopsworks_spark.streaming.neardup import near_ingest_stream

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = near_ingest_stream(
        stream,
        store_path=str(tmp_path / "store"),
        verdict_path=str(tmp_path / "verdicts"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    q.stop()


def test_near_ingest_stream_verdicts_store_and_restart(spark, tmp_path):
    src = _stage_files(spark, tmp_path)
    _run(spark, src, tmp_path)

    verdicts = spark.read.parquet(str(tmp_path / "verdicts"))
    got = {
        r["doc_id"]: (r["kept"], r["reason"]) for r in verdicts.collect()
    }
    assert got == EXPECTED

    # Distinct batch ids — one per file (ordered replay actually happened).
    batch_ids = sorted(
        r["batch_id"] for r in verdicts.select("batch_id").distinct().collect()
    )
    assert len(batch_ids) == 3

    # The store holds exactly the survivors' signatures, one row each,
    # with the hash-family stamp column.
    store = spark.read.parquet(str(tmp_path / "store"))
    assert sorted(r["doc_id"] for r in store.select("doc_id").collect()) == [
        1, 3, 12, 22,
    ]
    assert any(c.startswith("_mh_params_") for c in store.columns)
    assert sum(c.startswith("_h") for c in store.columns) == 64

    # Restart on the same checkpoint with no new files: no new verdict
    # rows, no new store rows (exactly-once idempotency).
    _run(spark, src, tmp_path)
    assert spark.read.parquet(str(tmp_path / "verdicts")).count() == len(EXPECTED)
    assert spark.read.parquet(str(tmp_path / "store")).count() == 4


def test_near_ingest_stream_matches_sequential_batch_replay(spark, tmp_path):
    """The stream IS the batch loop: replaying the same batches through
    incremental_near_ingest with a growing store yields identical
    verdicts."""
    from flink_1_3_2_hopsworks_spark.dedup.incremental import (
        incremental_near_ingest,
        minhash_signature_store,
    )

    store = minhash_signature_store(
        spark.createDataFrame([], "doc_id long, text string"),
        "doc_id",
        "text",
    )
    got = {}
    for rows in BATCHES:
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        v = incremental_near_ingest(batch, store, "doc_id", "text")
        for r in v.collect():
            got[r["doc_id"]] = (r["kept"], r["reason"])
        survivors = batch.join(
            v.filter(F.col("kept")).select("doc_id"), "doc_id"
        )
        store = store.unionByName(
            minhash_signature_store(survivors, "doc_id", "text")
        ).localCheckpoint()
    assert got == EXPECTED


def test_ingest_batch_crash_replay_is_idempotent(spark, tmp_path):
    """Crash-after-append replay: epoch N re-runs AFTER its own store
    append already landed (commit marker missing). The store read must
    exclude the epoch's own partition — otherwise every unique doc matches
    its own signature, flips to corpus_near_dup, and the survivor append
    is overwritten with zero rows."""
    from flink_1_3_2_hopsworks_spark.streaming.neardup import ingest_batch

    store, verdicts = str(tmp_path / "store"), str(tmp_path / "verdicts")
    batches = [
        spark.createDataFrame(rows, "doc_id long, text string")
        for rows in BATCHES
    ]
    for i, b in enumerate(batches):
        ingest_batch(b, i, store, verdicts)

    def snapshot():
        v = {
            r["doc_id"]: (r["kept"], r["reason"])
            for r in spark.read.parquet(verdicts).collect()
        }
        s = sorted(r["doc_id"] for r in spark.read.parquet(store).collect())
        return v, s

    before = snapshot()
    assert before[0] == EXPECTED and before[1] == [1, 3, 12, 22]
    ingest_batch(batches[2], 2, store, verdicts)  # replay the last epoch
    assert snapshot() == before


def test_seeded_store_visible_in_every_epoch_and_root_dump_rejected(
    spark, tmp_path
):
    """Seeds live under the reserved batch_id=-1 epoch: visible to epoch 0
    AND later epochs (a root-level dump would be silently dropped by
    parquet partition discovery once batch_id=N dirs exist — that layout
    is rejected loudly instead)."""
    from flink_1_3_2_hopsworks_spark.dedup.incremental import (
        minhash_signature_store,
    )
    from flink_1_3_2_hopsworks_spark.streaming.neardup import (
        ingest_batch,
        seed_signature_store,
    )

    store, verdicts = str(tmp_path / "store"), str(tmp_path / "verdicts")
    seed_signature_store(
        spark.createDataFrame([(100, BASE)], "doc_id long, text string"),
        store,
    )
    ingest_batch(
        spark.createDataFrame([(1, BASE), (2, NOVEL)], "doc_id long, text string"),
        0, store, verdicts,
    )
    ingest_batch(
        spark.createDataFrame([(11, BASE), (12, FRESH)], "doc_id long, text string"),
        1, store, verdicts,
    )
    got = {
        r["doc_id"]: r["reason"]
        for r in spark.read.parquet(verdicts).collect()
    }
    # Seed dups are caught in epoch 0 AND epoch 1 (the seed partition
    # stays visible after batch_id=N dirs land).
    assert got == {
        1: "corpus_near_dup", 2: "kept",
        11: "corpus_near_dup", 12: "kept",
    }

    # A root-level (epoch-less) dump is rejected with guidance.
    import pytest

    bad = str(tmp_path / "bad_store")
    minhash_signature_store(
        spark.createDataFrame([(100, BASE)], "doc_id long, text string"),
        "doc_id", "text",
    ).write.mode("overwrite").parquet(bad)
    with pytest.raises(ValueError, match="seed_signature_store"):
        ingest_batch(
            spark.createDataFrame([(1, BASE)], "doc_id long, text string"),
            0, bad, str(tmp_path / "bad_verdicts"),
        )


def test_precomputed_batch_signatures_equivalent_and_single_pass(
    spark, tmp_path
):
    """r11 signature-reuse contract: (a) passing batch_signatures yields
    verdicts identical to the re-shingling path on every epoch; (b) one
    ingest_batch epoch runs the shingle+hash pass exactly ONCE (the append
    projects the same pinned frame instead of re-shingling survivors)."""
    import flink_1_3_2_hopsworks_spark.dedup.minhash as mh
    from flink_1_3_2_hopsworks_spark.dedup.incremental import (
        incremental_near_ingest,
        minhash_signature_store,
    )
    from flink_1_3_2_hopsworks_spark.streaming.neardup import ingest_batch

    # (a) equivalence, cumulative store across all three epochs
    store = minhash_signature_store(
        spark.createDataFrame([], "doc_id long, text string"),
        "doc_id", "text",
    )
    for rows in BATCHES:
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        sig = minhash_signature_store(batch, "doc_id", "text").persist()
        old = incremental_near_ingest(batch, store, "doc_id", "text")
        new = incremental_near_ingest(
            batch, store, "doc_id", "text", batch_signatures=sig
        )
        assert sorted(map(tuple, old.collect())) == sorted(
            map(tuple, new.collect())
        )
        store = store.unionByName(
            sig.join(
                new.filter(F.col("kept")).select("doc_id"),
                "doc_id", "left_semi",
            )
        ).localCheckpoint()
        sig.unpersist()

    # (b) ONE _signatures call per ingest_batch epoch (plan-build count:
    # the store side reuses its persisted columns, the probe/star/append
    # all project the one batch frame). Epoch 0 additionally builds the
    # empty-store schema stub, so count a steady-state epoch (1).
    ingest_batch(
        spark.createDataFrame(BATCHES[0], "doc_id long, text string"),
        0, str(tmp_path / "store1p"), str(tmp_path / "verdicts1p"),
    )
    calls = []
    real = mh._signatures

    def counting(shingles, num_hashes, portable):
        calls.append(1)
        return real(shingles, num_hashes, portable)

    mh._signatures = counting
    try:
        ingest_batch(
            spark.createDataFrame(BATCHES[1], "doc_id long, text string"),
            1, str(tmp_path / "store1p"), str(tmp_path / "verdicts1p"),
        )
    finally:
        mh._signatures = real
    assert len(calls) == 1, f"expected ONE signature pass, got {len(calls)}"


def test_posting_keys_path_matches_full_scan(spark, tmp_path):
    """Posting-key layout: (a) verdicts through corpus_keys are
    IDENTICAL to the full signature-store scan; (b) a fresh seed writes
    the store AND its ``<store>_keys`` sidecar as plain epoch files (no
    inner partition directories, at most one file per writing task)
    whose columns are exactly the written frames'; (c) a keys store with
    a different banding raises instead of silently missing duplicates."""
    import pytest

    from flink_1_3_2_hopsworks_spark.dedup.incremental import (
        incremental_near_ingest,
        minhash_key_store,
        minhash_signature_store,
    )
    from flink_1_3_2_hopsworks_spark.streaming.neardup import (
        _read_keys_store,
        _read_store,
        seed_signature_store,
    )

    corpus = spark.createDataFrame(
        [(i, f"stored document number {i} about topic {i % 7} with "
             f"unique tail {i * 17}") for i in range(200)]
        + [(900, BASE)],
        "doc_id long, text string",
    )
    store_path = str(tmp_path / "store")
    seed_signature_store(corpus, store_path)
    store = _read_store(spark, store_path, 0)
    keys = _read_keys_store(spark, store, store_path, 0)
    assert keys is not None

    batch = spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, FRESH), (4, NOVEL)],
        "doc_id long, text string",
    )
    v_full = incremental_near_ingest(batch, store, "doc_id", "text")
    v_keys = incremental_near_ingest(
        batch, store, "doc_id", "text", corpus_keys=keys
    )
    assert sorted(map(tuple, v_full.collect())) == sorted(
        map(tuple, v_keys.collect())
    )
    got = {r["doc_id"]: r["reason"] for r in v_keys.collect()}
    assert got[1] == "corpus_near_dup" and got[3] == "kept"

    # (b) plain epoch files holding exactly the written frames
    sig = minhash_signature_store(corpus, "doc_id", "text")
    n_tasks = sig.rdd.getNumPartitions()
    for path in (store_path, f"{store_path}_keys"):
        assert not glob.glob(f"{path}/*/*=*")
        files = glob.glob(f"{path}/batch_id=-1/*.parquet")
        assert 1 <= len(files) <= n_tasks, (path, len(files), n_tasks)
    assert store.columns == sig.columns + ["batch_id"]
    assert keys.columns == minhash_key_store(
        sig, "doc_id", shingle_k=5, num_hashes=64, bands=8,
    ).columns + ["batch_id"]

    # (c) banding mismatch raises loudly
    bad_keys = minhash_key_store(
        store, "doc_id", shingle_k=5, num_hashes=64, bands=16,
    )
    with pytest.raises(ValueError, match="banding"):
        incremental_near_ingest(
            batch, store, "doc_id", "text", corpus_keys=bad_keys
        ).collect()


def test_empty_epoch_store_write_keeps_store_readable(spark, tmp_path):
    """An epoch with ZERO survivors (or an empty micro-batch) must not
    poison the store: the epoch write must still leave a schema-bearing
    file (a dynamic partitionBy write of an empty frame emits only
    _SUCCESS), or the NEXT epoch's whole-store read dies with
    UNABLE_TO_INFER_SCHEMA — not the missing-path condition — and the
    stream crashes permanently. Exercise the worst case (empty FIRST
    epoch) end-to-end through ingest_batch."""
    from flink_1_3_2_hopsworks_spark.streaming.neardup import ingest_batch

    store = str(tmp_path / "store")
    verdicts = str(tmp_path / "verdicts")
    empty = spark.createDataFrame([], "doc_id long, text string")
    ingest_batch(empty, 0, store, verdicts)  # store epoch 0: zero rows
    # next epoch reads the store (epoch 0 visible) and must not raise
    batch = spark.createDataFrame(
        [(1, BASE), (2, BASE)], "doc_id long, text string"
    )
    ingest_batch(batch, 1, store, verdicts)
    got = {
        r["doc_id"]: (r["kept"], r["reason"])
        for r in spark.read.parquet(verdicts)
        .filter("batch_id = 1")
        .collect()
    }
    assert got == {1: (True, "kept"), 2: (False, "batch_near_dup")}
    # the store itself stays schema-readable end to end
    back = spark.read.parquet(store)
    assert back.filter("batch_id = 0").count() == 0
    assert back.filter("batch_id = 1").count() == 1


def test_many_epoch_replay_releases_checkpoint_blocks(spark, tmp_path):
    """The ingest entry points are EAGER and pin their corpus-probe
    result via localCheckpoint — measured pre-fix: ~1 resident pinned
    RDD per epoch surviving gc.collect() (20 blocks after 24 epochs,
    unbounded over a crawl lifetime). The epoch pin scope must release
    every epoch's blocks deterministically: after a >=20-epoch replay,
    ZERO of the loop's pinned RDDs remain resident."""
    from flink_1_3_2_hopsworks_spark.streaming.neardup import ingest_batch

    store = str(tmp_path / "store")
    verdicts = str(tmp_path / "verdicts")

    def resident():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    base = resident()  # tolerate caches leaked by unrelated tests
    for e in range(21):
        rows = [
            (e * 100 + i, f"{BASE} epoch {e} row {i}") for i in range(5)
        ]
        b = spark.createDataFrame(rows, "doc_id long, text string")
        ingest_batch(b, e, store, verdicts)
        assert resident() <= base, (e, resident(), base)
    assert spark.read.parquet(verdicts).count() == 21 * 5
