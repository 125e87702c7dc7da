"""Streaming end-to-end curation funnel (streaming/funnel.py): the
foreachBatch composition rules → exact-fingerprint dedup → MinHash
near-dedup over the two persisted stores — per-epoch funnel rows,
stream-equals-sequential-replay, crash-replay idempotency, and seed-store
visibility."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

BASE = "the quick brown fox jumps over the lazy dog again and again"
OTHER = "completely unrelated corpus text about engines and torque"
FRESH = "fresh unseen content one two three four five six"
NOVEL = "a lone novel document unlike anything else at all"
NEAR_A = (
    "the archive crawler fetched this page on a tuesday and the content "
    "describes migratory birds crossing the northern flyway in autumn"
)
NEAR_B = NEAR_A + " indeed"  # portable estimator vs NEAR_A: 63/64
NEAR_C = NEAR_A + " truly"   # distinct fp from both, still near NEAR_A

BATCHES = [
    # epoch 0: within-batch exact dup (2=1), a rule drop (4)
    [(1, BASE), (2, BASE), (3, OTHER), (4, "this has { braces")],
    # epoch 1: cross-epoch exact dup (11 vs epoch-0 survivor 1),
    # within-batch NEAR dup (13 vs 12 — different fingerprints)
    [(11, BASE), (12, NEAR_A), (13, NEAR_B), (14, FRESH)],
    # epoch 2: cross-epoch exact dup (21 vs 14), cross-epoch NEAR dup vs
    # the STORE (22 vs epoch-1 near-survivor 12), a rule drop (23)
    [(21, FRESH), (22, NEAR_C), (23, "lorem ipsum filler"), (24, NOVEL)],
]

# (batch_id, stage) -> surviving doc count. Pins the cross-epoch
# store semantics stage by stage.
EXPECTED_N_DOCS = {
    (0, "input"): 4, (0, "rules"): 3, (0, "exact_dedup"): 2,
    (0, "near_dedup"): 2,
    (1, "input"): 4, (1, "rules"): 4, (1, "exact_dedup"): 3,
    (1, "near_dedup"): 2,
    (2, "input"): 4, (2, "rules"): 3, (2, "exact_dedup"): 2,
    (2, "near_dedup"): 1,
}


def _frames(spark):
    return [
        spark.createDataFrame(rows, "doc_id long, text string")
        for rows in BATCHES
    ]


def _stage_files(spark, tmp_path):
    """One parquet FILE per batch, mtimes increasing so
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


def _funnel_rows(spark, funnel_path):
    return {
        (r["batch_id"], r["stage"]): (
            r["stage_idx"], r["n_docs"], r["n_tokens"], r["id_checksum"]
        )
        for r in spark.read.parquet(funnel_path).collect()
    }


def test_funnel_stream_matches_sequential_replay(spark, tmp_path):
    """The streaming query's per-epoch funnel rows ARE the sequential
    batch replay's (same stores, same epoch order) — full row equality
    including token sums and survivor-set checksums."""
    from flink_1_3_2_hopsworks_spark.streaming.funnel import (
        curation_funnel_stream,
        funnel_replay,
    )

    src = _stage_files(spark, tmp_path)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = curation_funnel_stream(
        stream,
        fp_store_path=str(tmp_path / "fp_store"),
        sig_store_path=str(tmp_path / "sig_store"),
        funnel_path=str(tmp_path / "funnel"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    q.stop()

    streamed = _funnel_rows(spark, str(tmp_path / "funnel"))
    assert {k: v[1] for k, v in streamed.items()} == EXPECTED_N_DOCS

    replay_dir = tmp_path / "replay"
    replay_dir.mkdir()
    replayed = funnel_replay(_frames(spark), str(replay_dir))
    got = {
        (r["batch_id"], r["stage"]): (
            r["stage_idx"], r["n_docs"], r["n_tokens"], r["id_checksum"]
        )
        for r in replayed.collect()
    }
    assert got == streamed

    # Restart on the same checkpoint with no new files: nothing re-runs.
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = curation_funnel_stream(
        stream2,
        fp_store_path=str(tmp_path / "fp_store"),
        sig_store_path=str(tmp_path / "sig_store"),
        funnel_path=str(tmp_path / "funnel"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(300)
    q2.stop()
    assert _funnel_rows(spark, str(tmp_path / "funnel")) == streamed


def test_funnel_stores_hold_each_stages_survivors(spark, tmp_path):
    """Each stage owns its state: the fingerprint store holds EXACT-stage
    survivors (even ones later dropped as near-dups), the signature store
    only NEAR-stage survivors."""
    from flink_1_3_2_hopsworks_spark.streaming.funnel import (
        ingest_funnel_batch,
    )

    fp_store = str(tmp_path / "fp_store")
    sig_store = str(tmp_path / "sig_store")
    funnel = str(tmp_path / "funnel")
    for i, b in enumerate(_frames(spark)):
        ingest_funnel_batch(b, i, fp_store, sig_store, funnel)

    fp_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(fp_store).collect()
    )
    sig_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(sig_store).collect()
    )
    # Exact survivors: e0 {1,3}; e1 {12,13,14}; e2 {22,24}.
    assert fp_ids == [1, 3, 12, 13, 14, 22, 24]
    # Near survivors: e0 {1,3}; e1 {12,14} (13 = batch near-dup);
    # e2 {24} (22 = corpus near-dup of stored 12).
    assert sig_ids == [1, 3, 12, 14, 24]


def test_funnel_crash_replay_is_idempotent(spark, tmp_path):
    """Crash-after-append replay of the LAST epoch: every read excludes
    the epoch's own partitions and every write overwrites them, so the
    funnel rows and both stores are byte-identical after the replay."""
    from flink_1_3_2_hopsworks_spark.streaming.funnel import (
        ingest_funnel_batch,
    )

    fp_store = str(tmp_path / "fp_store")
    sig_store = str(tmp_path / "sig_store")
    funnel = str(tmp_path / "funnel")
    frames = _frames(spark)
    for i, b in enumerate(frames):
        ingest_funnel_batch(b, i, fp_store, sig_store, funnel)

    def snapshot():
        return (
            _funnel_rows(spark, funnel),
            sorted(r["doc_id"] for r in spark.read.parquet(fp_store).collect()),
            sorted(r["doc_id"] for r in spark.read.parquet(sig_store).collect()),
        )

    before = snapshot()
    ingest_funnel_batch(frames[2], 2, fp_store, sig_store, funnel)
    assert snapshot() == before


def test_funnel_seed_state_visible_and_root_dump_rejected(spark, tmp_path):
    """Seeded stores (batch_id=-1) dedup epoch 0 against an existing
    corpus — exact dups at the exact stage, near dups at the near stage;
    a root-level fingerprint dump is rejected loudly (partition discovery
    would silently drop it once batch_id=N dirs land)."""
    from flink_1_3_2_hopsworks_spark.streaming.funnel import (
        ingest_funnel_batch,
        seed_funnel_state,
    )

    fp_store = str(tmp_path / "fp_store")
    sig_store = str(tmp_path / "sig_store")
    funnel = str(tmp_path / "funnel")
    seed = spark.createDataFrame(
        [(100, BASE), (101, NEAR_A)], "doc_id long, text string"
    )
    seed_funnel_state(seed, fp_store, sig_store)
    batch = spark.createDataFrame(
        [(1, BASE), (2, NEAR_C), (3, NOVEL)], "doc_id long, text string"
    )
    ingest_funnel_batch(batch, 0, fp_store, sig_store, funnel)
    rows = _funnel_rows(spark, funnel)
    n = {k[1]: v[1] for k, v in rows.items()}
    # 1 drops at exact (seed fp), 2 drops at near (near-dup of seed 101).
    assert n == {"input": 3, "rules": 3, "exact_dedup": 2, "near_dedup": 1}

    bad = str(tmp_path / "bad_fp_store")
    seed.selectExpr(
        "doc_id", "md5(regexp_replace(lower(trim(text)), '\\\\s+', ' ')) AS _fp"
    ).write.mode("overwrite").parquet(bad)
    with pytest.raises(ValueError, match="batch_id"):
        ingest_funnel_batch(
            batch, 0, bad, str(tmp_path / "sig2"), str(tmp_path / "funnel2")
        )


def test_funnel_epoch_runs_one_signature_pass(spark, tmp_path):
    """r11 signature-reuse contract: a steady-state funnel epoch shingles
    + hashes exactly ONCE — the pinned exact-survivor signature frame
    serves the store probe, the within-batch star, and the survivor
    append (epoch 0 additionally builds the empty-store schema stub, so
    count epoch 1)."""
    import flink_1_3_2_hopsworks_spark.dedup.minhash as mh
    from flink_1_3_2_hopsworks_spark.streaming.funnel import (
        ingest_funnel_batch,
    )

    frames = _frames(spark)
    fp_store = str(tmp_path / "fp_store")
    sig_store = str(tmp_path / "sig_store")
    funnel = str(tmp_path / "funnel")
    ingest_funnel_batch(frames[0], 0, fp_store, sig_store, funnel)

    calls = []
    real = mh._signatures

    def counting(shingles, num_hashes, portable):
        calls.append(1)
        return real(shingles, num_hashes, portable)

    mh._signatures = counting
    try:
        ingest_funnel_batch(frames[1], 1, fp_store, sig_store, funnel)
    finally:
        mh._signatures = real
    assert len(calls) == 1, f"expected ONE signature pass, got {len(calls)}"


def test_store_epoch_writes_exactly_the_given_frame(spark, tmp_path):
    """Store layout: each epoch lands as plain files under ``batch_id=N``
    (no inner partition directories, at most one file per writing task),
    the store's columns are exactly the written frame's plus
    ``batch_id``, and the broadcast equality probe over the store finds
    exactly the probed keys."""
    import pyspark.sql.functions as F

    from flink_1_3_2_hopsworks_spark.streaming.stores import write_epoch

    corpus = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("_fp"),
    )
    store_path = str(tmp_path / "store")
    n_tasks = []
    for e in range(3):
        epoch = corpus.filter(F.col("doc_id") % 3 == e)
        n_tasks.append(epoch.rdd.getNumPartitions())
        write_epoch(epoch, store_path, e)
    assert not glob.glob(f"{store_path}/*/*=*")
    for e in range(3):
        files = glob.glob(f"{store_path}/batch_id={e}/*.parquet")
        assert 1 <= len(files) <= n_tasks[e], (e, len(files), n_tasks[e])

    store = spark.read.parquet(store_path)
    assert store.columns == corpus.columns + ["batch_id"]
    assert store.count() == corpus.count()

    probe = corpus.filter(F.col("doc_id") < 3).select("_fp")
    hits = sorted(
        r[0]
        for r in store.join(F.broadcast(probe), "_fp", "left_semi")
        .select("doc_id").collect()
    )
    assert hits == [0, 1, 2]


def test_exact_dedup_against_plain_written_fp_store(spark, tmp_path):
    """An fp store seeded by a plain parquet write under ``batch_id=-1``
    (not through seed_funnel_state) serves cross-epoch exact dedup, and
    the epoch append keeps the store's columns."""
    import pyspark.sql.functions as F

    from flink_1_3_2_hopsworks_spark.functions.text import fingerprint
    from flink_1_3_2_hopsworks_spark.streaming.funnel import (
        ingest_funnel_batch,
    )

    frames = _frames(spark)
    fp_store = str(tmp_path / "fp_store")
    sig_store = str(tmp_path / "sig_store")
    funnel = str(tmp_path / "funnel")
    # seed written by hand, not through the stores module
    frames[0].select(
        F.col("doc_id"), fingerprint("text").alias("_fp")
    ).write.mode("overwrite").parquet(f"{fp_store}/batch_id=-1")

    ingest_funnel_batch(frames[1], 0, fp_store, sig_store, funnel)
    store = spark.read.parquet(fp_store)
    assert store.columns == ["doc_id", "_fp", "batch_id"]
    # doc 11 (BASE) is an exact dup of the seeded epoch-0 survivor text
    n = {r["stage"]: r["n_docs"]
         for r in spark.read.parquet(funnel).collect()}
    assert n["exact_dedup"] == EXPECTED_N_DOCS[(1, "exact_dedup")]
