"""Offline store compaction (streaming/stores.py ``compact_store`` +
streaming/neardup.py ``compact_signature_store``): epochs ``[*, N)``
collapse into one ``batch_id=-1`` base — verdict equivalence against the
uncompacted twin, file-count reduction (the crawl-lifetime listing-cost
lever), and the posting-key sidecar derived for a signature store
written without one."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F

BASE = "the quick brown fox jumps over the lazy dog again and again"
FRESH = "fresh unseen content one two three four five six"
NOVEL = "a lone novel document unlike anything else at all"
OTHER = "completely unrelated corpus text about engines and torque"

EPOCHS = [
    [(1, BASE), (2, OTHER)],
    [(11, FRESH), (12, NOVEL)],
    [(21, BASE + " almost"), (22, OTHER + " nearly")],
]
PROBE = [(31, BASE), (32, FRESH), (33, "never seen text at all here")]


def _ingest_epochs(spark, base_dir, epochs=EPOCHS):
    from flink_1_3_2_hopsworks_spark.streaming.neardup import ingest_batch

    for e, rows in enumerate(epochs):
        b = spark.createDataFrame(rows, "doc_id long, text string")
        ingest_batch(b, e, f"{base_dir}/store", f"{base_dir}/verdicts")


def _epoch_verdicts(spark, base_dir, batch_id):
    from flink_1_3_2_hopsworks_spark.streaming.neardup import ingest_batch

    b = spark.createDataFrame(PROBE, "doc_id long, text string")
    ingest_batch(b, batch_id, f"{base_dir}/store", f"{base_dir}/verdicts")
    return sorted(
        map(
            tuple,
            spark.read.parquet(f"{base_dir}/verdicts")
            .filter(F.col("batch_id") == batch_id)
            .drop("batch_id")
            .collect(),
        )
    )


def test_compacted_store_verdict_equivalent_and_fewer_files(
    spark, tmp_path
):
    """The headline contract: compacting epochs [*, N) changes NOTHING
    about epoch-N verdicts (pre- vs post-compaction twins identical) and
    collapses the store+sidecar file counts to <= one bucket set."""
    from flink_1_3_2_hopsworks_spark.streaming.neardup import (
        compact_signature_store,
    )
    from flink_1_3_2_hopsworks_spark.streaming.stores import (
        count_store_files,
    )

    a = str(tmp_path / "a")
    _ingest_epochs(spark, a)
    b = str(tmp_path / "b")
    shutil.copytree(a, b)

    stats = compact_signature_store(spark, f"{b}/store", 3)
    assert stats["epochs_compacted"] == 3
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == count_store_files(spark, f"{b}/store")
    # one base partition only, everything under batch_id=-1
    back = spark.read.parquet(f"{b}/store")
    assert {r[0] for r in back.select("batch_id").distinct().collect()} == {
        -1
    }
    assert back.count() == spark.read.parquet(f"{a}/store").count()

    va = _epoch_verdicts(spark, a, 3)
    vb = _epoch_verdicts(spark, b, 3)
    assert va == vb and len(va) == len(PROBE)
    # the loop keeps appending after compaction (epoch 4 runs clean)
    from flink_1_3_2_hopsworks_spark.streaming.neardup import ingest_batch

    b5 = spark.createDataFrame(
        [(41, NOVEL), (42, "yet another brand new page")],
        "doc_id long, text string",
    )
    ingest_batch(b5, 4, f"{b}/store", f"{b}/verdicts")
    got = {
        r["doc_id"]: r["reason"]
        for r in spark.read.parquet(f"{b}/verdicts")
        .filter("batch_id = 4")
        .collect()
    }
    assert got == {41: "corpus_near_dup", 42: "kept"}


def test_sidecar_less_store_gets_sidecar_on_compaction(spark, tmp_path):
    """A signature store written without a posting-key sidecar takes the
    full-scan probe, also once a later epoch has written a sidecar of its
    own (that sidecar misses the older epochs' candidates);
    compact_signature_store derives the sidecar for the compacted
    history, and the sidecar probe then gives the same verdicts."""
    import os

    from flink_1_3_2_hopsworks_spark.dedup.incremental import (
        incremental_near_ingest,
        minhash_signature_store,
    )
    from flink_1_3_2_hopsworks_spark.streaming.neardup import (
        _read_keys_store,
        _read_store,
        _write_store_epoch,
        compact_signature_store,
    )
    from flink_1_3_2_hopsworks_spark.streaming.stores import write_epoch

    store = str(tmp_path / "store")
    for e, rows in enumerate(EPOCHS):
        write_epoch(
            minhash_signature_store(
                spark.createDataFrame(rows, "doc_id long, text string"),
                "doc_id", "text",
            ),
            store, e,
        )
    assert not os.path.exists(f"{store}_keys")
    full = _read_store(spark, store, 3)
    assert _read_keys_store(spark, full, store, 3) is None
    batch = spark.createDataFrame(PROBE, "doc_id long, text string")
    pre = sorted(
        map(
            tuple,
            incremental_near_ingest(batch, full, "doc_id", "text").collect(),
        )
    )

    _write_store_epoch(
        minhash_signature_store(
            spark.createDataFrame([(41, NOVEL)], "doc_id long, text string"),
            "doc_id", "text",
        ),
        3, store, "doc_id",
        shingle_k=5, num_hashes=64, bands=8, portable=False,
    )
    later = _read_store(spark, store, 4)
    assert _read_keys_store(spark, later, store, 4) is None

    compact_signature_store(spark, store, 3)
    compacted = _read_store(spark, store, 3)
    assert compacted.columns == full.columns
    keys = _read_keys_store(spark, compacted, store, 3)
    assert keys is not None

    post = sorted(
        map(
            tuple,
            incremental_near_ingest(
                batch, compacted, "doc_id", "text", corpus_keys=keys
            ).collect(),
        )
    )
    assert pre == post and len(pre) == len(PROBE)


def test_generic_chunk_store_compaction(spark, tmp_path):
    """compact_store on a simhash chunk-posting store: rows survive
    bit-for-bit and the file count collapses."""
    from flink_1_3_2_hopsworks_spark.streaming.stores import (
        compact_store,
        write_epoch,
    )

    store = str(tmp_path / "chunks")
    rows = []
    for e in range(4):
        df = spark.createDataFrame(
            [(e * 10 + i, i, (e * 7 + i) % 50) for i in range(20)],
            "simhash long, ci int, cv long",
        )
        rows += [tuple(r) for r in df.collect()]
        write_epoch(df, store, e)

    stats = compact_store(spark, store, 4)
    assert stats["epochs_compacted"] == 4
    assert stats["rows"] == len(rows)
    assert stats["files_after"] < stats["files_before"]

    back = spark.read.parquet(store)
    assert sorted(
        map(tuple, back.select("simhash", "ci", "cv").collect())
    ) == sorted(rows)


def test_pair_funnel_compaction_verdict_equivalent(spark, tmp_path):
    """compact_pair_funnel_stores covers all four store kinds in one
    call (fp, exact simhash, MinHash sig + sidecar, chunk postings):
    compacting epochs [*, 3) changes NOTHING about an epoch-3 probe's
    funnel rows (pre- vs post-compaction twins identical) and shrinks
    every store's file count."""
    from test_streaming_pair_funnel import SCHEMA, T_BASE, _frames, _img

    from flink_1_3_2_hopsworks_spark.streaming.pair_funnel import (
        compact_pair_funnel_stores,
        ingest_pair_funnel_batch,
    )
    from flink_1_3_2_hopsworks_spark.streaming.stores import (
        count_store_files,
    )

    a = str(tmp_path / "a")
    for i, b in enumerate(_frames(spark)):
        ingest_pair_funnel_batch(b, i, a)
    bdir = str(tmp_path / "b")
    shutil.copytree(a, bdir)

    stats = compact_pair_funnel_stores(spark, bdir, 3)
    for name in ("fp", "img_exact", "sig", "img_near"):
        assert stats[name]["epochs_compacted"] >= 3, (name, stats[name])
        # per store: never grows; a 3-row epoch writes so few files that
        # a single store can break even at this scale — the TOTAL must
        # still strictly drop (at crawl scale each epoch carries one file
        # per writing task, so the reduction is ~epochs x tasks)
        assert stats[name]["files_after"] <= stats[name]["files_before"]
    assert sum(s["files_after"] for s in stats.values()) < sum(
        s["files_before"] for s in stats.values()
    )

    # epoch-3 probe: caption exact dup of stored 1, image NEAR dup of
    # stored (4,0) via (4,2), and one clean pair
    probe_rows = [
        (31, T_BASE, _img(11, 0)),
        (32, "wholly new caption about rope bridges and canyon winds",
         _img(4, 2)),
        (33, "a fresh clean pair nothing resembles in either modality",
         _img(9, 0)),
    ]
    probe = spark.createDataFrame(probe_rows, SCHEMA)
    ingest_pair_funnel_batch(probe, 3, a)
    ingest_pair_funnel_batch(probe, 3, bdir)

    def _epoch3(base):
        return sorted(
            map(
                tuple,
                spark.read.parquet(f"{base}/funnel")
                .filter(F.col("batch_id") == 3)
                .collect(),
            )
        )

    rows_a, rows_b = _epoch3(a), _epoch3(bdir)
    assert rows_a == rows_b
    assert len(rows_a) > 0
    # and the uncompacted twin carries strictly more store files in
    # total than the compacted one after the identical probe epoch
    stores = ("fp_store", "img_exact_store", "sig_store",
              "img_near_store")
    assert sum(
        count_store_files(spark, f"{bdir}/{s}") for s in stores
    ) < sum(count_store_files(spark, f"{a}/{s}") for s in stores)


def test_vector_store_compaction_preserves_cell_layout(spark, tmp_path):
    """compact_vector_store: the ANN code store compacts into a
    batch_id=-1 base that KEEPS ``_cell`` as the inner partition column
    (the serving layout ivfpq_topk prunes by), with identical store
    content (modulo epoch attribution), an identical post-compaction
    ingest epoch (re-crawl skip preserved), and fewer files."""
    import glob
    import os

    from flink_1_3_2_hopsworks_spark.catalog import load_table
    from flink_1_3_2_hopsworks_spark.similarity.gate_model import (
        FROZEN_CENTROIDS,
        FROZEN_PQ_CODEBOOKS,
    )
    from flink_1_3_2_hopsworks_spark.streaming.ann import (
        compact_vector_store,
        ingest_vector_batch,
    )
    from flink_1_3_2_hopsworks_spark.streaming.stores import (
        count_store_files,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    a = str(tmp_path / "a" / "store")
    for e, (lo, hi) in enumerate([(0, 40), (30, 70), (60, 100)]):
        ingest_vector_batch(
            emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            ),
            e, a, FROZEN_CENTROIDS, FROZEN_PQ_CODEBOOKS,
        )
    b = str(tmp_path / "b" / "store")
    shutil.copytree(a, b)

    stats = compact_vector_store(spark, b, 3)
    assert stats["epochs_compacted"] == 3
    assert stats["files_after"] < stats["files_before"]
    assert count_store_files(spark, b) < count_store_files(spark, a)
    # serving layout preserved: _cell dirs inside the base partition
    assert glob.glob(os.path.join(b, "batch_id=-1", "_cell=*"))

    def _content(path, epoch_filter=None):
        df = spark.read.parquet(path)
        if epoch_filter is not None:
            df = df.filter(F.col("batch_id") == epoch_filter)
        return sorted(
            map(tuple, df.drop("batch_id").collect()),
        )

    assert _content(a) == _content(b)

    # post-compaction epoch: 90-99 are re-crawls (must skip), 100-119 new
    probe = emb.filter((F.col("vec_id") >= 90) & (F.col("vec_id") < 120))
    ingest_vector_batch(probe, 3, a, FROZEN_CENTROIDS, FROZEN_PQ_CODEBOOKS)
    ingest_vector_batch(probe, 3, b, FROZEN_CENTROIDS, FROZEN_PQ_CODEBOOKS)
    ep3_a, ep3_b = _content(a, 3), _content(b, 3)
    assert ep3_a == ep3_b
    appended_ids = {t[0] for t in ep3_a}
    assert appended_ids == set(range(100, 120))


def test_auto_compaction_in_funnel_replay_equivalent(spark, tmp_path):
    """compact_every wires compaction INTO the crawl loop: a replay that
    self-compacts at epoch 2 (folding epochs 0-1 into the base) must emit
    funnel rows identical to the uncompacted twin — epoch 2 carries both
    a cross-epoch exact dup and a cross-epoch NEAR dup against the
    now-compacted store — with fewer store files."""
    from test_streaming_funnel import _frames

    from flink_1_3_2_hopsworks_spark.streaming.funnel import funnel_replay
    from flink_1_3_2_hopsworks_spark.streaming.stores import (
        count_store_files,
    )

    plain = funnel_replay(
        _frames(spark), str(tmp_path / "plain")
    ).collect()
    compacted = funnel_replay(
        _frames(spark), str(tmp_path / "auto"), compact_every=2
    ).collect()
    assert [tuple(r) for r in compacted] == [tuple(r) for r in plain]
    # Both stores folded epochs 0-1 into the reserved base (at this toy
    # scale the absolute file count may tie — the reduction itself is
    # pinned by the offline compaction tests over more epochs; what the
    # loop must guarantee is the consolidated layout and no growth).
    for store in ("fp_store", "sig_store"):
        assert count_store_files(
            spark, str(tmp_path / "auto" / store)
        ) <= count_store_files(spark, str(tmp_path / "plain" / store))
        back = spark.read.parquet(str(tmp_path / "auto" / store))
        assert {
            r[0] for r in back.select("batch_id").distinct().collect()
        } == {-1, 2}, store


def test_auto_compaction_epoch_replay_idempotent(spark, tmp_path):
    """Crash-replay of the COMPACTING epoch re-runs compaction + ingest;
    both must be no-ops on the second pass (recover finds nothing, the
    store is already consolidated, the epoch overwrites its own
    partitions with identical content)."""
    from test_streaming_funnel import _frames

    from flink_1_3_2_hopsworks_spark.streaming.funnel import (
        compact_funnel_stores,
        funnel_replay,
        ingest_funnel_batch,
    )

    base = str(tmp_path / "d")
    first = funnel_replay(_frames(spark), base, compact_every=2).collect()

    def _store_rows(store):
        return sorted(
            map(
                tuple,
                spark.read.parquet(f"{base}/{store}")
                .drop("batch_id")
                .collect(),
            )
        )

    assert spark.read.parquet(f"{base}/fp_store").columns == [
        "doc_id", "_fp", "batch_id",
    ]
    fp_before = _store_rows("fp_store")
    sig_before = _store_rows("sig_store")
    # replay epoch 2 exactly as the foreachBatch body would
    compact_funnel_stores(
        spark, f"{base}/fp_store", f"{base}/sig_store", 2
    )
    ingest_funnel_batch(
        _frames(spark)[2], 2, f"{base}/fp_store", f"{base}/sig_store",
        f"{base}/funnel",
    )
    again = (
        spark.read.parquet(f"{base}/funnel")
        .select(
            F.col("batch_id").cast("long"),
            "stage_idx", "stage", "n_docs", "n_tokens", "id_checksum",
        )
        .orderBy("batch_id", "stage_idx")
        .collect()
    )
    assert [tuple(r) for r in again] == [tuple(r) for r in first]
    assert _store_rows("fp_store") == fp_before
    assert _store_rows("sig_store") == sig_before


def _generic_store(spark, path, n_epochs=3):
    from flink_1_3_2_hopsworks_spark.streaming.stores import write_epoch

    rows = []
    for e in range(n_epochs):
        df = spark.createDataFrame(
            [(e * 10 + i, f"v{e}_{i}") for i in range(4)],
            "k long, v string",
        )
        write_epoch(df, path, e)
        rows += [(e * 10 + i, f"v{e}_{i}") for i in range(4)]
    return sorted(rows)


def _store_content(spark, path):
    return sorted(
        map(
            tuple,
            spark.read.parquet(path).select("k", "v").collect(),
        )
    )


def test_compaction_recovery_after_partial_deletes(spark, tmp_path):
    """The write-ahead manifest makes compaction crash-safe: a crash
    AFTER some epoch dirs were deleted (but before the base rename) must
    recover to the full consolidated store — the pre-manifest protocol
    lost those epochs' rows."""
    from flink_1_3_2_hopsworks_spark.streaming.stores import (
        _write_compact_manifest,
        compact_store,
        write_epoch,
    )

    store = str(tmp_path / "s")
    expected = _generic_store(spark, store)
    # simulate the crashed run: consolidated base fully under tmp,
    # manifest committed, then a crash mid-deletes (epochs 0-1 gone)
    base = spark.read.parquet(store).select("k", "v")
    write_epoch(base, f"{store}/_compact_tmp", -1)
    _write_compact_manifest(spark, store, [0, 1, 2])
    shutil.rmtree(f"{store}/batch_id=0")
    shutil.rmtree(f"{store}/batch_id=1")
    # the next compact_store call on this path must recover FIRST
    stats = compact_store(spark, store, 3)
    assert _store_content(spark, store) == expected
    back = spark.read.parquet(store)
    assert {r[0] for r in back.select("batch_id").distinct().collect()} == {
        -1
    }
    assert stats["epochs_compacted"] == 0  # recovery left one base: no-op


def test_compaction_recovery_after_rename(spark, tmp_path):
    """Crash AFTER the base rename but before the manifest delete: the
    current batch_id=-1 IS the new base — recovery must keep it (the -1
    entry in the manifest refers to the OLD base, already replaced)."""
    import json
    import os

    from flink_1_3_2_hopsworks_spark.streaming.stores import (
        recover_compaction,
        write_epoch,
    )

    store = str(tmp_path / "s")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "k long, v string"
    )
    write_epoch(df, store, -1)
    expected = _store_content(spark, store)
    with open(f"{store}/_compact_manifest.json", "w") as f:
        json.dump({"todo": [0, 1, -1]}, f)
    got = recover_compaction(spark, store)
    assert got == {"todo": [0, 1, -1]}
    assert _store_content(spark, store) == expected
    assert not os.path.exists(f"{store}/_compact_manifest.json")
    # idempotent: nothing left to recover
    assert recover_compaction(spark, store) is None
