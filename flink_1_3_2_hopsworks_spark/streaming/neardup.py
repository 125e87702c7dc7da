"""Streaming NEAR-duplicate ingestion — the continuous form of
dedup/incremental.py.

A crawl feed never re-dedups the corpus per batch; it dedups each arriving
micro-batch against the persisted MinHash signature STORE, emits one
verdict per document, and appends the survivors' signatures so later
batches dedup against everything accepted so far. This module wires that
loop as a Structured Streaming query over ``foreachBatch``:

    source stream ──▶ foreachBatch ──▶ verdicts  (one row per doc)
                          │  ▲
                          ▼  │ read
                    signature store  (parquet, appended per batch)

Why ``foreachBatch`` and not a stream-static join: the verdict requires
EXISTS semantics over LSH-bucket candidates (any candidate above the
estimator threshold) plus within-batch clustering — a stateful self-join
no append-mode operator expresses. The batch library operator
(``incremental_near_ingest``) already implements exactly that contract
with the store on the scanned side, so each micro-batch runs it verbatim
— the reference's externalized-keyed-state shape (state lives in the
store, not executor memory; analogue: flink-streaming-java
functions/source/ContinuousFileMonitoringFunction feeding a keyed
stateful chain).

State & scale contract:
- ZERO Spark streaming state. Dedup state is the signature store —
  ``num_hashes`` longs per accepted doc, readable/bucketable by any later
  batch or backfill, shared with the BATCH ingest path (one store serves
  both).
- Per batch, the store is only ever SCANNED (broadcast batch-key probe —
  incremental_near_ingest's audited contract); shuffle volume is
  O(|micro-batch|), independent of store size.
- Exactly-once: verdicts and store appends land under
  ``batch_id=<epoch>`` partition directories written with overwrite — a
  replayed epoch overwrites its own output instead of duplicating it
  (idempotent sink, the foreachBatch discipline Structured Streaming
  documents for exactly-once file sinks).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from flink_1_3_2_hopsworks_spark.dedup.incremental import (
    incremental_near_ingest,
    minhash_key_store,
    minhash_signature_store,
)
from flink_1_3_2_hopsworks_spark.streaming.stores import (
    compact_store,
    compaction_due,
    store_epochs,
    write_epoch,
)


def _is_path_not_found(exc) -> bool:
    """True only for the missing-root-path AnalysisException. The ingest
    loops treat that ONE condition as 'first batch: no store yet';
    every other AnalysisException (corrupt footer, schema merge
    conflict, permission shape) must propagate — swallowing it would
    silently present an unreadable store as empty, and every re-crawled
    id would be re-appended as a duplicate."""
    getter = getattr(exc, "getCondition", None) or getattr(
        exc, "getErrorClass", None
    )
    cond = getter() if getter is not None else None
    if cond is not None:
        return cond == "PATH_NOT_FOUND"
    return "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc)


def _read_store(spark, store_path: str, before_batch_id: int):
    """The signature store as a DataFrame, or ``None`` on the very first
    batch (no store written yet). ONLY epochs before ``before_batch_id``
    are visible: a REPLAYED epoch (crash after its store append, before
    the checkpoint commit) must not read its own uncommitted append —
    every unique doc would match its own signature, flip to
    corpus_near_dup, and overwrite the partition with zero survivors.

    Stores must be FULLY epoch-partitioned (every row under some
    ``batch_id=N``; seeds under ``batch_id=-1`` via
    :func:`seed_signature_store`). A root-level dump is rejected loudly:
    Spark's partition discovery silently DROPS root files once the first
    ``batch_id=N`` directory lands, so a mixed layout would make the seed
    invisible from epoch 1 on — duplicates of the seed corpus would pass
    as 'kept' with no error.
    """
    from pyspark.errors import AnalysisException

    try:
        store = spark.read.parquet(store_path)
    except AnalysisException as e:
        if _is_path_not_found(e):  # first batch: no store yet
            return None
        raise
    if "batch_id" not in store.columns:
        raise ValueError(
            f"store at {store_path!r} is not epoch-partitioned (no "
            "batch_id partition column). Seed stores with "
            "seed_signature_store(...) — a root-level signature dump is "
            "silently DROPPED by parquet partition discovery as soon as "
            "the first batch_id=N directory is written."
        )
    return store.filter(F.col("batch_id") < before_batch_id)


def seed_signature_store(
    docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 64,
    portable: bool = False,
    bands: int = 8,
) -> None:
    """Seed the ingestion loop's store with an EXISTING corpus before the
    stream starts: signatures land under the reserved ``batch_id=-1``
    partition, visible to every epoch (and to epoch-0 crash replays,
    which read ``batch_id < 0``), and the posting-key sidecar
    (``<store_path>_keys``) gets the seed's (id, band, bucket) rows — so
    every later epoch's probe reads the slim sidecar and fetches only its
    candidates' signatures. ``bands`` must match the ingest loop's
    banding (the keys stamp enforces it)."""
    sig = minhash_signature_store(
        docs, id_col, text_col,
        shingle_k=shingle_k, num_hashes=num_hashes, portable=portable,
    )
    _write_store_epoch(
        sig, -1, store_path, id_col,
        shingle_k=shingle_k, num_hashes=num_hashes, bands=bands,
        portable=portable,
    )


def _write_store_epoch(
    sig_frame: DataFrame,
    batch_id: int,
    store_path: str,
    id_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
    portable: bool,
) -> None:
    """One epoch's store append: the signature rows under
    ``store_path/batch_id=N``, plus the posting-key sidecar (same derivation
    as the probe — banded_bucket_keys via minhash_key_store) under
    ``<store_path>_keys/batch_id=N``. Both writes project the SAME
    ``sig_frame`` — the ingest loops pass a slice of their pinned per-epoch
    signature frame, so the keys derivation is a cache read, and store/keys
    coverage cannot diverge (both written or neither, and a replayed epoch
    overwrites both partitions)."""
    write_epoch(sig_frame, store_path, batch_id)
    keys = minhash_key_store(
        sig_frame, id_col, shingle_k=shingle_k, num_hashes=num_hashes,
        bands=bands, portable=portable,
    )
    write_epoch(keys, f"{store_path}_keys", batch_id)


def compact_signature_store(
    spark,
    store_path: str,
    before_batch_id: int,
    id_col: str = "doc_id",
    bands: int = 8,
) -> dict:
    """OFFLINE compaction of a MinHash signature store AND its
    posting-key sidecar: epochs ``batch_id < before_batch_id`` collapse
    into one base partition each (see ``stores.compact_store`` for the
    watermark contract and crash notes), and the sidecar's base is
    RE-DERIVED from the compacted signatures with the store's own stamped
    hash family — so a store written without a sidecar comes out with
    one covering the compacted history. ``bands``
    must match the ingest loop's banding; when a sidecar already
    exists, its stamp is checked against it (mismatch raises, same
    rationale as the probe-time check). Returns the signature store's
    compaction stats dict."""
    from flink_1_3_2_hopsworks_spark.dedup.incremental import (
        _KEYS_STAMP_PREFIX,
        _STAMP_PREFIX,
        _keys_stamp,
    )

    # Parse the hash family from the store's stamp column BEFORE
    # compacting (the stamp survives compaction — it is a data column).
    store = spark.read.parquet(store_path)
    stamps = [c for c in store.columns if c.startswith(_STAMP_PREFIX)]
    if len(stamps) != 1:
        raise ValueError(
            f"signature store at {store_path!r} carries stamp(s) "
            f"{stamps} — exactly one _mh_params_ stamp is required to "
            "re-derive the posting-key sidecar."
        )
    k_s, n_s, p_s = stamps[0][len(_STAMP_PREFIX):].split("_")
    shingle_k, num_hashes = int(k_s[1:]), int(n_s[1:])
    portable = bool(int(p_s[1:]))

    keys_path = f"{store_path}_keys"
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(keys_path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    if fs.exists(jvm.org.apache.hadoop.fs.Path(keys_path)):
        kcols = spark.read.parquet(keys_path).columns
        kstamps = [c for c in kcols if c.startswith(_KEYS_STAMP_PREFIX)]
        expected = _keys_stamp(shingle_k, num_hashes, bands, portable)
        if kstamps != [expected]:
            raise ValueError(
                f"posting-key sidecar at {keys_path!r} is stamped "
                f"{kstamps}, but the store's hash family with "
                f"bands={bands} derives {expected!r} — pass the "
                "sidecar's own banding."
            )

    stats = compact_store(spark, store_path, before_batch_id)

    # Re-derive the sidecar base from the compacted signatures (exact —
    # same algebra as append time), then drop the old epoch partitions
    # it replaces. Doing it in this order keeps the sidecar a SUPERSET
    # of the store at every instant (a concurrent reader would at worst
    # probe a few stale buckets, never miss one). The store now has at
    # most one epoch below ``before_batch_id`` (the base -1, or the one
    # epoch a no-op compaction leaves); the sidecar base takes the same
    # epoch id, so _read_keys_store sees full coverage.
    base = [e for e in store_epochs(spark, store_path) if e < before_batch_id]
    if not base:
        return stats
    (base_id,) = base
    keys = minhash_key_store(
        spark.read.parquet(f"{store_path}/batch_id={base_id}"), id_col,
        shingle_k=shingle_k, num_hashes=num_hashes, bands=bands,
        portable=portable,
    )
    tmp_root = f"{keys_path}/_compact_tmp"
    write_epoch(
        keys.coalesce(spark.sparkContext.defaultParallelism), tmp_root,
        base_id,
    )
    for e in store_epochs(spark, keys_path):
        if e < before_batch_id:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{keys_path}/batch_id={e}"),
                True,
            )
    fs.rename(
        jvm.org.apache.hadoop.fs.Path(f"{tmp_root}/batch_id={base_id}"),
        jvm.org.apache.hadoop.fs.Path(f"{keys_path}/batch_id={base_id}"),
    )
    fs.delete(jvm.org.apache.hadoop.fs.Path(tmp_root), True)
    return stats


def _read_keys_store(spark, store, store_path: str, before_batch_id: int):
    """The posting-key sidecar ``<store_path>_keys`` of a signature store
    (epochs before ``before_batch_id``), or ``None`` — the full-scan
    probe — unless the sidecar has every store epoch the read sees. Every
    epoch write lands both, so a store written by the ingest loops always
    qualifies; a store written without a sidecar stays on the full scan,
    also after later epochs add sidecar partitions of their own, until
    ``compact_signature_store`` derives one for its whole history."""
    if store is None:
        return None
    keys_path = f"{store_path}_keys"
    visible = {
        e for e in store_epochs(spark, store_path) if e < before_batch_id
    }
    if not visible <= set(store_epochs(spark, keys_path)):
        return None
    return _read_store(spark, keys_path, before_batch_id)


def near_ingest_stream(
    stream: DataFrame,
    store_path: str,
    verdict_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    max_bucket: int = 1000,
    portable: bool = False,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Start the continuous near-dedup ingestion loop over ``stream``
    (a streaming DataFrame carrying ``id_col`` and ``text_col``).

    Each micro-batch: verdict per doc — ``(id_col, kept, reason,
    batch_id)`` with reason ∈ {kept, corpus_near_dup, batch_near_dup} —
    written under ``verdict_path/batch_id=N``; survivors' MinHash
    signatures appended under ``store_path/batch_id=N``. The store and
    every batch share one hash family (enforced by the store's parameter
    stamp; a mismatch raises rather than silently reading as "no
    duplicates").
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        if compaction_due(batch_id, compact_every):
            # Self-maintenance: fold the committed signature epochs (and
            # the posting-key sidecar) into one base before this epoch
            # runs — crash-replay-safe via the write-ahead manifest
            # (stores.recover_compaction).
            compact_signature_store(
                batch.sparkSession, store_path, batch_id, id_col=id_col,
                bands=bands,
            )
        ingest_batch(
            batch, batch_id, store_path, verdict_path,
            id_col=id_col, text_col=text_col, threshold=threshold,
            shingle_k=shingle_k, num_hashes=num_hashes, bands=bands,
            max_bucket=max_bucket, portable=portable,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ingest_batch(
    batch: DataFrame,
    batch_id: int,
    store_path: str,
    verdict_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    max_bucket: int = 1000,
    portable: bool = False,
) -> None:
    """One epoch of the ingestion loop (the foreachBatch body, exposed so
    crash-replay behavior is directly testable). Idempotent per
    ``batch_id``: the store read excludes this epoch's own (possibly
    uncommitted) append, and both writes overwrite their own partition."""
    spark = batch.sparkSession
    # Pin the micro-batch: the ingest references it several times
    # (signatures, bucket probe, within-batch star, survivor join) and
    # a foreachBatch frame is NOT cached — without the pin every
    # reference re-reads the source files (measured 4x input rows).
    # The finally covers EVERYTHING after the pin — a store-layout
    # ValueError or plan-build failure must not leak the cached batch
    # (ann.py's ingest_vector_batch has the same shape).
    from flink_1_3_2_hopsworks_spark.operators.iterate import (
        push_pin_scope,
        release_pin_scope,
    )

    batch = batch.persist()
    batch_sig = None
    verdicts = None
    # Pin scope: the ingest's eager corpus-probe checkpoint (and the
    # cluster-resolution iteration's per-superstep checkpoints) are
    # epoch-internal — consumed before this epoch's writes return — so
    # release their storage blocks deterministically at epoch end instead
    # of waiting on double-GC + ContextCleaner (measured ~1 resident
    # pinned RDD per epoch over a 24-epoch replay without this).
    pins = push_pin_scope()
    try:
        store = _read_store(spark, store_path, batch_id)
        # The posting-key sidecar (written in the same epoch call) lets
        # the probe scan the slim keys and fetch only the candidates'
        # signatures.
        keys = _read_keys_store(spark, store, store_path, batch_id)
        if store is None:
            # First batch: an empty store with the right schema so the
            # within-batch half still runs under the same code path.
            store = minhash_signature_store(
                batch.limit(0), id_col, text_col,
                shingle_k=shingle_k, num_hashes=num_hashes,
                portable=portable,
            )
        # The epoch's ONE shingle+hash pass: these signatures feed the
        # corpus probe, the within-batch star, AND the survivor append —
        # pinned because all three reference them (pre-r11, the append
        # re-shingled the survivor text a second time per epoch; the
        # dominant per-epoch term at crawl scale per SCALE.md).
        batch_sig = minhash_signature_store(
            batch, id_col, text_col,
            shingle_k=shingle_k, num_hashes=num_hashes, portable=portable,
        ).persist()
        verdicts = incremental_near_ingest(
            batch, store, id_col, text_col,
            threshold=threshold, shingle_k=shingle_k,
            num_hashes=num_hashes, bands=bands, max_bucket=max_bucket,
            portable=portable, batch_signatures=batch_sig,
            corpus_keys=keys,
        ).persist()
        write_epoch(verdicts, verdict_path, batch_id)
        _write_store_epoch(
            batch_sig.join(
                verdicts.filter(F.col("kept")).select(id_col), id_col,
                "left_semi",
            ),
            batch_id, store_path, id_col,
            shingle_k=shingle_k, num_hashes=num_hashes, bands=bands,
            portable=portable,
        )
    finally:
        release_pin_scope(pins)
        if verdicts is not None:
            verdicts.unpersist()
        if batch_sig is not None:
            batch_sig.unpersist()
        batch.unpersist()
