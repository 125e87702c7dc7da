"""Layout and compaction of the epoch-partitioned dedup stores.

Each store epoch is exactly the frame it was given, written under
``store_path/batch_id=N`` as plain parquet files, at most one per writing
task. Reads filter ``batch_id < N``; the probes then run as broadcast
equality semi-joins of the batch's keys against the store scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def write_epoch(df: DataFrame, store_path: str, batch_id: int) -> None:
    """Overwrite ``store_path/batch_id=<batch_id>`` with ``df``: plain
    files, at most one per writing task. An empty ``df`` still writes one
    schema-bearing file, so the next read of the store can infer its
    schema."""
    df.write.mode("overwrite").parquet(f"{store_path}/batch_id={batch_id}")


def _fs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def store_epochs(spark, store_path: str) -> list[int]:
    """The sorted epoch ids N of the ``batch_id=N`` directories under
    ``store_path`` (empty for a missing store). A namenode listing, no
    Spark job."""
    fs, root = _fs(spark, store_path)
    if not fs.exists(root):
        return []
    return sorted(
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(root)
        if st.isDirectory()
        and st.getPath().getName().startswith("batch_id=")
    )


def count_store_files(spark, store_path: str) -> int:
    """Number of DATA files under ``store_path`` (recursive; ``_``/``.``
    names skipped) — the quantity partition discovery has to LIST on
    every store read, which otherwise grows with crawl lifetime
    (~epochs × writing tasks). A namenode walk, no Spark job."""
    fs, root = _fs(spark, store_path)
    if not fs.exists(root):
        return 0
    n = 0
    stack = [root]
    while stack:
        for st in fs.listStatus(stack.pop()):
            name = st.getPath().getName()
            # Spark's own discovery rule: _/. names are invisible UNLESS
            # they are partition dirs (contain '=') — _cell=3 counts.
            if name.startswith(("_", ".")) and "=" not in name:
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                n += 1
    return n


def compaction_due(batch_id: int, compact_every) -> bool:
    """True when a crawl loop configured with ``compact_every=N`` should
    compact epochs ``[*, batch_id)`` at the START of epoch ``batch_id``.
    Epochs below the current one are checkpoint-committed (foreachBatch
    replays at most the current epoch), so the compact_store watermark
    contract holds; a replayed epoch re-runs the same compaction, which
    is idempotent (recover + no-op on an already-consolidated store)."""
    return (
        bool(compact_every) and batch_id > 0
        and batch_id % compact_every == 0
    )


_COMPACT_MANIFEST = "_compact_manifest.json"


def _write_compact_manifest(spark, store_path: str, todo: list) -> None:
    """Atomically record the epoch set an in-flight compaction is about
    to delete: create ``_compact_manifest.json.tmp`` then rename — a
    crash mid-write can never leave a readable-but-partial manifest, so
    manifest-exists ⇒ the consolidated tmp base is complete."""
    import json

    fs, _ = _fs(spark, store_path)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{store_path}/{_COMPACT_MANIFEST}.tmp"
    )
    out = fs.create(tmp, True)
    out.write(bytearray(json.dumps({"todo": todo}).encode("utf-8")))
    out.close()
    fs.rename(
        tmp, jvm.org.apache.hadoop.fs.Path(f"{store_path}/{_COMPACT_MANIFEST}")
    )


def recover_compaction(spark, store_path: str) -> dict | None:
    """Finish an interrupted :func:`compact_store` run, idempotently.

    The manifest is written only AFTER the consolidated base is fully
    under ``_compact_tmp/batch_id=-1``, so its presence means the data is
    safe and only the deletes/rename may be partial. Recovery replays
    them: delete every manifest epoch still present (skipping ``-1`` when
    the tmp base is already gone — that means the rename landed and the
    current ``batch_id=-1`` IS the new base), rename the tmp base in if
    it still exists, and clear the tmp root + manifest. Returns the
    recovered manifest dict, or ``None`` when there was nothing to
    recover (the overwhelmingly common case — one existence check).

    Called automatically at the start of every ``compact_store``; safe to
    call directly after a crash before any store read."""
    import json

    fs, _ = _fs(spark, store_path)
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    man = P(f"{store_path}/{_COMPACT_MANIFEST}")
    # A crash between creating and renaming the .tmp manifest leaves only
    # the .tmp: the deletes never started, the store is intact — discard.
    man_tmp = P(f"{store_path}/{_COMPACT_MANIFEST}.tmp")
    if fs.exists(man_tmp):
        fs.delete(man_tmp, False)
    if not fs.exists(man):
        return None
    inp = fs.open(man)
    try:
        raw = jvm.org.apache.commons.io.IOUtils.toString(inp, "UTF-8")
    finally:
        inp.close()
    manifest = json.loads(raw)
    tmp_base = P(f"{store_path}/_compact_tmp/batch_id=-1")
    tmp_exists = fs.exists(tmp_base)
    for e in manifest["todo"]:
        if e == -1 and not tmp_exists:
            # rename already landed: batch_id=-1 is the NEW base
            continue
        p = P(f"{store_path}/batch_id={e}")
        if fs.exists(p):
            fs.delete(p, True)
    if tmp_exists:
        fs.rename(tmp_base, P(f"{store_path}/batch_id=-1"))
    fs.delete(P(f"{store_path}/_compact_tmp"), True)
    fs.delete(man, False)
    return manifest


def compact_store(
    spark,
    store_path: str,
    before_batch_id: int,
    writer=None,
) -> dict:
    """OFFLINE compaction of an epoch-partitioned store: rewrite every
    epoch ``batch_id < before_batch_id`` into ONE consolidated
    base partition under the reserved ``batch_id=-1`` — the
    crawl-lifetime lever the per-epoch layout cannot provide. FILE COUNT
    (and with it partition discovery/listing cost on every store read)
    grows with every epoch; compaction resets it to at most one file
    per core for the whole compacted history. A store family with its own
    inner layout (the ANN code stores' ``_cell``) passes ``writer``,
    which must land the consolidated base under
    ``<tmp_root>/batch_id=-1`` at the store's regular depth.

    Correctness contract (the caller's side):
    - ``before_batch_id`` must not exceed the stream's COMMITTED
      watermark: the base partition is visible to every epoch (reads
      filter ``batch_id < N`` and −1 < N), so folding a not-yet-committed
      epoch into it would let that epoch's crash replay see its own
      append and drop every document as a corpus dup.
    - Verdict equivalence is exact: reads only ever filter
      ``batch_id < N``, and every compacted row keeps its columns —
      only its epoch attribution collapses to −1 (pytest-pinned against
      a live ingest loop).

    Crash-safe (write-ahead manifest): the consolidated base is fully
    written under ``<store>/_compact_tmp`` (invisible to readers —
    ``_``-prefixed), then ``<store>/_compact_manifest.json`` records the
    epoch list about to be deleted (atomic create-then-rename), and only
    then do the deletes + final rename run. A crash anywhere leaves one
    of two states: no manifest → the store is untouched (a half-written
    tmp is simply overwritten next time); manifest present → the base is
    complete, and :func:`recover_compaction` (run automatically at the
    next ``compact_store`` call on the same path, or callable directly)
    finishes the deletes/rename idempotently. This is what lets the
    ingest loops run compaction INSIDE a replayable foreachBatch epoch
    (``compact_every``) without a crash window.

    Returns ``{"epochs_compacted", "rows", "files_before",
    "files_after"}``.
    """
    recover_compaction(spark, store_path)
    store = spark.read.parquet(store_path)
    if "batch_id" not in store.columns:
        raise ValueError(
            f"store at {store_path!r} is not epoch-partitioned (no "
            "batch_id partition column) — nothing to compact."
        )
    todo = [
        e for e in store_epochs(spark, store_path) if e < before_batch_id
    ]
    files_before = count_store_files(spark, store_path)
    if len(todo) < 2:
        # nothing to consolidate (0 or 1 epochs) — no-op
        return {
            "epochs_compacted": 0, "rows": 0,
            "files_before": files_before, "files_after": files_before,
        }
    base = store.filter(F.col("batch_id") < before_batch_id).drop(
        "batch_id"
    )
    tmp_root = f"{store_path}/_compact_tmp"
    if writer is not None:
        writer(base, tmp_root)
    else:
        # at most one file per core, however many epochs fold in
        write_epoch(
            base.coalesce(spark.sparkContext.defaultParallelism),
            tmp_root, -1,
        )
    rows = spark.read.parquet(f"{tmp_root}/batch_id=-1").count()
    fs, _ = _fs(spark, store_path)
    jvm = spark._jvm
    # Point of no return: the manifest commits the delete set AFTER the
    # base is fully written — from here a crash recovers forward.
    _write_compact_manifest(spark, store_path, todo)
    for e in todo:
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            f"{store_path}/batch_id={e}"
        ), True)
    fs.rename(
        jvm.org.apache.hadoop.fs.Path(f"{tmp_root}/batch_id=-1"),
        jvm.org.apache.hadoop.fs.Path(f"{store_path}/batch_id=-1"),
    )
    fs.delete(jvm.org.apache.hadoop.fs.Path(tmp_root), True)
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(f"{store_path}/{_COMPACT_MANIFEST}"),
        False,
    )
    return {
        "epochs_compacted": len(todo), "rows": rows,
        "files_before": files_before,
        "files_after": count_store_files(spark, store_path),
    }

