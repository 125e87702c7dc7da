"""Streaming ANN index maintenance — the continuous form of
``similarity/pq.py ivfpq_append_batch``.

The embedding side of the crawl loop (streaming/neardup.py is the text
side): each arriving micro-batch of vectors is encoded into the
``_cell``-partitioned IVF-PQ store — cells and codes from the FROZEN
coarse centroids / codebooks, so appended rows are bit-identical to a
full rebuild — after a broadcast id probe skips re-crawled items already
in the store. The serving structure (``ivfpq_topk`` over the partitioned
code table) never rebuilds.

State & scale contract (mirrors near_ingest_stream):
- ZERO Spark streaming state; index state is the store itself.
- Per batch the store contributes ONLY a scanned id column (broadcast
  anti probe); the one Python crossing is the fused cell+code Arrow
  kernel over the surviving batch rows — O(|micro-batch|).
- Exactly-once: appends land under ``batch_id=<epoch>`` partition
  directories written with overwrite (idempotent on replay), with
  ``_cell`` as the inner partition column so serving keeps its
  partition-pruning = inverted-file property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from flink_1_3_2_hopsworks_spark.similarity.pq import ivfpq_append_batch


def ann_ingest_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "_cell",
    compact_every: int | None = None,
) -> StreamingQuery:
    """Start the continuous IVF-PQ ingestion loop over ``stream`` (a
    streaming DataFrame carrying ``id_col`` and ``vec_col``). Each
    micro-batch appends its surviving rows' (id, cell, codes) under
    ``store_path/batch_id=N`` partitioned by ``cell_col``."""
    def _process(batch: DataFrame, batch_id: int) -> None:
        from flink_1_3_2_hopsworks_spark.streaming.stores import (
            compaction_due,
        )

        if compaction_due(batch_id, compact_every):
            # Self-maintenance: fold committed code epochs into one
            # batch_id=-1 base, preserving the _cell serving layout —
            # crash-replay-safe (stores.recover_compaction).
            compact_vector_store(
                batch.sparkSession, store_path, batch_id,
                cell_col=cell_col,
            )
        ingest_vector_batch(
            batch, batch_id, store_path, coarse_centroids, codebooks,
            id_col=id_col, vec_col=vec_col, cell_col=cell_col,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ingest_vector_batch(
    batch: DataFrame,
    batch_id: int,
    store_path: str,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "_cell",
) -> None:
    """One epoch of the ANN ingestion loop (the foreachBatch body, exposed
    so crash-replay behavior is directly testable). Idempotent per
    ``batch_id``: the store-id read excludes this epoch's own (possibly
    uncommitted) append — a replayed epoch that saw its own rows would
    anti-join every id away as a 're-crawl' and overwrite its partition
    with an EMPTY frame, silently deleting the epoch's vectors."""
    from pyspark.errors import AnalysisException

    import pyspark.sql.functions as F

    from flink_1_3_2_hopsworks_spark.streaming.neardup import (
        _is_path_not_found,
    )

    spark = batch.sparkSession
    # Pin: the append references the batch twice (id probe + encode);
    # an unpinned foreachBatch frame re-reads the source per reference.
    batch = batch.persist()
    try:
        try:
            store = spark.read.parquet(store_path)
            if "batch_id" not in store.columns:
                raise ValueError(
                    f"store at {store_path!r} is not epoch-partitioned "
                    "(no batch_id partition column). Seed stores with "
                    "seed_code_store(...) — a root-level code dump is "
                    "silently DROPPED by parquet partition discovery as "
                    "soon as the first batch_id=N directory is written, "
                    "so seed ids would be re-appended as duplicates."
                )
            # Exclude this epoch's own (possibly uncommitted) append.
            store_ids = store.filter(
                F.col("batch_id") < batch_id
            ).select(id_col)
        except AnalysisException as e:
            # ONLY missing-path means 'first batch: no store yet' — a
            # corrupt/unreadable store must raise, not read as empty
            # (empty store_ids would re-append every re-crawled id).
            if not _is_path_not_found(e):
                raise
            store_ids = batch.limit(0).select(id_col)
        appended = ivfpq_append_batch(
            batch, store_ids, coarse_centroids, codebooks,
            id_col, vec_col,
        )
        appended.write.mode("overwrite").partitionBy(cell_col).parquet(
            f"{store_path}/batch_id={batch_id}"
        )
    finally:
        batch.unpersist()


def seed_code_store(
    corpus: DataFrame,
    store_path: str,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "_cell",
) -> None:
    """Seed the ANN loop's store by encoding an EXISTING corpus before the
    stream starts: codes land under the reserved ``batch_id=-1`` epoch
    (visible to every epoch, including epoch-0 crash replays reading
    ``batch_id < 0``), partitioned by ``cell_col`` like every append."""
    from flink_1_3_2_hopsworks_spark.similarity.pq import pq_encode

    pq_encode(
        corpus, id_col, vec_col, codebooks, cell_centroids=coarse_centroids
    ).write.mode("overwrite").partitionBy(cell_col).parquet(
        f"{store_path}/batch_id=-1"
    )


def compact_vector_store(
    spark,
    store_path: str,
    before_batch_id: int,
    cell_col: str = "_cell",
) -> dict:
    """OFFLINE compaction of the ANN code store: epochs
    ``batch_id < before_batch_id`` collapse into one consolidated
    ``batch_id=-1`` base partition, KEEPING ``cell_col`` as the inner
    partition column — the store's serving layout (``ivfpq_topk`` prunes
    by cell directory) must survive compaction, so the generic plain
    rewrite does not apply here. One file per non-empty cell
    in the base (repartition on the cell before the partitioned write,
    the tasks×partitions tiny-file lesson), so the compacted history
    costs ≤ num_cells files regardless of how many epochs it replaces.
    Same watermark contract as ``stores.compact_store``:
    ``before_batch_id`` must not exceed the committed epoch watermark,
    or a replayed epoch would see its own vectors in the base and
    anti-join them away. Returns the compaction stats dict."""
    import pyspark.sql.functions as F

    from flink_1_3_2_hopsworks_spark.streaming.stores import compact_store

    def _writer(base: DataFrame, tmp_root: str) -> None:
        target = f"{tmp_root}/batch_id=-1"
        (
            base.repartition(F.col(cell_col))
            .write.mode("overwrite")
            .partitionBy(cell_col)
            .parquet(target)
        )
        # empty-history guard: a dynamic partitionBy of an empty frame
        # writes only _SUCCESS, no schema-bearing file — land one under
        # cell 0 so the next store read does not die with
        # UNABLE_TO_INFER_SCHEMA.
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(target)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        has_cells = fs.exists(path) and any(
            st.isDirectory()
            and st.getPath().getName().startswith(f"{cell_col}=")
            for st in fs.listStatus(path)
        )
        if not has_cells:
            base.drop(cell_col).limit(0).write.mode("overwrite").parquet(
                f"{target}/{cell_col}=0"
            )

    return compact_store(spark, store_path, before_batch_id, writer=_writer)
