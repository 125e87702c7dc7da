"""Async I/O — concurrent external lookups (§2.7).

Reference parity: ``AsyncDataStream.orderedWait/unorderedWait`` +
``AsyncFunction`` (flink-streaming-java api/datastream/AsyncDataStream.java,
api/operators/async/AsyncWaitOperator.java, 1.2): per-record async requests
against an external system with bounded in-flight capacity, a per-request
timeout, and ordered (emit in input order) or unordered (emit on completion)
modes.

Spark-first mapping: ``mapInPandas`` — requests are batched per Arrow batch
and driven by one asyncio event loop per batch, so concurrency happens
inside the Python worker without per-row round trips. The capacity
semaphore bounds in-flight requests exactly like the reference's queue;
``ordered`` reproduces orderedWait's emission order within each partition
(the reference's order guarantee is also per parallel subtask, not global).

Scale notes: no shuffle — a narrow transformation; concurrency × executors
= cluster-wide request rate, so size ``capacity`` against what the external
service tolerates. For lookups against a SMALL static table, prefer a
broadcast join; this operator is for true remote services (HTTP, KV store,
model endpoint).
"""

from __future__ import annotations

import asyncio
from collections.abc import Awaitable, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

Lookup = Callable[[dict], "Awaitable[dict] | dict"]

# Nullable pandas dtypes for the integral and boolean result types: built
# from a list holding a None (a timed-out row), a plain column would be
# float64, rounding every long in the batch to 53 bits.
_NULLABLE_DTYPES = {
    "bigint": "Int64",
    "int": "Int32",
    "smallint": "Int16",
    "tinyint": "Int8",
    "boolean": "boolean",
}


def async_lookup(
    df: DataFrame,
    lookup: Lookup,
    result_schema: str,
    capacity: int = 100,
    timeout_seconds: float | None = None,
    ordered: bool = True,
    on_timeout: str = "error",
) -> DataFrame:
    """Enrich ``df`` by calling ``lookup(row_dict) -> dict`` concurrently
    (async def or plain function) with at most ``capacity`` in flight per
    partition.

    ``result_schema`` is DDL for the appended columns (e.g. ``"tier string,
    score double"``). ``on_timeout="null"`` emits NULL result columns on a
    timed-out request (reference AsyncFunction#timeout override);
    ``"error"`` fails the task (reference default).
    """
    if on_timeout not in ("error", "null"):
        raise ValueError("on_timeout must be 'error' or 'null'")
    extra = StructType.fromDDL(result_schema)
    out_schema = StructType(list(df.schema) + list(extra))
    dtypes = {
        f.name: _NULLABLE_DTYPES.get(f.dataType.simpleString()) for f in extra
    }

    def result_frame(results: list) -> pd.DataFrame:
        cols = {}
        for name, dtype in dtypes.items():
            vals = [None if r is None else r.get(name) for r in results]
            cols[name] = pd.array(vals, dtype=dtype) if dtype else vals
        return pd.DataFrame(cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        async def call(sem, i, row):
            async with sem:
                res = lookup(row)
                if not asyncio.iscoroutine(res):
                    return i, res  # plain-function lookups work too
                if timeout_seconds is None:
                    return i, await res
                try:
                    return i, await asyncio.wait_for(res, timeout_seconds)
                except asyncio.TimeoutError:
                    if on_timeout == "null":
                        return i, None
                    raise

        async def drive(rows):
            sem = asyncio.Semaphore(capacity)
            tasks = [
                asyncio.create_task(call(sem, i, r))
                for i, r in enumerate(rows)
            ]
            if ordered:
                return await asyncio.gather(*tasks)
            return [await t for t in asyncio.as_completed(tasks)]

        for pdf in batches:
            if pdf.empty:
                continue
            pairs = asyncio.run(drive(pdf.to_dict("records")))
            # Vectorized assembly (guide §4.2): the input rows are taken by
            # position in emission order (gather() keeps input order;
            # as_completed() gives completion order) and the result
            # columns concat onto them — no per-row dict merge.
            rows = pdf.iloc[[i for i, _ in pairs]].reset_index(drop=True)
            yield pd.concat(
                (rows, result_frame([r for _, r in pairs])), axis=1
            )

    return df.mapInPandas(run, out_schema)
