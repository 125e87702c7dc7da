"""Async I/O operator tests (§2.7 AsyncDataStream): ordered/unordered
emission, capacity bound, timeout handling."""

from __future__ import annotations

import pytest

from flink_1_3_2_hopsworks_spark.operators.async_io import async_lookup


def _df(spark, n=20):
    return spark.createDataFrame(
        [(i, float(i)) for i in range(n)], "id long, value double"
    )


def test_ordered_lookup_preserves_rows_and_order(spark):
    import asyncio

    async def lk(row):
        await asyncio.sleep(0.001 * (row["id"] % 3))  # jittered latency
        return {"doubled": row["value"] * 2}

    out = async_lookup(_df(spark), lk, "doubled double", capacity=4)
    rows = out.coalesce(1).collect()
    assert [r["id"] for r in rows] == list(range(20))  # orderedWait semantics
    assert all(r["doubled"] == 2 * r["id"] for r in rows)


def test_sync_function_lookup_works(spark):
    out = async_lookup(
        _df(spark), lambda row: {"tag": f"v{int(row['id'])}"}, "tag string"
    )
    got = {r["id"]: r["tag"] for r in out.collect()}
    assert got[7] == "v7" and len(got) == 20


def test_unordered_returns_all_rows(spark):
    import asyncio

    async def lk(row):
        await asyncio.sleep(0.002 if row["id"] % 2 == 0 else 0.0)
        return {"ok": True}

    out = async_lookup(_df(spark), lk, "ok boolean", ordered=False)
    rows = out.collect()
    assert sorted(r["id"] for r in rows) == list(range(20))
    assert all(r["ok"] for r in rows)


def test_capacity_bounds_inflight(spark):
    import asyncio

    async def lk(row):
        # Tracks concurrent in-flight calls via loop-local globals.
        loop = asyncio.get_running_loop()
        cur = getattr(loop, "_inflight", 0) + 1
        loop._inflight = cur
        loop._peak = max(getattr(loop, "_peak", 0), cur)
        await asyncio.sleep(0.002)
        loop._inflight -= 1
        return {"peak": loop._peak}

    out = async_lookup(_df(spark, 30).coalesce(1), lk, "peak long", capacity=3)
    assert max(r["peak"] for r in out.collect()) <= 3


def test_timeout_null_mode(spark):
    import asyncio

    async def lk(row):
        if row["id"] == 5:
            await asyncio.sleep(5.0)  # will exceed the timeout
        return {"tag": "ok"}

    out = async_lookup(
        _df(spark, 8),
        lk,
        "tag string",
        timeout_seconds=0.5,
        on_timeout="null",
    )
    got = {r["id"]: r["tag"] for r in out.collect()}
    assert got[5] is None
    assert all(got[i] == "ok" for i in range(8) if i != 5)


@pytest.mark.parametrize("ordered", [True, False])
def test_timeout_null_keeps_exact_long_results(spark, ordered):
    """A timed-out row's NULL must not turn a ``long`` result column into
    float64 for the rest of its batch: one partition, one timed-out row
    and one ``2**62 + 1`` row, both emission orders."""
    import asyncio

    big = 2**62 + 1

    async def lk(row):
        if row["id"] == 0:
            await asyncio.sleep(5.0)  # will exceed the timeout
        return {"n": big, "flag": True}

    out = async_lookup(
        _df(spark, 2).coalesce(1),
        lk,
        "n long, flag boolean",
        timeout_seconds=0.5,
        ordered=ordered,
        on_timeout="null",
    )
    got = {r["id"]: (r["n"], r["flag"]) for r in out.collect()}
    assert got == {0: (None, None), 1: (big, True)}
