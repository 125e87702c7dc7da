"""Output checks, computed apart from the engine.

Every check takes the engine's rows and an independent reference (a
DuckDB query over the same generated parquet files, or a union-find in
plain Python) and returns a list of human-readable mismatches; an empty
list means the output is correct.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb


def duckdb_views(con: duckdb.DuckDBPyConnection, data_dir: str, tables) -> None:
    """Expose each generated table directory to DuckDB under its name."""
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')"
        )


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _decimals(x: float) -> int:
    """Digits after the point in the shortest repr of ``x``."""
    r = repr(x)
    if "e" in r or "E" in r or "." not in r:
        return 0
    return len(r.split(".")[1].rstrip("0"))


def compare_rows(
    got_cols: list[str], got: list, want_cols: list[str], want: list
) -> list[str]:
    """Order-insensitive comparison of two result sets. Non-float cells
    must be equal; a float column whose oracle values carry 1 to 8
    decimal places may differ by one unit in the last of them (a query
    that rounds to 4 places may round a tie the other way, as Spark and
    DuckDB do for 469.73924999999997, and a rounded float sum depends on
    the order of its terms), and any float by 1e-9 relative."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns: got {sorted(got_cols)}, want {sorted(want_cols)}"]
    order_g = [got_cols.index(c) for c in sorted(got_cols)]
    order_w = [want_cols.index(c) for c in sorted(want_cols)]
    g = [tuple(_cell(r[i]) for i in order_g) for r in got]
    w = [tuple(_cell(r[i]) for i in order_w) for r in want]
    if len(g) != len(w):
        return [f"row count: got {len(g)}, want {len(w)}"]
    ncol = len(order_w)
    is_float = [
        any(isinstance(r[i], float) for r in w + g) for i in range(ncol)
    ]
    places = [
        max((_decimals(r[i]) for r in w if isinstance(r[i], float)), default=0)
        for i in range(ncol)
    ]

    def key(r):
        exact = tuple(
            (0, "") if r[i] is None else (1, repr(r[i]))
            for i in range(ncol) if not is_float[i]
        )
        floats = tuple(
            (0, 0.0) if r[i] is None else (1, float(r[i]))
            for i in range(ncol) if is_float[i]
        )
        return exact, floats

    g.sort(key=key)
    w.sort(key=key)
    cols = sorted(want_cols)
    bad = []
    for n, (a, b) in enumerate(zip(g, w)):
        for i in range(ncol):
            x, y = a[i], b[i]
            if is_float[i] and x is not None and y is not None:
                if math.isnan(x) and math.isnan(y):
                    continue
                tol = 10.0 ** -places[i] if 0 < places[i] < 9 else 0.0
                if abs(x - y) <= tol + 1e-9 * max(1.0, abs(y)):
                    continue
            elif x == y:
                continue
            bad.append(f"row {n} column {cols[i]}: got {x!r}, want {y!r}")
            break
        if len(bad) >= 5:
            break
    return bad


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def components_min_id(ids, edges) -> dict[int, int]:
    """Union-find over ``edges``: each id mapped to the smallest id of its
    connected component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def check_keeps_component_min(
    rows: list[tuple[int, int, bool]], edges, all_ids
) -> list[str]:
    """``rows`` is (doc_id, canonical_id, kept), one row for each of
    ``all_ids``; the canonical id must be the smallest id of the
    document's component in the pair graph ``edges``, and exactly the
    canonical documents kept."""
    ids = [r[0] for r in rows]
    if sorted(ids) != sorted(all_ids):
        return [f"{len(ids)} rows for {len(all_ids)} documents"]
    comp = components_min_id(ids, edges)
    bad = []
    for doc, canon, kept in rows:
        if canon != comp[doc] or bool(kept) != (doc == comp[doc]):
            bad.append(
                f"doc {doc}: canonical {canon} kept {kept}, want {comp[doc]}"
            )
            if len(bad) >= 5:
                break
    return bad
