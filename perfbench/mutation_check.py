"""Shows that every output check of the benchmark can fail.

    python3 perfbench/mutation_check.py <workload> [--seed <n>]

Makes the workload's inputs, runs one warm and one timed pass, confirms
that the checks pass, then damages the results one way at a time — one
result row dropped, one value changed, one counter changed — and confirms
that the checks report each damage. Prints one line per damage and exits
with code 1 if any went unreported.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__))]
import run  # noqa: E402

sys.path[:0] = [run.ROOT]
from workloads import WORKLOADS  # noqa: E402


def _bump(value):
    if isinstance(value, bool):
        return not value
    if isinstance(value, float):
        return value + max(1.0, abs(value) * 0.01)
    if isinstance(value, int):
        return value + 1
    return f"{value}x"


def _damaged_rows(rows):
    """Yield (what, rows) with the last row dropped, then with the last
    non-null value of the first row changed."""
    yield "last row dropped", rows[:-1]
    row = list(rows[0])
    i = max(i for i, v in enumerate(row) if v is not None)
    row[i] = _bump(row[i])
    yield f"value {i} of row 0 changed", [tuple(row)] + rows[1:]


def damages(wl, ops):
    """Damage one result at a time, in place; yield a label for each."""
    if wl.name in ("relational", "text_dedup"):
        for op in ops:
            cols, rows = op.result
            for what, damaged in _damaged_rows(rows):
                op.result = (cols, damaged)
                yield f"{op.name}: {what}"
            op.result = (cols, rows)
        return
    out = wl.outputs()
    wl.outputs = lambda: out
    for key, value in list(out.items()):
        if isinstance(value, list):
            for what, damaged in _damaged_rows(value):
                out[key] = damaged
                yield f"{key}: {what}"
        else:
            out[key] = value + 1
            yield f"{key}: changed from {value} to {value + 1}"
        out[key] = value
    for x in wl.progress[-1:]:
        x["numInputRows"] += 1
        yield f"{x['label']}: numInputRows of the last trigger changed"
        x["numInputRows"] -= 1
        for s in x.get("stateOperators", [])[:1]:
            s["numRowsDroppedByWatermark"] = s.get("numRowsDroppedByWatermark", 0) + 1
            yield f"{x['label']}: numRowsDroppedByWatermark changed"
            s["numRowsDroppedByWatermark"] -= 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    name = args.workload
    spark, work, _ = run.start_session(name, trace=False)
    try:
        wl = WORKLOADS[name](spark, work, args.seed)
        wl.prepare()
        wl.run_pass(timed=False)
        ops = wl.run_pass(timed=True)
        clean = wl.check(ops)
        print(f"{name}: undamaged results: "
              + ("pass" if not clean else f"FAIL {clean}"), flush=True)
        missed = bool(clean)
        for label in damages(wl, ops):
            found = wl.check(ops)
            missed += not found
            print(f"{name}: {label}: "
                  + (f"reported ({found[0]})" if found else "NOT REPORTED"),
                  flush=True)
    finally:
        run.stop_spark(spark)
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())
