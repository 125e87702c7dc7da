"""Iterative processing (bulk + delta iterations).

Reference parity: bulk iterations (flink-java operators/IterativeDataSet,
runtime loop in flink-runtime iterative/task/IterationHeadTask & co.) and
delta iterations (DeltaIteration with an updatable solution-set hash index,
CompactingHashTable).

Spark-first mapping: a driver-side loop over DataFrames. The reference's
runtime keeps loop-invariant data cached across supersteps — here that's
``cache()`` on invariants plus ``localCheckpoint`` per iteration to truncate
the growing lineage (otherwise plan size explodes and each iteration
re-executes history).

Scale notes: each superstep is a fresh distributed job; the per-iteration
overhead is scheduling, not data movement, as long as the working set is
cached. Delta iteration keeps the Flink semantics (solution set merged by
key each round, iterate while the workset is non-empty).
"""

from __future__ import annotations

import contextlib
import threading
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_PIN_SCOPES = threading.local()


def _scope_stack() -> list:
    if not hasattr(_PIN_SCOPES, "stack"):
        _PIN_SCOPES.stack = []
    return _PIN_SCOPES.stack


def _release_checkpoint(ckpt: DataFrame) -> None:
    """Unpersist the storage blocks behind one ``localCheckpoint``-ed
    frame via its LogicalRDD handle. After this, ANY action on the frame
    (or anything derived from it) fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — lineage was truncated, so there
    is nothing to recompute from. Only call once every consumer is done."""
    plan = ckpt._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


@contextlib.contextmanager
def pinned_scope():
    """Deterministic release of :func:`materialize` pins.

    ``localCheckpoint`` blocks are otherwise freed only when BOTH the
    Python proxy and the JVM Dataset get garbage-collected and the
    ContextCleaner runs — measured on the ingest loops: ~1 pinned RDD
    per epoch surviving explicit ``gc.collect()``, 20 resident blocks
    after 24 epochs, unbounded over a long crawl. Every ``materialize``
    call made inside the ``with`` body registers its checkpoint with the
    innermost scope on THIS thread; scope exit unpersists them all. The
    epoch bodies of the four streaming ingest loops wrap themselves in
    one — their pins are epoch-internal by construction (consumed before
    the epoch's writes return). Outside any scope, behavior is unchanged
    (GC-based release). Do NOT leak a materialized frame out of a scope:
    its first post-exit action fails loudly rather than silently
    recomputing."""
    scope = push_pin_scope()
    try:
        yield
    finally:
        release_pin_scope(scope)


def push_pin_scope() -> list:
    """Non-context-manager half of :func:`pinned_scope` (for bodies that
    already manage a try/finally): open a pin scope on this thread and
    return its handle. MUST be paired with :func:`release_pin_scope` in
    the finally."""
    scope: list[DataFrame] = []
    _scope_stack().append(scope)
    return scope


def release_pin_scope(scope: list) -> None:
    """Close a :func:`push_pin_scope` scope: unpersist every checkpoint
    :func:`materialize` registered in it. Best-effort per pin — a py4j
    hiccup here must not mask the body's outcome (the block then falls
    back to GC-based cleanup)."""
    stack = _scope_stack()
    if scope in stack:
        stack.remove(scope)
    for ckpt in scope:
        try:
            _release_checkpoint(ckpt)
        except Exception:  # noqa: BLE001
            pass


def _materialize(df: DataFrame) -> DataFrame:
    """localCheckpoint + re-alias every column.

    The re-alias mints fresh attribute exprIds: checkpointed LogicalRDDs
    KEEP their source plan's exprIds, so two frames materialized from shared
    lineage can expose identical ids — a later join between them then
    miscompiles (AttributeMap "key not found" at resolution). Fresh aliases
    make each materialized frame's attributes globally unique."""
    ckpt = df.localCheckpoint(eager=True)
    stack = _scope_stack()
    if stack:
        stack[-1].append(ckpt)
    return ckpt.select(*[F.col(c).alias(c) for c in ckpt.columns])


def materialize(df: DataFrame) -> DataFrame:
    """Public pin for LOOP-INVARIANT inputs of an iteration.

    Without this, any frame referenced inside a ``step`` closure re-executes
    its full upstream plan every superstep — invisible when the input is a
    parquet scan, catastrophic when it is an expensive derivation (e.g. the
    MinHash pair generator feeding connected components re-ran LSH per
    superstep: measured 2.1× on the whole near-dedup pipeline at sf1, a
    timeout at sf10). Mirrors the reference runtime's loop-invariant caching
    (flink-runtime iterative/task/IterationHeadTask back-channel cache).
    """
    return _materialize(df)


def iterate(
    initial: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iterations: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
    checkpoint_every: int = 1,
    changed_col: str | None = None,
) -> DataFrame:
    """Bulk iteration: ``state = step(state, i)`` for up to ``max_iterations``,
    stopping early when ``converged(prev, curr)`` returns True.

    ``changed_col`` (r13) fuses convergence detection into the superstep's
    own checkpoint action: ``step``'s output must carry a boolean column of
    that name ("this row changed this round"); its sum rides the eager
    ``localCheckpoint`` as a ``Dataset.observe`` metric, and the loop stops
    when no row changed — ONE job per superstep instead of two (the
    separate prev⋈curr comparison job a ``converged`` callback costs).
    A NULL flag counts as unchanged (the sum skips it). The column is
    dropped from the state between rounds and from the result. Mutually
    exclusive with ``converged``, and it checkpoints every superstep, so
    it requires ``checkpoint_every=1``.
    """
    if changed_col is not None:
        if converged is not None:
            raise ValueError("pass either converged or changed_col, not both")
        if checkpoint_every != 1:
            raise ValueError(
                "changed_col checkpoints every superstep; checkpoint_every "
                f"must be 1, got {checkpoint_every}"
            )
        from pyspark.sql import Observation

        state = _materialize(initial)
        for i in range(max_iterations):
            obs = Observation()
            nxt = step(state, i).observe(
                obs,
                F.sum(F.col(changed_col).cast("long")).alias("_n_changed"),
            )
            # The eager checkpoint is the action that populates the
            # observation — obs.get returns as soon as it completes.
            state = _materialize(nxt).drop(changed_col)
            if not (obs.get["_n_changed"] or 0):
                break
        return state
    state = _materialize(initial)
    for i in range(max_iterations):
        nxt = step(state, i)
        if (i + 1) % checkpoint_every == 0:
            nxt = _materialize(nxt)
        if converged is not None and converged(state, nxt):
            state = nxt
            break
        state = nxt
    return state


def iterate_delta(
    solution: DataFrame,
    workset: DataFrame,
    step: Callable[[DataFrame, DataFrame, int], tuple[DataFrame, DataFrame]],
    key_cols: list[str],
    max_iterations: int,
) -> DataFrame:
    """Delta iteration (reference DeltaIteration): per round, ``step`` returns
    (delta, new_workset); the delta is merged into the solution set by key
    (new rows win); iteration stops when the workset is empty.
    """
    solution = _materialize(solution)
    workset = _materialize(workset)
    for i in range(max_iterations):
        if workset.isEmpty():
            break
        delta, new_workset = step(solution, workset, i)
        delta = _materialize(delta)
        # Merge: delta rows replace same-key solution rows.
        solution = _materialize(
            solution.join(delta.select(*key_cols), key_cols, "left_anti")
            .unionByName(delta)
        )
        workset = _materialize(new_workset)
    return solution
