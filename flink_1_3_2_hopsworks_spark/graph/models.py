"""Gelly iteration models: scatter-gather and gather-sum-apply (+ the
CommunityDetection library algo built on them).

Reference parity: flink-gelly spargel/ScatterGatherIteration.java
(MessagingFunction sends messages along out-edges, VertexUpdateFunction
combines them into the new vertex value), gsa/GatherSumApplyIteration.java
(Gather computes one partial per in-edge/neighbor, Sum reduces partials,
Apply updates the vertex), and library/CommunityDetection.java (Leung et
al. label propagation with score attenuation). All are built on DataSet
delta iterations in the reference; here each superstep is the same
relational skeleton:

    msgs = edges ⋈ state(src) → per-edge message expression
         → groupBy(dst) aggregate → join back into state

expressed entirely with DataFrame expressions — the per-superstep plan is
pure Catalyst (two shuffles: the edge⋈state join and the message
aggregate), with ``iterate``'s localCheckpoint truncating lineage between
supersteps. No Python per-row code anywhere.

Scale notes: messages shuffle on vertex id; pre-partitioning both edges
and state on id co-locates the join. The model facades are declarative
(message/aggregate/update are Columns, not lambdas), so Catalyst fuses the
superstep into whole-stage-codegen'd exchanges — the same plan shape a
hand-written PageRank/SSSP gets.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from flink_1_3_2_hopsworks_spark.graph.pregel import vertices_from_edges
from flink_1_3_2_hopsworks_spark.operators.iterate import iterate, materialize


def _superstep_loop(
    state: DataFrame,
    edges: DataFrame,
    message: Column,
    aggregate: Column,
    update: Callable[[Column, Column], Column],
    value_col: str,
    max_iterations: int,
    converge_on: str | None,
) -> DataFrame:
    """Shared superstep skeleton for both iteration models.

    ``message`` may reference edge columns plus the sending endpoint's
    state columns (the join below exposes both); ``aggregate`` reduces the
    per-target ``msg`` column; ``update(old_value, aggregated_msg)``
    produces the new value (aggregated_msg is NULL for vertices receiving
    no message).
    """
    # Pin the loop-invariant edge list — joined every superstep.
    edges = materialize(edges)

    def step(st: DataFrame, i: int) -> DataFrame:
        msgs = (
            edges.join(st, edges["src"] == st["id"])
            .select(F.col("dst").alias("id"), message.alias("msg"))
            .groupBy("id")
            .agg(aggregate.alias("msg"))
        )
        new_value = update(F.col(value_col), F.col("msg"))
        cols = ["id", new_value.alias(value_col)]
        if converge_on:
            # Null-safe: a user update() that yields NULL must count as a
            # change, not vanish (NULL != x is NULL). Convergence rides the
            # superstep's checkpoint action (iterate changed_col) — no
            # separate prev⋈curr comparison job per round (r13).
            cols.append(
                (~new_value.eqNullSafe(F.col(value_col))).alias("_changed")
            )
        return st.join(msgs, "id", "left").select(*cols)

    return iterate(
        state, step, max_iterations,
        changed_col="_changed" if converge_on else None,
    )


def scatter_gather_iteration(
    vertices: DataFrame,
    edges: DataFrame,
    message: Column,
    aggregate: Column,
    update: Callable[[Column, Column], Column],
    value_col: str = "value",
    max_iterations: int = 20,
    converge_on_value: bool = True,
) -> DataFrame:
    """Scatter-gather model (reference spargel/ScatterGatherIteration):
    every superstep, each vertex SCATTERS ``message`` along its out-edges
    (the expression sees edge columns + the source vertex's state), and
    each vertex GATHERS its inbox with ``aggregate`` then applies
    ``update(old, msg)``.

    ``vertices`` must have columns (id, <value_col>); ``edges`` (src, dst,
    ...edge attrs). Messages flow src→dst; symmetrize edges upstream for
    undirected semantics.

    ``update`` must be deterministic (no ``rand()`` and the like): with
    ``converge_on_value`` the change flag evaluates it a second time, so
    a nondeterministic update could flag a change inconsistent with the
    value it stores.
    """
    return _superstep_loop(
        vertices, edges, message, aggregate, update, value_col,
        max_iterations, value_col if converge_on_value else None,
    )


def gather_sum_apply_iteration(
    vertices: DataFrame,
    edges: DataFrame,
    gather: Column,
    sum_agg: Column,
    apply: Callable[[Column, Column], Column],
    value_col: str = "value",
    max_iterations: int = 20,
    converge_on_value: bool = True,
) -> DataFrame:
    """Gather-sum-apply model (reference gsa/GatherSumApplyIteration):
    GATHER computes one partial value per in-edge from (edge attrs +
    neighbor state), SUM reduces the partials per vertex, APPLY merges the
    reduced value into the vertex state.

    Relationally this is the scatter-gather skeleton viewed from the
    receiving side (the reference differs in where the UDF runs, not in
    the dataflow): gather ≡ the per-edge expression, sum ≡ the aggregate,
    apply ≡ the update. Kept as a separate spelling for API parity.

    ``apply`` must be deterministic, for the same reason as
    :func:`scatter_gather_iteration`'s ``update``.
    """
    return _superstep_loop(
        vertices, edges, gather, sum_agg, apply, value_col,
        max_iterations, value_col if converge_on_value else None,
    )


def sssp_scatter_gather(
    edges: DataFrame,
    source,
    weight_col: str = "weight",
    max_iterations: int = 20,
) -> DataFrame:
    """SSSP re-expressed on the scatter-gather facade (reference
    library/SingleSourceShortestPaths runs on scatter-gather): scatter
    distance+weight along out-edges, gather min, keep the smaller of old
    and candidate. Must produce exactly ``pregel.sssp``'s output (pytest
    asserts equality)."""
    if weight_col not in edges.columns:
        edges = edges.withColumn(weight_col, F.lit(1.0))
    init = vertices_from_edges(edges).select(
        "id",
        F.when(F.col("id") == source, 0.0)
        .otherwise(float("inf"))
        .alias("distance"),
    )
    return scatter_gather_iteration(
        init,
        edges,
        message=F.col("distance") + F.col(weight_col),
        aggregate=F.min("msg"),
        update=lambda old, msg: F.least(old, F.coalesce(msg, old)),
        value_col="distance",
        max_iterations=max_iterations,
    )


def community_detection(
    edges: DataFrame,
    max_iterations: int = 10,
    delta: float = 0.5,
    weight_col: str | None = None,
) -> DataFrame:
    """Community detection (reference library/CommunityDetection.java,
    after Leung et al., "Towards real-time community detection in large
    networks"): label propagation with score attenuation. Per superstep a
    vertex sends (label, score·edge_weight) to every neighbor; a receiver
    adopts the label with the highest summed score (ties → smaller label,
    deterministic) and, when its label changes, its new score is that
    label's best received score minus ``delta`` (hop attenuation keeps
    labels from flooding the whole graph).

    Undirected: edges are symmetrized. Returns (id, label).

    Faithful to the reference's update rule: the adopted label is the
    argmax by SUMMED received score (first-in-TreeMap tie-break = smallest
    label); the vertex's new score is the HIGHEST single received score of
    that label, attenuated by ``delta / superstep`` only when the label
    actually changed (attenuation decays as supersteps advance, and an
    unchanged label re-inflates its holder's score).
    """
    sym = edges.select("src", "dst", *([weight_col] if weight_col else []))
    sym = sym.unionByName(
        sym.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            *([weight_col] if weight_col else []),
        )
    )
    sym = materialize(sym)  # loop-invariant, joined every superstep
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    init = vertices_from_edges(edges).select(
        "id", F.col("id").alias("label"), F.lit(1.0).alias("score")
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        msgs = sym.join(state, sym["src"] == state["id"]).select(
            F.col("dst").alias("id"),
            "label",
            (F.col("score") * w).alias("score"),
        )
        per_label = msgs.groupBy("id", "label").agg(
            F.sum("score").alias("total"), F.max("score").alias("best")
        )
        winner = (
            per_label.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(
                        F.desc("total"), F.asc("label")
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .select("id", F.col("label").alias("new_label"), "best")
        )
        superstep = i + 1
        # `_changed` = the adopted label differs from the held one (labels
        # are never NULL — init is the id and coalesce keeps it non-NULL);
        # convergence rides the checkpoint action (iterate changed_col).
        return state.join(winner, "id", "left").select(
            "id",
            F.coalesce("new_label", "label").alias("label"),
            F.when(F.col("new_label").isNull(), F.col("score"))
            .when(
                F.col("new_label") != F.col("label"),
                F.col("best") - F.lit(delta / superstep),
            )
            .otherwise(F.col("best"))
            .alias("score"),
            (
                F.col("new_label").isNotNull()
                & (F.col("new_label") != F.col("label"))
            ).alias("_changed"),
        )

    return iterate(
        init, step, max_iterations, changed_col="_changed"
    ).select("id", "label")
