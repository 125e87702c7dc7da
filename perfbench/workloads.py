"""The benchmark's workloads.

A workload makes its inputs from the seed (``prepare``), then runs whole
passes of the same operations (``run_pass``); each operation's result is
kept and checked once the timed passes are over (``check``). The engine
is driven only through its public functions: ``registry.queries()`` for
the batch workloads, ``streaming/windows.py`` and
``streaming/cep.py::Pattern.match_stream`` for ``event_stream``, and
``streaming/funnel.py::curation_funnel_stream`` for ``curation_stream``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen

TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


class Op:
    """One timed operation: a query, or one trigger of a stream."""

    def __init__(self, name: str, t0: float, t1: float, key: tuple, result=None):
        self.name, self.t0, self.t1, self.result = name, t0, t1, result
        # (perfbench.op job property, streaming batch id or None): how the
        # traced run finds the operation's Spark jobs.
        self.key = key

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Workload:
    """One workload: inputs made from a seed, whole passes of the same
    operations, and the checks of their results."""

    name = ""
    tables: list[str] = []
    # Whether timed passes can repeat on the same inputs; a workload whose
    # state moves forward with each pass runs exactly one.
    repeatable = True

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work = spark, work
        self.data = os.path.join(work, "data")
        self.rng = np.random.default_rng(seed)
        self.passes = 0
        # Streaming progress reports of every timed query, kept for the
        # per-layer split.
        self.progress: list[dict] = []
        # Directories whose files are the epoch stores (curation_stream).
        self.store_dirs: list[str] = []

    def write(self, name: str, table: pa.Table, n_files: int) -> None:
        gen.write_table(self.data, name, table, n_files)

    def duckdb(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        con.execute("SET threads = 4")
        con.execute(f"SET temp_directory = '{self.work}/duckdb_tmp'")
        con.execute("SET max_temp_directory_size = '2GB'")
        con.execute("SET TimeZone = 'UTC'")
        checks.duckdb_views(con, self.data, self.tables)
        return con

    def prepare(self) -> None:
        raise NotImplementedError

    def run_pass(self, timed: bool) -> list[Op]:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> list[str]:
        raise NotImplementedError


class _QueryWorkload(Workload):
    """Batch workload: each operation collects one registered query."""

    queries: list[str] = []
    # Oracle results by query name, computed on the first check.
    oracle: dict | None = None

    def run_pass(self, timed: bool) -> list[Op]:
        from flink_1_3_2_hopsworks_spark import registry

        qs = registry.queries()
        sc = self.spark.sparkContext
        ops = []
        for q in self.queries:
            tag = f"{q}#{self.passes}"
            sc.setLocalProperty("perfbench.op", tag)
            t0 = time.time()
            df = qs[q](self.spark, self.data)
            rows = df.collect()
            ops.append(Op(q, t0, time.time(), (tag, None), (df.columns, rows)))
        sc.setLocalProperty("perfbench.op", None)
        self.passes += 1
        return ops

    def check_oracles(self, ops: list[Op], names) -> list[str]:
        from flink_1_3_2_hopsworks_spark import registry

        if self.oracle is None:
            oracle = registry.oracle_sql()
            con = self.duckdb()
            self.oracle = {q: checks.oracle_rows(con, oracle[q]) for q in names}
            con.close()
        want = self.oracle
        bad = []
        for op in ops:
            if op.name in want:
                cols, rows = op.result
                bad += [f"{op.name}: {m}" for m in
                        checks.compare_rows(cols, rows, *want[op.name])]
        return bad


class Relational(_QueryWorkload):
    """JVM-only relational plans (scan, exchange, join, aggregation): the
    16 TPC-H queries of bench.py's headline list and the relational
    operator queries."""

    name = "relational"
    tables = TPCH
    # 10 x the sf0.1 row counts (lineitem ~6.0M rows); the tables over
    # 10k rows in 4 files of 2 row groups, so every scan splits.
    K = 10.0
    queries = [
        "q1_pricing_summary",
        "q2_min_cost_supplier",
        "q3_shipping_priority",
        "q4_order_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "q7_volume_shipping",
        "q8_national_market_share",
        "q9_product_type_profit",
        "q10_returned_items",
        "q13_customer_distribution",
        "q14_promo_revenue",
        "q16_supplier_cnt",
        "q18_large_volume_customer",
        "q19_discounted_revenue",
        "q21_suppliers_kept_orders_waiting",
        "op_outer_join",
        "op_grouping_sets",
        "op_first_n_per_group",
        "op_top_k",
        "op_ranking_functions",
    ]

    def prepare(self) -> None:
        for name, t in gen.tpch_tables(self.rng, self.K).items():
            self.write(name, t, 4 if t.num_rows > 10_000 else 1)

    def check(self, ops):
        return self.check_oracles(ops, self.queries)


class TextDedup(_QueryWorkload):
    """Near-duplicate and similarity queries at sf0.1 size: mostly the
    Python kernels of dedup/ and similarity/, band shuffles and the
    connected-components supersteps of operators/iterate.py."""

    name = "text_dedup"
    tables = TPCH + ["documents", "embeddings"]
    N_DOCS, N_EMB, K_TPCH = 5000, 2000, 1.0
    queries = [
        "dd_exact_dedup",
        "dd_minhash_pairs",
        "dd_simhash_pairs",
        "dd_ngram_jaccard_pairs",
        "pipe_near_dedup",
        "dd_semantic_dedup",
        "sim_bruteforce_topk",
        "sim_lsh_topk",
        "sim_bm25_topk",
        "gr_customer_jaccard",
    ]
    # pipe_near_dedup's DuckDB oracle (a recursive-CTE closure) costs
    # more than the whole workload; a union-find property stands in.
    PROPERTY_CHECKED = {"pipe_near_dedup"}

    def prepare(self) -> None:
        for name, t in gen.tpch_tables(self.rng, self.K_TPCH).items():
            self.write(name, t, 4 if t.num_rows > 10_000 else 1)
        docs = gen.documents_table(self.rng, self.N_DOCS)
        self.doc_ids = docs["doc_id"].to_pylist()
        self.write("documents", docs, 4)
        self.write("embeddings", gen.embeddings_table(self.rng, self.N_EMB), 2)

    def check(self, ops):
        bad = self.check_oracles(
            ops, [q for q in self.queries if q not in self.PROPERTY_CHECKED]
        )
        from flink_1_3_2_hopsworks_spark.catalog import load_table
        from flink_1_3_2_hopsworks_spark.dedup.minhash import minhash_star_edges

        docs = load_table(self.spark, self.data, "documents")
        edges = [
            (r[0], r[1]) for r in minhash_star_edges(
                docs, "doc_id", "text", threshold=0.8, portable=True,
                recall_floor=None,
            ).collect()
        ]
        for op in ops:
            if op.name == "pipe_near_dedup":
                cols, rows = op.result
                ix = [cols.index(c) for c in ("doc_id", "canonical_id", "kept")]
                got = [tuple(r[i] for i in ix) for r in rows]
                bad += [f"pipe_near_dedup: {m}" for m in
                        checks.check_keeps_component_min(got, edges, self.doc_ids)]
        return bad


EVENT_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


class _StreamWorkload(Workload):
    def run_stream(self, label: str, start) -> list[Op]:
        """Call ``start`` (which starts a query with an availableNow
        trigger), wait until the backlog is drained and every batch is
        committed, and return one Op per trigger from the query's progress
        reports."""
        sc = self.spark.sparkContext
        tag = f"{label}#{self.passes}"
        sc.setLocalProperty("perfbench.op", tag)
        q = start()
        q.awaitTermination()
        sc.setLocalProperty("perfbench.op", None)
        if q.exception() is not None:
            raise RuntimeError(f"{label}: {q.exception()}")
        ops = []
        for p in q.recentProgress:
            p = json.loads(p.json) if hasattr(p, "json") else dict(p)
            p["label"], p["_pass"] = label, self.passes
            self.progress.append(p)
            t0 = _iso_seconds(p["timestamp"])
            dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
            ops.append(Op(f"{label}:{p['batchId']}", t0, t0 + dur,
                          (tag, str(p["batchId"]))))
        return ops


def _footer_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def _iso_seconds(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class EventStream(_StreamWorkload):
    """A backlog of events replayed one file per trigger through a
    tumbling window, a session window and CEP."""

    name = "event_stream"
    tables = ["events"]
    N_EVENTS, N_USERS, N_FILES = 20_000, 300, 2

    def prepare(self) -> None:
        ev = gen.events_table(self.rng, self.N_EVENTS, self.N_USERS)
        self.write("events", ev, 1)
        per = -(-ev.num_rows // self.N_FILES)
        self.src = os.path.join(self.work, "event_src")
        self.footer_rows = sum(
            _footer_rows(gen.stage_file(self.src, i, ev.slice(i * per, per)))
            for i in range(self.N_FILES)
        )

    def _source(self):
        import pyspark.sql.functions as F

        return (
            self.spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    def _sink(self, df, label: str):
        base = os.path.join(self.work, "out", f"{label}{self.passes}")
        shutil.rmtree(base, ignore_errors=True)
        return (
            df.writeStream.format("parquet")
            .option("path", f"{base}/rows")
            .option("checkpointLocation", f"{base}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
        )

    def run_pass(self, timed: bool) -> list[Op]:
        import pyspark.sql.functions as F

        from flink_1_3_2_hopsworks_spark.streaming.cep import Pattern
        from flink_1_3_2_hopsworks_spark.streaming.windows import (
            session_window_agg,
            tumbling_window_agg,
        )

        aggs = [F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("total_value")]
        tumble = tumbling_window_agg(
            self._source(), "ts", "1 hour", ["event_type"], aggs,
            watermark="1 hour",
        )
        session = session_window_agg(
            self._source(), "ts", "5 minutes", ["user_id"], aggs,
            watermark="10 minutes",
        )
        pattern = (
            Pattern.begin("signup", lambda e: e["event_type"] == "signup")
            .followed_by("purchase", lambda e: e["event_type"] == "purchase")
            .within(30 * 60)
        )
        cep = pattern.match_stream(
            self._source()
            .filter(F.col("event_type").isin("signup", "purchase"))
            .select("user_id", "ts", "event_id", "event_type"),
            ["user_id"],
        ).select(
            "user_id",
            F.element_at("event_ids", 1).alias("signup_id"),
            F.element_at("event_ids", 2).alias("purchase_id"),
        )
        progress_from = len(self.progress)
        ops = []
        for label, df in (("tumble", tumble), ("session", session), ("cep", cep)):
            ops += self.run_stream(label, self._sink(df, label).start)
        if not timed:
            del self.progress[progress_from:]
        self.passes += 1
        return ops

    def outputs(self) -> dict:
        """The last timed pass's results as the engine left them: the rows
        each sink committed, and the count held in each window state."""
        spark = self.spark
        base = os.path.join(self.work, "out")
        p = self.passes - 1
        cols = {
            "tumble": ["window_start", "window_end", "event_type", "n_events", "total_value"],
            "session": ["window_start", "window_end", "user_id", "n_events", "total_value"],
            "cep": ["user_id", "signup_id", "purchase_id"],
        }
        out = {
            label: [tuple(r) for r in spark.read.parquet(f"{base}/{label}{p}/rows")
                    .select(*c).collect()]
            for label, c in cols.items()
        }
        for label in ("tumble", "session"):
            state = spark.read.format("statestore").load(f"{base}/{label}{p}/ckpt")
            out[f"{label}_open"] = _state_count(state)
        return out

    def check(self, ops) -> list[str]:
        return self.verify(self.outputs())

    def verify(self, out: dict) -> list[str]:
        from flink_1_3_2_hopsworks_spark import registry

        p = self.passes - 1
        last, read = {}, {}
        for x in self.progress:
            last[x["label"]] = x
            if x["_pass"] == p:
                read[x["label"]] = read.get(x["label"], 0) + x["numInputRows"]
        bad = []
        for label in ("tumble", "session", "cep"):
            if read[label] != self.footer_rows:
                bad.append(f"{label}: read {read[label]} rows, "
                           f"source footers hold {self.footer_rows}")
        # The backlog is in event-time order, so no row may be late.
        dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                      for x in self.progress for s in x.get("stateOperators", []))
        if dropped:
            bad.append(f"{dropped} rows dropped by the watermark")
        con = self.duckdb()
        for label, sql in (("tumble", TUMBLE_SQL), ("session", SESSION_SQL)):
            # Closed windows: those the final watermark has passed.
            wm = last[label]["eventTime"]["watermark"].replace("T", " ").rstrip("Z")
            want_cols, want = checks.oracle_rows(
                con, f"SELECT * FROM ({sql}) WHERE window_end <= TIMESTAMP '{wm}'")
            rows = out[label]
            bad += [f"{label}: {m}" for m in
                    checks.compare_rows(want_cols, rows, want_cols, want)]
            # Every event read is in an emitted window or a still-open one.
            emitted = sum(r[3] for r in rows)
            if emitted + out[f"{label}_open"] != read[label]:
                bad.append(f"{label}: emitted {emitted} + open "
                           f"{out[label + '_open']} != read {read[label]}")
        cep_cols = ["user_id", "signup_id", "purchase_id"]
        _, want = checks.oracle_rows(
            con, "SELECT user_id, signup_id, purchase_id FROM ("
            + registry.oracle_sql()["cep_signup_purchase"] + ")")
        con.close()
        bad += [f"cep: {m}" for m in
                checks.compare_rows(cep_cols, out["cep"], cep_cols, want)]
        return bad


TUMBLE_SQL = """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
           event_type, COUNT(*) AS n_events, SUM(value) AS total_value
    FROM events GROUP BY 1, 2, 3"""

SESSION_SQL = """
    WITH m AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER w < INTERVAL 5 MINUTE
                    THEN 0 ELSE 1 END AS brk
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid FROM m
    )
    SELECT MIN(ts) AS window_start, MAX(ts) + INTERVAL 5 MINUTE AS window_end,
           user_id, COUNT(*) AS n_events, SUM(value) AS total_value
    FROM s GROUP BY user_id, sid"""


def _state_count(state) -> int:
    """Sum of the count buffers of the windows still held in state."""
    import pyspark.sql.functions as F

    fields = [f.name for f in state.schema["value"].dataType.fields]
    col = next(f for f in fields if f.startswith("count"))
    return state.agg(F.sum(F.col("value")[col])).collect()[0][0] or 0


class CurationStream(_StreamWorkload):
    """The curation funnel over documents split into epochs by
    ``doc_id mod N_EPOCHS``; epoch 0 seeds the stores untimed, and the
    timed pass ingests the remaining epochs against them."""

    name = "curation_stream"
    tables = ["documents"]
    repeatable = False
    N_DOCS, N_EPOCHS = 1500, 2

    def prepare(self) -> None:
        docs = gen.documents_table(self.rng, self.N_DOCS)
        self.write("documents", docs, 1)
        ids = np.asarray(docs["doc_id"])
        self.epoch_tables = [
            docs.select(["doc_id", "text"]).filter(pa.array(ids % self.N_EPOCHS == e))
            for e in range(self.N_EPOCHS)
        ]
        self.base = os.path.join(self.work, "funnel")
        self.src = os.path.join(self.base, "src")
        self.store_dirs = [os.path.join(self.base, d)
                           for d in ("fp_store", "sig_store", "funnel")]

    def run_pass(self, timed: bool) -> list[Op]:
        from flink_1_3_2_hopsworks_spark.streaming.funnel import (
            curation_funnel_stream,
        )

        epochs = [0] if not timed else list(range(1, self.N_EPOCHS))
        if not timed:
            shutil.rmtree(self.base, ignore_errors=True)
        self.footer_rows = sum(
            _footer_rows(gen.stage_file(self.src, e, self.epoch_tables[e]))
            for e in epochs
        )
        stream = (
            self.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        fp, sig, funnel = self.store_dirs
        progress_from = len(self.progress)
        ops = self.run_stream("funnel", lambda: curation_funnel_stream(
            stream, fp, sig, funnel, os.path.join(self.base, "ckpt")
        ))
        if not timed:
            del self.progress[progress_from:]
        self.passes += 1
        return ops

    def outputs(self) -> dict:
        """The funnel rows of every epoch, and the number of distinct doc
        ids in the signature store."""
        import pyspark.sql.functions as F

        spark = self.spark
        _, sig, funnel = self.store_dirs
        return {
            "funnel": [tuple(r) for r in spark.read.parquet(funnel).select(
                F.col("batch_id").cast("long"), *FUNNEL_COLS[1:]).collect()],
            "store_ids": spark.read.parquet(sig).select("doc_id").distinct().count(),
        }

    def check(self, ops) -> list[str]:
        return self.verify(self.outputs())

    def verify(self, out: dict) -> list[str]:
        from flink_1_3_2_hopsworks_spark.streaming.showcase_oracle import (
            _curation_funnel_stream_oracle,
        )

        got = out["funnel"]
        bad = []
        read = sum(x["numInputRows"] for x in self.progress)
        if read != self.footer_rows:
            bad.append(f"read {read} rows, the timed epochs hold {self.footer_rows}")
        con = self.duckdb()
        want_cols, want = checks.oracle_rows(
            con, _curation_funnel_stream_oracle(self.N_EPOCHS))
        con.close()
        bad += checks.compare_rows(FUNNEL_COLS, got, want_cols, want)
        by_epoch: dict[int, list] = {}
        for r in sorted(got, key=lambda r: (r[0], r[1])):
            by_epoch.setdefault(r[0], []).append(r[3])
        for e, n in by_epoch.items():
            if any(b > a for a, b in zip(n, n[1:])):
                bad.append(f"epoch {e}: n_docs grows from stage to stage: {n}")
        survivors = sum(r[3] for r in got if r[2] == "near_dedup")
        if survivors != out["store_ids"]:
            bad.append(f"signature store holds {out['store_ids']} doc ids, "
                       f"near_dedup survivors sum to {survivors}")
        return bad


FUNNEL_COLS = ["batch_id", "stage_idx", "stage", "n_docs", "n_tokens", "id_checksum"]

WORKLOADS = {w.name: w for w in (Relational, TextDedup, EventStream, CurationStream)}
