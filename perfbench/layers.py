"""Per-layer split of a traced run.

Reads Spark's event log (jobs, stages, tasks, SQL plans and their
metrics) and the streams' progress reports, keeps what belongs to the
timed passes, and sums it by the engine's layers:

- ``session``: driver-side time and scheduling (jobs, stages, tasks);
- ``catalog``: parquet scans;
- ``exchange``: shuffles and broadcasts;
- ``operators``: executor compute (run time, CPU, GC, spill, memory);
- ``arrow``: the Python/Arrow boundary (``mapInPandas`` kernels in
  ``dedup/`` and ``similarity/``, ``applyInPandasWithState`` in
  ``streaming/cep.py``);
- ``iterate``: ``localCheckpoint`` supersteps of ``operators/iterate.py``;
- ``streaming`` and ``state``: the micro-batch split and state stores;
- ``stores``: the epoch stores of the curation funnel.

It also writes the span tree operation -> job -> stage -> operator, each
span with its self time; a stage's task time not covered by any
operator's timing metric is an ``unattributed`` child.
"""

from __future__ import annotations

import json
import os
import statistics


def _read_events(eventlog_dir: str):
    """Events of the (possibly rolled) log under ``eventlog_dir``, in
    order: rolled files are ``events_<n>_<app>``."""
    files = []
    for root, _, names in os.walk(eventlog_dir):
        for n in names:
            if n.startswith("events_"):
                files.append((int(n.split("_")[1]), os.path.join(root, n)))
    for _, path in sorted(files):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"], m["metricType"])
    for child in info.get("children", []):
        _walk_plan(child, out)


class EventLog:
    """The parts of one application's event log the split needs."""

    def __init__(self, eventlog_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.metric_of: dict[int, tuple] = {}
        self.driver_updates: list[tuple[int, int, int]] = []
        for ev in _read_events(eventlog_dir):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "props": ev.get("Properties", {}),
                    "stages": ev["Stage IDs"],
                    "names": [s["Stage Name"] for s in ev["Stage Infos"]],
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                self.stages[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                self.tasks.append(ev)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(ev["sparkPlanInfo"], self.metric_of)
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev["sqlPlanMetrics"]:
                    self.metric_of[m["accumulatorId"]] = ("", m["name"], m["metricType"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc, value in ev["accumUpdates"]:
                    self.driver_updates.append((ev["executionId"], acc, value))


# SQL metrics the driver itself updates (file listing and broadcast
# building); every other metric is summed from the stages' accumulables.
DRIVER_METRICS = {
    "number of files read", "size of files read", "metadata time",
    "data size", "time to build", "time to collect", "time to broadcast",
}


def _seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def _union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def per_layer(wl, ops, eventlog_dir: str, trace_dir: str) -> dict:
    log = EventLog(eventlog_dir)

    # Jobs of the timed passes: the warm pass is pass 0, the output
    # checks run outside any operation.
    def op_key(props):
        tag = props.get("perfbench.op")
        if not tag or tag.endswith("#0"):
            return None
        return tag, props.get("streaming.sql.batchId")

    jobs = {j: d for j, d in log.jobs.items() if op_key(d["props"]) and "end" in d}
    stages = {s: log.stages[s] for d in jobs.values() for s in d["stages"]
              if s in log.stages}
    tasks = [t for t in log.tasks if t["Stage ID"] in stages]
    executions = {
        int(d["props"]["spark.sql.execution.id"])
        for d in jobs.values() if "spark.sql.execution.id" in d["props"]
    }

    # SQL metrics summed by name over the timed stages' accumulables and
    # the driver-side updates of the timed executions.
    by_name: dict[str, float] = {}
    by_stage_node: dict[int, dict[str, float]] = {}

    def add(acc, value, stage=None):
        node, name, mtype = log.metric_of.get(acc, (None, None, None))
        if name is None:
            return
        by_name[name] = by_name.get(name, 0) + value
        if any(t in node for t in ("Python", "Pandas", "Arrow")):
            key = f"python node/{name}"
            by_name[key] = by_name.get(key, 0) + value
        if mtype in ("timing", "nsTiming"):
            key = f"{node}: {name}"
            by_name[key] = by_name.get(key, 0) + _seconds(value, mtype)
            if stage is not None:
                d = by_stage_node.setdefault(stage, {})
                d[key] = d.get(key, 0.0) + _seconds(value, mtype)

    for s, info in stages.items():
        for acc in info.get("Accumulables", []):
            if str(acc.get("Value", "")).lstrip("-").isdigit():
                add(acc["ID"], int(acc["Value"]), s)
    for execution, acc, value in log.driver_updates:
        if execution in executions and log.metric_of.get(acc, ("", ""))[1] in DRIVER_METRICS:
            add(acc, value)

    def metric(name):
        return by_name.get(name, 0)

    def timing(name):
        return sum(v for k, v in by_name.items() if k.endswith(f": {name}"))

    def tm(t, *path):
        v = t["Task Metrics"]
        for p in path:
            v = v.get(p, 0) if isinstance(v, dict) else 0
        return v or 0

    out = {}

    # session: operation time no job covers, and scheduling counts.
    op_jobs: dict[tuple, list] = {}
    for d in jobs.values():
        op_jobs.setdefault(op_key(d["props"]), []).append((d["start"], d["end"]))
    self_s = 0.0
    for op in ops:
        covered = [
            (max(a, op.t0), min(b, op.t1))
            for a, b in op_jobs.get(op.key, []) if b > op.t0 and a < op.t1
        ]
        self_s += max(0.0, op.seconds - _union_length(covered))
    sched = 0.0
    for t in tasks:
        info = t["Task Info"]
        busy = tm(t, "Executor Run Time") + tm(t, "Executor Deserialize Time") + tm(
            t, "Result Serialization Time")
        if info.get("Getting Result Time"):
            busy += info["Finish Time"] - info["Getting Result Time"]
        sched += max(0, info["Finish Time"] - info["Launch Time"] - busy)
    out["session.self_s"] = (self_s, "s")
    out["session.jobs"] = (len(jobs), "count")
    out["session.stages"] = (len(stages), "count")
    out["session.tasks"] = (len(tasks), "count")
    out["session.sched_delay_s"] = (sched / 1e3, "s")

    # catalog: parquet scans.
    out["catalog.scan_files"] = (metric("number of files read"), "count")
    out["catalog.scan_bytes"] = (metric("size of files read"), "bytes")
    out["catalog.scan_rows"] = (sum(tm(t, "Input Metrics", "Records Read") for t in tasks), "count")
    out["catalog.scan_s"] = (timing("scan time"), "s")

    # exchange: shuffles and broadcasts.
    out["exchange.shuffle_bytes"] = (
        sum(tm(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks), "bytes")
    out["exchange.shuffle_records"] = (
        sum(tm(t, "Shuffle Write Metrics", "Shuffle Records Written") for t in tasks), "count")
    out["exchange.fetch_wait_s"] = (
        sum(tm(t, "Shuffle Read Metrics", "Fetch Wait Time") for t in tasks) / 1e3, "s")
    read_by_stage: dict[int, list[int]] = {}
    for t in tasks:
        b = tm(t, "Shuffle Read Metrics", "Remote Bytes Read") + tm(
            t, "Shuffle Read Metrics", "Local Bytes Read")
        read_by_stage.setdefault(t["Stage ID"], []).append(b)
    heaviest = max(read_by_stage.values(), key=sum, default=[])
    nonzero = [b for b in heaviest if b > 0]
    skew_max = max(nonzero, default=0)
    skew_median = statistics.median(nonzero) if nonzero else 0
    out["exchange.skew"] = (skew_max / skew_median if skew_median else 1.0, "ratio")
    out["exchange.skew_max_bytes"] = (skew_max, "bytes")
    out["exchange.skew_median_bytes"] = (skew_median, "bytes")
    out["exchange.broadcast_bytes"] = (
        sum(v for acc_exec, acc, v in log.driver_updates
            if acc_exec in executions
            and log.metric_of.get(acc, ("", "", ""))[0].startswith("BroadcastExchange")
            and log.metric_of[acc][1] == "data size"), "bytes")
    out["exchange.broadcast_build_s"] = (timing("time to build"), "s")

    # operators: executor compute.
    out["operators.run_s"] = (sum(tm(t, "Executor Run Time") for t in tasks) / 1e3, "s")
    out["operators.cpu_s"] = (sum(tm(t, "Executor CPU Time") for t in tasks) / 1e9, "s")
    out["operators.gc_s"] = (sum(tm(t, "JVM GC Time") for t in tasks) / 1e3, "s")
    out["operators.spill_bytes"] = (sum(tm(t, "Disk Bytes Spilled") for t in tasks), "bytes")
    out["operators.peak_exec_mem_bytes"] = (
        max((tm(t, "Peak Execution Memory") for t in tasks), default=0), "bytes")

    # arrow: the Python worker boundary.
    out["arrow.worker_boot_s"] = (timing("time to start Python workers"), "s")
    out["arrow.worker_run_s"] = (timing("time to run Python workers"), "s")
    out["arrow.bytes_to_python"] = (metric("data sent to Python workers"), "bytes")
    out["arrow.bytes_from_python"] = (metric("data returned from Python workers"), "bytes")
    out["arrow.rows_from_python"] = (metric("python node/number of output rows"), "count")

    # iterate: jobs that materialize a localCheckpoint.
    steps = [d for d in jobs.values() if any("localCheckpoint" in n for n in d["names"])]
    out["iterate.supersteps"] = (len(steps), "count")
    out["iterate.s"] = (sum(d["end"] - d["start"] for d in steps), "s")

    # streaming and state: the timed triggers' progress reports.
    prog = wl.progress
    dur = lambda k: sum(p["durationMs"].get(k, 0) for p in prog) / 1e3  # noqa: E731
    out["streaming.triggers"] = (len(prog), "count")
    out["streaming.input_rows"] = (sum(p["numInputRows"] for p in prog), "count")
    for key, name in (("addBatch", "add_batch_s"), ("getBatch", "get_batch_s"),
                      ("latestOffset", "latest_offset_s"),
                      ("queryPlanning", "query_planning_s"),
                      ("walCommit", "wal_commit_s"),
                      ("commitOffsets", "commit_offsets_s")):
        out[f"streaming.{name}"] = (dur(key), "s")
    final = {}
    for p in prog:
        final[p["label"]] = p
    ops_state = [s for p in final.values() for s in p.get("stateOperators", [])]
    out["state.rows"] = (sum(s["numRowsTotal"] for s in ops_state), "count")
    out["state.memory_bytes"] = (sum(s["memoryUsedBytes"] for s in ops_state), "bytes")
    out["state.commit_s"] = (
        sum(s.get("commitTimeMs", 0) for p in prog for s in p.get("stateOperators", [])) / 1e3, "s")
    out["state.rows_dropped_by_watermark"] = (
        sum(s.get("numRowsDroppedByWatermark", 0)
            for p in prog for s in p.get("stateOperators", [])), "count")

    # stores: files the timed epochs wrote into the epoch stores.
    timed_epochs = {f"batch_id={p['batchId']}" for p in prog if p["label"] == "funnel"}
    files = nbytes = 0
    for d in wl.store_dirs:
        for root, _, names in os.walk(d):
            if not any(part in timed_epochs for part in root.split(os.sep)):
                continue
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, n))
    out["stores.files_written"] = (files, "count")
    out["stores.bytes_written"] = (nbytes, "bytes")
    out["stores.epoch_s"] = (
        sum(p["durationMs"].get("addBatch", 0) for p in prog if p["label"] == "funnel") / 1e3, "s")

    _write_spans(ops, jobs, stages, tasks, by_stage_node, op_key,
                 os.path.join(trace_dir, "spans.json"))
    return out


def _write_spans(ops, jobs, stages, tasks, by_stage_node, op_key, path) -> None:
    """Span tree operation -> job -> stage -> operator, with self times."""
    task_s: dict[int, float] = {}
    for t in tasks:
        task_s[t["Stage ID"]] = task_s.get(t["Stage ID"], 0.0) + (
            t["Task Metrics"].get("Executor Run Time", 0) / 1e3)
    seen_stage = set()
    spans = []
    for op in ops:
        job_spans = []
        for j, d in sorted(jobs.items()):
            if op_key(d["props"]) != op.key:
                continue
            stage_spans = []
            for s in d["stages"]:
                if s not in stages or s in seen_stage:
                    continue
                seen_stage.add(s)
                info = stages[s]
                operators = [
                    {"name": k, "busy_s": v}
                    for k, v in sorted(by_stage_node.get(s, {}).items())
                ]
                busy = task_s.get(s, 0.0)
                covered = sum(o["busy_s"] for o in operators)
                operators.append({"name": "unattributed",
                                  "busy_s": max(0.0, busy - covered)})
                stage_spans.append({
                    "stage": s, "name": info.get("Stage Name"),
                    "start": info.get("Submission Time", 0) / 1e3,
                    "end": info.get("Completion Time", 0) / 1e3,
                    "tasks": info.get("Number of Tasks"),
                    "task_busy_s": busy, "children": operators,
                })
            job_wall = d["end"] - d["start"]
            stage_wall = _union_length((x["start"], x["end"]) for x in stage_spans)
            job_spans.append({"job": j, "start": d["start"], "end": d["end"],
                              "self_s": max(0.0, job_wall - stage_wall),
                              "children": stage_spans})
        covered = _union_length(
            (max(x["start"], op.t0), min(x["end"], op.t1)) for x in job_spans
            if x["end"] > op.t0 and x["start"] < op.t1)
        spans.append({"op": op.name, "start": op.t0, "end": op.t1,
                      "self_s": max(0.0, op.seconds - covered),
                      "children": job_spans})
    with open(path, "w") as f:
        json.dump(spans, f, indent=1)
