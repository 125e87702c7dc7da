"""One benchmark run of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The run makes the
workload's inputs from the seed, starts one Spark session on
``local[<cores>]``, makes one untimed warm pass, then repeats timed passes
of the workload's operations until ``--seconds`` have passed (whole
passes only), checks every result against a computation made apart from
the engine, and prints one JSON object as its last line of output.

With ``--trace 0`` the metrics are the end-to-end ones (set-up time, pass
wall time, median operation latency). With ``--trace 1`` Spark's event
log is on, and the metrics are the per-layer split computed from it and
from the streams' progress reports, with the peak memory of the engine's
processes; spans go to ``.perfbench_work/<workload>/trace/spans.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time


def process_start_time() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = process_start_time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_1_3_2_hopsworks_spark"


class PeakRss:
    """Samples the proportional resident set (Pss, so that pages the forked
    Python workers share are counted once) of every descendant of this
    process — the Spark JVM and its Python workers — and keeps the largest
    sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def sample(self) -> None:
        total = 0
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(
                        (int(line.split()[1]) for line in f if line.startswith("Pss:")),
                        0,
                    )
            except (OSError, ValueError):
                continue
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024.0


def phase(name: str) -> None:
    """Log a step of the run, with seconds since the process started."""
    print(f"perfbench: {name} at {time.time() - PROCESS_START:.1f} s",
          file=sys.stderr, flush=True)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def start_session(workload: str, trace: bool):
    """Make an empty work directory for ``workload`` inside the checkout
    and start the engine's Spark session on ``local[<cores>]`` with its
    scratch files there; with ``trace`` Spark's event log is on. Returns
    (spark, work directory, event log directory)."""
    work = os.path.join(ROOT, ".perfbench_work", workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "trace"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import the engine package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    eventlog = os.path.join(work, "trace", "eventlog")
    if trace:
        os.makedirs(eventlog)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog}",
            "spark.eventLog.compress": "false",
        })
    from flink_1_3_2_hopsworks_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, work, eventlog


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/ in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    rss = PeakRss()
    rss.start()
    spark, work, eventlog = start_session(args.workload, bool(args.trace))
    try:
        phase("session started")
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.prepare()
        phase("inputs made")
        wl.run_pass(timed=False)
        setup_s = time.time() - PROCESS_START
        phase("warm pass done")

        ops, pass_walls = [], []
        begin = time.time()
        while not pass_walls or (
            wl.repeatable and time.time() - begin < args.seconds
        ):
            t0 = time.time()
            ops += wl.run_pass(timed=True)
            pass_walls.append(time.time() - t0)
        peak_rss_mb = rss.stop_mb()
        phase("timed passes done: " + " ".join(f"{w:.3f}" for w in pass_walls))
        failures = wl.check(ops)
        phase("outputs checked")
    except BaseException:
        stop_spark(spark)
        raise
    stop_spark(spark)
    phase("session stopped")

    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    if args.trace:
        import layers

        metrics = layers.per_layer(wl, ops, eventlog, os.path.join(work, "trace"))
        metrics["trace.wall_s"] = (statistics.median(pass_walls), "s")
        metrics["memory.peak_rss_mb"] = (peak_rss_mb, "MB")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(pass_walls), "s"),
            "op_p50_s": (statistics.median(op.seconds for op in ops), "s"),
        }
    print(json.dumps({
        "correct": not failures,
        "attempted": len(ops),
        "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
