#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout and builds nothing: the package is
imported from the checkout. Every file it writes lands under
``.perfbench_runs/`` in the checkout; the per-run state is deleted at the
end and a JSON record of the run is kept in ``.perfbench_runs/results/``.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric of BENCHMARK.json (``--trace 0``) or every per-layer metric
(``--trace 1``). The line before it carries the workload's own figures
(pages per second, pass time, ...) and the check details.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEMORY = "4g"


class TreeRss(threading.Thread):
    """High-water resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    @staticmethod
    def descendants() -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    @classmethod
    def cpu_s(cls) -> float:
        """CPU seconds used so far by the tree, reaped children included."""
        ticks = 0
        for pid in cls.descendants():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            except (OSError, IndexError, ValueError):
                continue
        return ticks / os.sysconf("SC_CLK_TCK")

    @staticmethod
    def rss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            return 0

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, sum(self.rss(p) for p in self.descendants()))
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        if self.is_alive():
            self.join(timeout=10)


def _isolate(rundir: Path, trace: bool) -> None:
    """Keep every file the run writes inside ``rundir`` and give the JVM an
    explicit heap. The package puts Spark scratch and query state on
    /dev/shm when that exists; the benchmark hides it so nothing lands
    outside the checkout."""
    tmp = rundir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    real_isdir = os.path.isdir
    os.path.isdir = lambda p: False if str(p).startswith("/dev/shm") else real_isdir(p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    conf = {
        "spark.local.dir": str(rundir / "spark-local"),
        "spark.sql.warehouse.dir": str(rundir / "warehouse"),
    }
    if trace:
        (rundir / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": f"file://{rundir / 'eventlog'}"})
    # every JVM, spark-submit's launcher included, would otherwise write
    # /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    args = ["--driver-memory", DRIVER_MEMORY,
            "--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM, and wait for every descendant to end."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(TreeRss.descendants()) > 1 and time.time() < deadline:
        time.sleep(0.2)


def run(args, spec: dict) -> dict:
    from perfbench import layers
    from perfbench.trace import NullTracer, Tracer, instrument, parse_event_log, span_table
    from perfbench.workloads import WORKLOADS, driver_query_names

    rundir = ROOT / ".perfbench_runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    _isolate(rundir, bool(args.trace))
    rss = TreeRss()  # sampled in traced runs only: it costs CPU in this process
    if args.trace:
        rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        from co_deduplicate_spark.session import build_session

        spark = build_session("perfbench", cores=len(os.sched_getaffinity(0)),
                              driver_memory=DRIVER_MEMORY)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        if args.trace:
            instrument(tracer)
        w = WORKLOADS[args.workload](spark, rundir, args.seed, tracer)
        setup_s = session_s + w.setup()

        per_round = w.ops_per_round()
        times, cpu, attempted, failed, k = [], [], 0, 0, 0
        start = time.perf_counter()
        while True:
            try:
                c0 = TreeRss.cpu_s()
                dt, ok = w.op(k)
                cpu.append(TreeRss.cpu_s() - c0)
                times.append(dt)
            except Exception:  # an operation that raises counts as failed
                traceback.print_exc()
                ok = False
            attempted += 1
            failed += not ok
            k += 1
            if time.perf_counter() - start >= args.seconds and k % per_round == 0:
                break
        failed = min(attempted, failed + w.finish())
        if not times:
            raise RuntimeError("no operation completed")
        disk_mb = w.disk_mb()

        extra: dict = {}
        if args.trace and w.name == "batch_dedup":
            extra.update(layers.operator_replay(spark, w.last_wk, tracer))
            extra.update(layers.kernel_bench(ROOT, args.seed, w.notes["pages"]))
        _stop_spark(spark)
        spark = None
        rss.stop()

        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        if args.trace:
            rows = span_table(tracer.spans, parse_event_log(rundir / "eventlog"))
            extra.update({"trace.op_mean_s": statistics.mean(times),
                          "peak_rss_mb": rss.peak / 2**20})
            queries = driver_query_names()
            values = layers.compute(rows, {"pipeline"} | {f"query.{q}" for q in queries},
                                    per_round, queries, extra)
            spec_metrics = spec["per_layer"]
            detail = {"spans": rows}
        else:
            values = {"op_mean_s": statistics.mean(times),
                      "op_cpu_s": statistics.mean(cpu),
                      "setup_s": setup_s,
                      "disk_mb": disk_mb}
            spec_metrics = spec["end_to_end"]
            detail = {}
        names = {m["name"]: m["unit"] for m in spec_metrics}
        if set(values) != set(names):
            raise RuntimeError(f"metric set differs from BENCHMARK.json: "
                               f"{sorted(set(values) ^ set(names))}")
        result["metrics"] = {n: {"value": float(values[n]), "unit": u} for n, u in names.items()}
        info = {"workload": w.name, "seed": args.seed, "trace": args.trace,
                "session_s": session_s, "setup_s": setup_s, "op_times_s": times,
                "op_cpu_s": cpu,
                "cores": len(os.sched_getaffinity(0)), "driver_memory": DRIVER_MEMORY,
                **_workload_figures(w, times, disk_mb), "notes": w.notes}
        record = ROOT / ".perfbench_runs" / "results"
        record.mkdir(parents=True, exist_ok=True)
        (record / f"{w.name}-s{args.seed}-t{args.trace}.json").write_text(
            json.dumps({"info": info, "result": result, **detail}, indent=1, default=str))
        print(json.dumps({"info": info}, default=str))
        return result
    finally:
        if spark is not None:
            _stop_spark(spark)
        rss.stop()
        shutil.rmtree(rundir, ignore_errors=True)


def _workload_figures(w, times: list[float], disk_mb: float) -> dict:
    """The workload's own end-to-end figures, named as in the notes."""
    if w.name == "batch_dedup":
        return {"batch_docs_per_s": w.notes["pages"] / statistics.median(times)}
    passes = len(times) / len(w.names)
    return {"queries_total_s": sum(times) / passes,
            "queries_geomean_s": statistics.geometric_mean(times)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    try:  # the program under test: the package and the driver contract
        import __spark_entry__  # noqa: F401
        import bench  # noqa: F401
        import check_correctness  # noqa: F401
        import co_deduplicate_spark  # noqa: F401
    except ImportError as e:
        print(f"program under test not found in {ROOT}: {e}", file=sys.stderr)
        return 2
    result = run(args, spec)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
