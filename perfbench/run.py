"""Benchmark runner for datacompy_spark.

    python3 perfbench/run.py --workload tall_report --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. One client in this process issues
back-to-back ops (a closed loop) against one ``local[<cores>]`` session
built with ``datacompy_spark.session.apply_recommended_conf``. Inputs are
generated from ``--seed`` into a per-run directory inside the checkout,
which also holds the session's warehouse, local and temp directories and
is removed at exit.

``--trace 0`` times untraced ops for ``--seconds`` and reports the
end-to-end metrics. ``--trace 1`` alternates untraced and traced ops for
``--seconds`` and reports the per-layer metrics plus the tracing overhead.
The last line of stdout is the result object; the line before it holds
the run's detail: per-op times, sample counts, set-up parts, failures
with their error text and the host pressure during the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from typing import Dict, List

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import probes  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DRIVER_MEMORY = "1g"
# A fixed heap keeps peak RSS off G1's expansion heuristics, which follow
# host pressure. C1 only: with the default C2 tier, op times keep falling
# for the whole of a run's JVM life, so a run's median depends on how many
# ops fit into it (see README.md). C1 alone gets a 48 MB code cache by
# default, which the ledger's generated classes fill. No perf-data file, so
# the JVM writes nothing to /tmp.
JVM_OPTS = ("-Xms1g -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
            " -XX:-UsePerfData")


def declared(kind: str) -> Dict[str, str]:
    """The metrics of ``kind`` (``end_to_end`` or ``per_layer``) that
    BENCHMARK.json declares, with their units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


class Session:
    """The run's Spark session, its JVM and the directories it writes."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None
        self.tmp = os.path.join(run_dir, "tmp")
        os.makedirs(self.tmp)
        # the JVM launcher and PySpark take scratch space from these
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
        tempfile.tempdir = self.tmp

    def start(self):
        """Launch the JVM and start the session."""
        from pyspark.sql import SparkSession

        from datacompy_spark.session import apply_recommended_conf

        cores = len(os.sched_getaffinity(0))
        self.spark = (
            apply_recommended_conf(SparkSession.builder.master(f"local[{cores}]"))
            .appName("datacompy-spark-perfbench")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={self.tmp} {JVM_OPTS}")
            .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.warehouse.dir", os.path.join(self.run_dir, "warehouse"))
            .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — any failure to exit ends in a kill
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class Loop:
    """Times ops back to back and checks each one's output."""

    def __init__(self, workload, spark):
        self.wl, self.spark = workload, spark
        self.walls: List[float] = []
        self.cpus: List[float] = []
        self.attempted = self.failed = 0
        self.errors: List[str] = []

    def record(self, span) -> None:
        """One op: records its wall time and the process tree's CPU time."""
        self.wl.next_input()
        c0 = probes.cpu_seconds(probes.process_tree(os.getpid()))
        t0 = time.perf_counter()
        try:
            got, err = self.wl.op(self.spark, span), None
        except Exception:  # noqa: BLE001 — an op that raises is a failed op
            got, err = None, traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        cpu = probes.cpu_seconds(probes.process_tree(os.getpid())) - c0
        if err is None:
            err = self.wl.check(got)
        self.attempted += 1
        if err:
            self.failed += 1
            self.errors.append(err)
        self.walls.append(wall)
        self.cpus.append(cpu)


def run(name: str, seed: int, seconds: float, trace: bool, workload=None):
    """One benchmark run. Returns ``(result, detail)``."""
    wl = workload or WORKLOADS[name]()
    host0 = probes.host_reading()
    run_dir = tempfile.mkdtemp(prefix="run-", dir=_runs_root())
    session = Session(run_dir)
    try:
        # set-up: JVM launch and session start, input generation and one
        # warm-up op, the JVM's cold first op
        t0 = time.perf_counter()
        spark = session.start()
        t1 = time.perf_counter()
        wl.prepare(seed, os.path.join(run_dir, "inputs"))
        t2 = time.perf_counter()
        warm = Loop(wl, spark)
        warm.record(probes.no_span)
        setup = time.perf_counter() - t0
        parts = {"session_s": round(t1 - t0, 3), "inputs_s": round(t2 - t1, 3),
                 "warmup_s": round(warm.walls[0], 3)}

        loop, traced = Loop(wl, spark), None
        end = time.perf_counter() + seconds
        if not trace:
            loop.record(probes.no_span)
            while time.perf_counter() < end:
                loop.record(probes.no_span)
        else:
            # untraced and traced ops alternate, so both see the same
            # stretch of the run (and, on the ledger, similar ledger sizes);
            # py4j commands are counted during traced ops only
            py4j = probes.Py4jCounter(spark.sparkContext._gateway)
            tracer = probes.Tracer(spark.sparkContext, session.jvm_pid, py4j, wl.input_bytes)
            traced = Loop(wl, spark)
            while not traced.walls or time.perf_counter() < end:
                loop.record(probes.no_span)
                with py4j:
                    traced.record(tracer.span)
                tracer.op += 1
        rss = {"python": probes.hwm_mb(os.getpid()), "jvm": probes.hwm_mb(session.jvm_pid)}
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    host = probes.host_pressure(host0, probes.host_reading())

    loops = [warm, loop] + ([traced] if traced else [])
    attempted = sum(lp.attempted for lp in loops)
    failed = sum(lp.failed for lp in loops)
    op_p50 = statistics.median(loop.walls)
    if not trace:
        values = {
            "op_s_p50": op_p50,
            "cpu_s": statistics.median(loop.cpus),
            "peak_rss_mb": rss["python"] + rss["jvm"],
            "setup_s": setup,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in declared("end_to_end").items()}
    else:
        metrics, missing = layer_metrics(tracer.spans)
        traced_p50 = statistics.median(traced.walls)
        metrics["trace.op_s_p50"] = {"value": traced_p50, "unit": "s"}
        metrics["trace.overhead_s"] = {"value": traced_p50 - op_p50, "unit": "s"}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    detail = {
        "workload": name,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "samples": {"ops": len(loop.walls)},
        "op_s": [round(w, 4) for w in loop.walls],
        "setup_s": round(setup, 3),
        "setup_parts": parts,
        "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
        "fail_ratio": failed / attempted,
        "errors": [e for lp in loops for e in lp.errors][:5],
        "host": host,
    }
    if trace:
        detail["traced_op_s"] = [round(w, 4) for w in traced.walls]
        detail["missing"] = missing
        detail["spans"] = [
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in s.items()}
            for s in tracer.spans
        ]
    return result, detail


def layer_metrics(spans: List[Dict]):
    """Median over the calls of each layer of every per-layer counter that
    BENCHMARK.json declares. A layer the workload never calls reads 0; a
    counter lost to eviction on every call is left out and named in the
    returned ``missing`` list."""
    out: Dict[str, Dict] = {}
    missing: List[str] = []
    for name, unit in declared("per_layer").items():
        layer, _, counter = name.rpartition(".")
        if layer == "trace":
            continue
        calls = [s for s in spans if s["name"] == layer]
        values = [s[counter] for s in calls if counter in s]
        if calls and not values:
            missing.append(name)
            continue
        out[name] = {"value": statistics.median(values) if values else 0.0, "unit": unit}
    return out, missing


def _runs_root() -> str:
    path = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(path, exist_ok=True)
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import datacompy_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(datacompy_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: datacompy_spark resolves outside {ROOT}", file=sys.stderr)
        return 2
    result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
