"""Claim-pipeline benchmark: one command, two seeded workloads.

    python3 claimbench/run.py --workload upload_cycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json for why
each was chosen):

* ``upload_cycle``    -- CSV upload -> etl -> hub merge-upsert -> series
  mart refresh -> risk scores, alternating new months and corrections;
  a new month also forecasts a sample of the refreshed series through
  ``tables.fanout_apply``;
* ``dashboard_reads`` -- one client rendering dashboard operators over
  TPC-H-shaped tables while order batches arrive as new snapshots.

Inputs come from ``gen.py`` and the seed alone. Each run builds its
starting state once, from a cold start (the run's first JVM), and
reports that time as ``setup_s``; it then runs operations until their
timed total reaches ``--seconds``. Every operation's output is checked
outside the timed region. All files live
under ``.bench_work/`` in the checkout and are removed at exit; with
``--trace 1`` the spans are kept in ``.bench_out/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Metric
names and units are read from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from spans import Tracer, median  # noqa: E402

WORKLOADS = ("upload_cycle", "dashboard_reads")


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm(pid: int) -> None:
    """Reset the process's peak RSS to its current RSS (proc(5): clear_refs 5)."""
    with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
        f.write("5")


class Bench:
    """One run: the Spark session, the set-up, the timed operations and
    their checks, and the per-layer numbers."""

    def __init__(self, args: argparse.Namespace):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
        self.tracer = Tracer(False)
        self.spark = None
        self.jvm_pid = None
        self.setup_s = self.get_spark_s = 0.0
        self.ops: list[dict] = []
        self.layer: dict[str, float] = {}
        self.peak_kb = 0
        self.timed = 0.0
        self.t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"[{time.perf_counter() - self.t0:7.1f}s] {msg}", file=sys.stderr, flush=True)

    # ---------------------------------------------------------- session

    def environment(self) -> None:
        """Keep every file the run writes inside its work directory and
        let Spark's Python workers import the package from the checkout."""
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        paths = [str(ROOT), os.environ.get("PYTHONPATH", "")]
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in dict.fromkeys(paths) if p)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        # no JVM (the spark-submit launcher included) writes /tmp/hsperfdata_*
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        tempfile.tempdir = str(tmp)
        if str(ROOT) not in sys.path:
            sys.path.insert(0, str(ROOT))

    def start_spark(self):
        from claim_analysis_engine_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"claimbench-{self.workload}",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
            },
        )
        self.get_spark_s = time.perf_counter() - t0
        self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        self.tracer.spark = self.spark
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and its JVM, and wait until the JVM has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        self.spark = None

    def setup(self, build):
        """Start the session and build the workload's starting state,
        its warm-up included, timed from before the JVM launch. One cold
        set-up per run: each costs a JVM launch and cold JIT (20-40 s on
        a 4-core host), so a second would lengthen every run by as much
        again."""
        t0 = time.perf_counter()
        spark = self.start_spark()
        state = build(self, spark, self.work / "state")
        self.setup_s = time.perf_counter() - t0
        self.log(f"set-up: {self.setup_s:.2f}s, session {self.get_spark_s:.2f}s")
        return state

    # ------------------------------------------------------- operations

    @contextmanager
    def op(self, name: str, **tags):
        """Time one operation; yields its record, whose ``ok`` the
        caller sets after checking the output outside the timed region.
        The Spark driver's peak RSS (JVM plus Python) is taken over the
        operation alone: reset before it, read right after it."""
        rec = {"name": name, "ok": False, "s": 0.0, **tags}
        pids = (os.getpid(), self.jvm_pid)
        for pid in pids:
            reset_hwm(pid)
        self.tracer.enabled = self.trace
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, **tags) as span:
                rec["span"] = span
                yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self.tracer.enabled = False
            peaks = [vm_hwm_kb(pid) for pid in pids]
            self.peak_kb = max(self.peak_kb, sum(peaks))
            self.log(f"{name}: {rec['s']:.2f}s, peak RSS python {peaks[0] / 1024:.0f} MB"
                     f" + JVM {peaks[1] / 1024:.0f} MB")
            self.ops.append(rec)
            self.timed += rec["s"]

    def done(self) -> bool:
        return self.timed >= self.seconds

    # ---------------------------------------------------------- metrics

    def span_stats(self, per_layer: dict[str, str]) -> dict[str, float]:
        t = self.tracer
        traced_ops = [r for r in self.ops if r.get("span") is not None]
        n = max(len(traced_ops), 1)
        out = {}
        for metric in per_layer:
            if not metric.endswith(".self_s"):
                continue
            name = metric[: -len(".self_s")]
            total = sum(
                t.self_seconds(s) for s in t.spans
                if s.name == name or (name == "operators" and s.name.startswith("operators."))
            )
            out[metric] = total / n
        per_op = [t.subtree(r["span"]) for r in traced_ops]
        out["spark.jobs"] = median(sum(s.jobs for s in sub) for sub in per_op)
        out["spark.stages"] = median(sum(s.stages for s in sub) for sub in per_op)
        out["spark.tasks"] = median(sum(s.tasks for s in sub) for sub in per_op)
        out["trace.overhead_s"] = t.overhead / n
        return out

    def spans_named(self, name: str):
        return [s for s in self.tracer.spans if s.name == name]

    def result(self, units_done: float) -> dict:
        end_to_end, per_layer = declared_metrics()
        attempted = len(self.ops)
        failed = sum(1 for r in self.ops if not r["ok"])
        if self.trace:
            declared = per_layer
            values = {k: 0.0 for k in per_layer}
            values.update(self.span_stats(per_layer))
            values["session.get_spark_s"] = self.get_spark_s
            values.update(self.layer)
        else:
            declared = end_to_end
            lat = [r["s"] for r in self.ops]
            values = {
                "setup_s": self.setup_s,
                "op_p50_s": median(lat),
                "op_max_s": max(lat),
                "throughput_per_s": units_done / self.timed,
                "ok_share": (attempted - failed) / attempted,
                "peak_rss_mb": self.peak_kb / 1024.0,
            }
        if set(values) != set(declared):
            raise KeyError(f"metrics not as declared in BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(declared))}")
        metrics = {k: {"value": float(values[k]), "unit": declared[k]} for k in declared}
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench = Bench(args)
    bench.environment()
    try:
        # the workload module imports the engine: outside a checkout, the run fails here
        workload = __import__(args.workload)
        inputs = workload.prepare(bench)
        state = bench.setup(workload.build)
        result = bench.result(workload.run(bench, inputs, state))
        if bench.trace:
            out = ROOT / ".bench_out"
            out.mkdir(exist_ok=True)
            bench.tracer.write(out / f"spans-{args.workload}-seed{args.seed}.jsonl")
    finally:
        bench.stop_spark()
        shutil.rmtree(bench.work, ignore_errors=True)
        parent = bench.work.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()
    print(json.dumps(result, ensure_ascii=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
