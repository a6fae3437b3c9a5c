"""One workload in one process: session, set-up, measured rounds,
checks, and a clean stop of the JVM.  ``run.py`` starts it in a process
group of its own and reads the JSON it leaves at ``--out``."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import workloads
from tracing import Tracer, layer_metrics

#: end-to-end metrics and their units, printed with --trace 0
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "rows_per_s": "rows/s",
}


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Run:
    """What one workload run measures; the workload functions fill it."""

    def __init__(self, args, root: str):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.trace = bool(args.trace)
        self.root = root
        self.cache = os.path.join(root, ".perfbench", "cache")
        self.work = os.environ["PERFBENCH_WORK"]
        self.t_start = float(os.environ["PERFBENCH_T0"])
        self.spark = None
        self.tracer: Tracer | None = None
        self.codec = None
        self.setup_s = None
        self.deadline = None
        self.attempted = self.failed = 0
        #: timed samples a run takes at the least, however long they last
        self.min_ops = 1
        self.op_ms: list[float] = []
        # operation index -> ms, for the operations run through timed()
        self.timed_ms: dict[int, float] = {}
        #: rows per second of each timed sample; rows_per_s is their median
        self.rates: list[float] = []
        self.errors: list[str] = []
        self.layers: dict[str, float] = {}
        os.makedirs(self.cache, exist_ok=True)

    def log(self, msg: str) -> None:
        print(f"perfbench[{self.workload}]: {msg}", file=sys.stderr, flush=True)

    def start_session(self, ingest: bool):
        from logfowd2_spark.config import resolve_codec  # noqa: PLC0415
        from logfowd2_spark.session import build_session  # noqa: PLC0415

        n = len(os.sched_getaffinity(0))
        self.spark = build_session(app_name=f"perfbench-{self.workload}",
                                   master=f"local[{n}]")
        # what codec='auto' resolves to here; workloads that run the
        # pipeline record the codec it actually pinned
        self.codec = resolve_codec("auto", n)
        if self.trace:
            self.tracer = Tracer(self.spark)
            if ingest:
                self.tracer.install_ingest()
        return self.spark

    def setup_done(self) -> None:
        self.setup_s = time.time() - self.t_start
        self.deadline = time.perf_counter() + self.seconds

    def more(self) -> bool:
        """Another round?  Always at least ``min_ops`` samples."""
        return (len(self.op_ms) < self.min_ops
                or time.perf_counter() < self.deadline)

    def timed(self, fn):
        """Run one operation, timed, with the tracer pointed at it."""
        if self.tracer:
            self.tracer.op = self.attempted
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            if self.tracer:
                self.tracer.op = None
        ms = (time.perf_counter() - t0) * 1e3
        self.timed_ms[self.attempted] = ms
        self.op_ms.append(ms)
        self.attempted += 1
        return out

    def peak_rss_mb(self) -> float:
        """High-water RSS of this Python process plus its JVM."""
        from pyspark import SparkContext  # noqa: PLC0415

        kb = _vm_hwm_kb(os.getpid())
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            kb += _vm_hwm_kb(proc.pid)
        return kb / 1024

    def result(self) -> dict:
        if self.trace:
            self.layers["memory.peak_rss_mb"] = self.peak_rss_mb()
            metrics = layer_metrics(self.layers, workloads.HEADLINE)
        else:
            values = {
                "setup_s": self.setup_s,
                "op_p50_ms": statistics.median(self.op_ms),
                "rows_per_s": statistics.median(self.rates),
            }
            metrics = {k: {"value": float(values[k]), "unit": u}
                       for k, u in END_TO_END.items()}
        return {
            "correct": not self.errors,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
            "errors": self.errors[:50],
            "codec": self.codec,
            "op_ms": self.op_ms,
            "spans": self.tracer.series() if self.tracer else {},
            "seed": self.seed,
            "trace": self.trace,
        }


def stop_jvm(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM to
    exit.  The JVM quits only when it reads EOF on its stdin, so that
    pipe is closed here instead of being left to process exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = Run(args, root)
    status = 1
    try:
        workloads.WORKLOADS[args.workload](run)
        res = run.result()
        run.log(f"seed={run.seed} codec={run.codec} ops={len(run.op_ms)} "
                f"setup_s={run.setup_s:.2f} "
                f"op_p50_ms={statistics.median(run.op_ms):.1f} "
                f"errors={len(run.errors)}")
        for e in run.errors[:10]:
            run.log(f"check failed: {e}")
        tmp = args.out + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(res, fh)
        os.replace(tmp, args.out)
        status = 0
    except Exception:  # noqa: BLE001 - reported, and the run fails
        traceback.print_exc()
    finally:
        if run.tracer:
            run.tracer.close()
        try:
            stop_jvm(run.spark)
        except Exception:  # noqa: BLE001 - run.py reaps what is left
            traceback.print_exc()
            status = 1
    return status


if __name__ == "__main__":
    sys.exit(main())
