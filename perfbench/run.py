"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one workload (tail_microbatch, table_reads, catalog; or backfill) in a
child process that leads a session of its own, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones.  Whatever happens to the child, every process of its session, the
JVM and any ``pyspark.daemon`` workers included, has exited before the
line is printed.  Everything it writes stays under ``.perfbench/`` in
the checkout.
"""

from __future__ import annotations

import time

T0 = time.time()  # set-up is timed from here

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill", "tail_microbatch", "table_reads", "catalog")
#: the child's limit; the whole run must end within 180 s
CHILD_TIMEOUT_S = 165
PR_SET_CHILD_SUBREAPER = 36


def _session_members(sid: int) -> list[int]:
    """Processes whose session id is ``sid``, zombies included: a killed
    JVM stays a zombie until its parent, or this subreaper once the
    parent is gone, reaps it."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            out.append(int(name))
    return out


def _reap(sid: int, deadline_s: float = 30.0) -> None:
    """Kill every process left in the child's session and reap them all:
    each orphan of the session is handed to this process, so the loop
    ends when no process of the session, not even a zombie, is left."""
    end = time.monotonic() + deadline_s
    while True:
        for pid in _session_members(sid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if not _session_members(sid) or time.monotonic() > end:
            return
        time.sleep(0.05)


def _child_env(work: str) -> dict[str, str]:
    # the program's default configuration: no SPARK_GRAFT_* overrides
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PERFBENCH_T0": repr(T0),
        "PERFBENCH_WORK": work,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData"])),
    })
    return env


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "logfowd2_spark")):
        print(f"perfbench: no logfowd2_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    # orphans of the child (the JVM, pyspark.daemon) are re-parented here
    # and reaped by _reap, instead of outliving the run
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    runs = os.path.join(base, "runs")
    os.makedirs(runs, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(runs, f"{args.workload}-seed{args.seed}-"
                             f"trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out]
    child = subprocess.Popen(cmd, cwd=work, env=_child_env(work),
                             stdin=subprocess.DEVNULL, stdout=sys.stderr,
                             start_new_session=True)

    def stop(signum, _frame):
        _reap(child.pid)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {args.workload} exceeded {CHILD_TIMEOUT_S} s",
              file=sys.stderr)
        code = None
    _reap(child.pid)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: {args.workload} failed (exit {code})",
              file=sys.stderr)
        return 1
    with open(out) as fh:
        res = json.load(fh)
    print(json.dumps({k: res[k] for k in
                      ("correct", "attempted", "failed", "metrics")}),
          flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
