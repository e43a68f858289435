"""Benchmark entry point.

    python3 perfbench/run.py --workload headline_warm --seed 1 --seconds 10 --trace 0

Runs one workload in this process against the package in the current
directory (the repository root), checks its outputs, and prints two JSON
lines: a detail record (host stamp, per-operation figures, the percentile
the tail was read at, any failures), then the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run; the traced run also writes its spans to
``.perfbench/results/``.  Everything the run writes stays under
``.perfbench/`` in the current directory, and its scratch space there is
removed on exit.  Before it prints the result, on every path out of it, the
run stops Spark's JVM and every other process it started, including ones
orphaned on the way (Python workers of a JVM that has exited), and waits
for each to end.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of any descendant whose own parent
    exits first, so that ``reap_children`` can find and wait for it."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: only direct children are reaped


def children() -> list[int]:
    me = str(os.getpid())
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended meanwhile
        # the command name, in parentheses, may hold spaces
        if stat[stat.rindex(")") + 2:].split()[1] == me:
            pids.append(int(entry))
    return pids


def reap_children(grace: float = 10.0) -> None:
    """Stop every child process and wait until each has ended: SIGTERM,
    then SIGKILL after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    signalled: set[int] = set()
    while True:
        while True:  # collect whatever has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if not pid:
                break
        pids = children() if os.path.isdir("/proc") else []
        if not pids:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in pids:
            if sig == signal.SIGKILL or pid not in signalled:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


def stop_everything() -> None:
    import workloads

    workloads.stop_spark()
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_pid", None) is not None:
        tracker._stop()  # it ignores SIGTERM; closing its pipe ends it
    reap_children()


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the clean-up below


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cardano_analytics_duckdb_spark")):
        print("perfbench: run from the repository root (package not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"  # and in child processes

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # A fixed driver heap keeps peak memory comparable between runs (the
    # JVM otherwise grows toward the package's 8g default as GC allows).
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    load_before = os.getloadavg()
    adopt_orphans()
    signal.signal(signal.SIGTERM, on_sigterm)
    try:
        res = workloads.WORKLOADS[args.workload](
            work, args.seed, args.seconds, bool(args.trace)
        )
    finally:
        stop_everything()
        shutil.rmtree(work, ignore_errors=True)

    import duckdb
    import pyspark

    metrics = res.per_layer if args.trace else res.end_to_end
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            "nproc": nproc,
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
        },
        "ops_failed_ratio": res.failed / max(1, res.attempted),
        "problems": res.problems,
        **res.detail,
    }
    if args.trace:
        out_dir = os.path.join(base, "results")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-{int(time.time())}.json"
        )
        with open(path, "w") as f:
            json.dump({"detail": detail, "per_layer": res.per_layer,
                       "spans": res.spans}, f)
        detail["spans_file"] = os.path.relpath(path, root)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": res.correct and res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": workloads.UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
