#!/usr/bin/env python3
"""Search-engine benchmark entry point.

    python3 perfbench/run.py --workload search_merge --seed 1 --seconds 14 --trace 0

Runs one workload (see ``perfbench/README.md``) in a child process sized
to the host through the environment variables ``session.get_spark``
already reads, then prints a host-facts line and, as the last line of
standard output, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a separate
traced run. Everything the run writes stays under ``.perfbench_work/``
in the directory it runs from; the child's whole process group (Spark's
JVM included) is stopped before this script exits.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 170


def host_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_env(work: str) -> dict[str, str]:
    """Fit the session to this host through variables ``session.get_spark``
    already reads, and keep Spark's scratch files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    mem_mb = min(2048, host_ram_bytes() // (4 * 1024 * 1024))
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        SPARK_GRAFT_EXTRA_CONF="spark.ui.showConsoleProgress=false",
        SPARK_LOCAL_DIRS=local,
        # every JVM the run starts (Spark's launcher too) keeps its temp
        # files in the work directory and writes no hsperfdata to /tmp.
        # The JIT stops at C1: with C2 the query path keeps speeding up
        # for minutes of load (search_merge qps rose 2.6 -> 4.3 over 48 s
        # on 4 vCPUs), so a window of seconds would time a point on that
        # curve; C1 code is steady within seconds. C1 alone gets a smaller
        # code cache by default, which Spark's generated code fills.
        JAVA_TOOL_OPTIONS=(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                           " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"),
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONUNBUFFERED="1",
    )
    return env


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal), or []."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between."""
    if len(before) < 8 or len(after) < 8:
        return None
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total else 0.0


def stop_group(proc: subprocess.Popen) -> None:
    """Kill the child's process group and wait until none of it is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="store size factor (the tests use a tiny store)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "clueso_spark")):
        print("perfbench: engine package clueso_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", str(args.scale),
        "--work-dir", work, "--result", result_path,
        "--trace-out", os.path.join(base, "traces", f"{args.workload}-s{args.seed}.jsonl"),
    ]
    load_before, cpu_before, t0 = os.getloadavg(), cpu_times(), time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                env=spark_env(work), start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    load_after, cpu_after = os.getloadavg(), cpu_times()

    ok = code == 0 and os.path.exists(result_path)
    if not ok:
        with open(log_path, errors="replace") as f:
            tail = [ln for ln in f.read().splitlines() if "WARN" not in ln][-40:]
        print("\n".join(tail), file=sys.stderr)
        print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(result_path) as f:
        result = json.load(f)
    with open(log_path, errors="replace") as f:
        for line in f:
            if line.startswith(("FAILED:", "[")):
                print(line.rstrip(), file=sys.stderr)
    host = {
        "nproc": nproc(),
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "cpu_steal_share": steal_share(cpu_before, cpu_after),
        "wall_s": round(time.monotonic() - t0, 1),
        "ram_bytes": host_ram_bytes(),
        "python": platform.python_version(),
        "spark": result.pop("spark_version", None),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }
    shutil.rmtree(work, ignore_errors=True)
    print("host " + json.dumps(host))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
