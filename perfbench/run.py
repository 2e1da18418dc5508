#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload article_mix --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  Starts one driver process
(perfbench/driver.py) that builds the seeded corpus, sets up Spark
through ``plans.get_spark``, checks outputs and times the workload;
meanwhile this process samples the resident memory of the driver's whole
process tree (driver, JVM, Python workers) from /proc.  Prints one line
per metric and, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Everything the run writes goes under ``.perfbench_work/`` in the
current directory.  Exits non-zero, printing no result, when the driver
fails or overruns.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER, REPORTED, WORKLOADS  # noqa: E402
from proc import tree_rss_bytes  # noqa: E402

DRIVER_TIMEOUT_S = 165
SAMPLE_INTERVAL_S = 0.1
# plans.get_spark defaults the driver heap to 12g; this host class has
# about 15 GB shared with other jobs, so the documented override applies
DEFAULT_DRIVER_MEM = "4g"


class PeakRss:
    """Samples the summed RSS of a process tree until stopped."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def stop_group(pgid: int) -> None:
    """Kill what is left of the driver's process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not group_alive(pgid):
            return
        os.killpg(pgid, sig)
        deadline = time.time() + 5
        while time.time() < deadline and group_alive(pgid):
            time.sleep(0.1)


def driver_env(root: str, work: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.pop("OMP_NUM_THREADS", None)
    return env


def host_facts(env: dict) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": int(env["SPARK_GRAFT_CPUS"]),
        "mem_gb": round(mem_kb / 2**20, 1),
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    env = driver_env(root, work)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result_path = os.path.join(work, f"result-{tag}.json")
    log_path = os.path.join(work, f"driver-{tag}.log")
    if os.path.exists(result_path):
        os.remove(result_path)
    cmd = [
        sys.executable, os.path.join(HERE, "driver.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
    ]
    def terminate(signum, frame):
        raise SystemExit(1)

    signal.signal(signal.SIGTERM, terminate)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            with PeakRss(proc.pid) as rss:
                try:
                    code = proc.wait(timeout=DRIVER_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    code = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(result_path):
        why = "timed out" if code is None else f"exited with {code}"
        sys.stderr.write(f"perfbench: driver {why}; log {log_path}\n")
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return 1
    with open(result_path) as f:
        res = json.load(f)

    if args.trace:
        values, registry, shown = res["layers"], PER_LAYER, {}
    else:
        values = dict(res["e2e"], peak_rss_mb=rss.peak / 1e6)
        registry = END_TO_END
        shown = {k: {"value": values[k], "unit": u} for k, (u, _, _) in REPORTED.items()
                 if k in values}
    metrics = {name: {"value": values[name], "unit": registry[name][0]} for name in registry}

    info = res["info"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"host {json.dumps(host_facts(env))}")
    print(f"corpus {json.dumps(info['corpus'])}"
          + (f" blocks {info['blocks']} serial_docs {info['core_docs']}" if args.trace else ""))
    for k, v in res["samples_s"].items():
        print(f"{k}_samples_s n={len(v)} {' '.join(f'{x:.4f}' for x in v)}")
    for name, m in {**metrics, **shown}.items():
        print(f"{name:32s} {m['value']:>16.6g} {m['unit']}")
    print(f"{'failed_frac':32s} {res['failed'] / max(res['attempted'], 1):>16.6g} ratio "
          f"({res['failed']} of {res['attempted']} docs; {json.dumps(res['fail_reasons'])})")
    if args.trace:
        print(f"span_file {info['span_file']} ({info['spans']} spans)")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
