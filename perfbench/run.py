#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. For one run it

1. makes a private run directory (``.perfbench_run/...``) holding the
   run's ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and generated inputs, and
   removes it at the end;
2. starts ``worker.py`` in its own process group and, once it has
   reported, sums the peak resident memory of every process it started
   (driver JVM, Python driver, Python workers), then kills them all;
3. prints one JSON line: ``correct``, ``attempted``, ``failed`` and, with
   ``--trace 0``, every end-to-end metric or, with ``--trace 1``, every
   per-layer metric that ``BENCHMARK.json`` names, with its unit there.
   The traced run also writes its spans to
   ``.perfbench_out/trace-<workload>-seed<N>.json``.

``setup_s`` is measured once per run, in the measured process, from its
start until Spark is up, the inputs are open and the untimed warm-up is
done: that takes 25-35 s on a 4-core host, and a second set-up per run
would cost the time that the measured phase needs to be steady. The program
gets ``local[nproc / 2]`` Spark, so that its task threads, Python workers,
JVM service threads and the client share the host's CPUs without queueing,
and finds the ``hash_db_spark`` package through ``PYTHONPATH``, so its
Python workers import it from any working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER = os.path.join(HERE, "worker.py")
WORKLOADS = ("facade_oltp", "batch_mix")
# The worker is killed once the run has taken this long: set-up, input
# generation and warm-up take 25-35 s on a quiet 4-core host and about
# twice that on a contended one, and the measured phase, a fixed number
# of rounds that fill --seconds on a quiet host, plus the output check
# take at most about three times --seconds. At the configured 20 s the
# run ends within 130 s.
DEADLINE_BASE_S = 60.0
DEADLINE_PER_SECOND = 3.5


def _live_processes() -> list[tuple[int, int, int]]:
    """(pid, ppid, pgrp) of every live (non-zombie) process."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp ...
        fields = stat.rsplit(")", 1)[1].split()
        if fields[0] != "Z":
            out.append((int(entry), int(fields[1]), int(fields[2])))
    return out


def _tree_groups(root: int) -> set[int]:
    """Process groups of ``root`` and its descendants. PySpark's worker
    daemon moves itself and its workers into a group of their own."""
    procs = _live_processes()
    tree, groups = {root}, {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid, pgrp in procs:
            if ppid in tree and pid not in tree:
                tree.add(pid)
                groups.add(pgrp)
                grew = True
    return groups


def _members(groups: set[int]) -> list[int]:
    return [pid for pid, _, pgrp in _live_processes() if pgrp in groups]


def _peak_rss_kb(root: int) -> int:
    """Sum of the peak resident memory of every process in ``root``'s
    tree (driver JVM, Python driver, PySpark daemon and workers)."""
    total = 0
    for pid in _members(_tree_groups(root)):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


def _kill_tree(proc: subprocess.Popen) -> None:
    """SIGKILL every process group of the worker's tree and wait until no
    process of those groups is left."""
    groups = _tree_groups(proc.pid)
    for pgid in groups:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    while _members(groups):
        time.sleep(0.05)


def _start_worker(argv: list[str], env: dict, log) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, WORKER, *argv],
        stdout=subprocess.PIPE,
        stderr=log,
        env=env,
        cwd=ROOT,
        text=True,
        start_new_session=True,
    )


def _read_result(proc: subprocess.Popen) -> dict | None:
    """The worker's result: its first stdout line that is a JSON object."""
    for line in proc.stdout:
        if line.startswith("{"):
            return json.loads(line)
    return None


def _fail(msg: str, log_path: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    try:
        with open(log_path) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.writelines(tail)
    except OSError:
        pass
    sys.exit(1)


def main() -> None:
    ap = argparse.ArgumentParser(description="hash_db_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "hash_db_spark", "api.py")):
        print(
            f"perfbench: no hash_db_spark package under {ROOT}; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        sys.exit(2)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, HERE)

    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    tmp, local, data = (os.path.join(run_dir, d) for d in ("tmp", "local", "data"))
    for d in (tmp, local, data):
        os.makedirs(d)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(max(1, len(os.sched_getaffinity(0)) // 2)),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    log_path = os.path.join(run_dir, "worker.log")
    deadline = DEADLINE_BASE_S + DEADLINE_PER_SECOND * args.seconds

    proc = None
    # a terminated run still kills its worker group and removes run_dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.workload == "batch_mix":
            from datagen import generate

            generate(data, args.seed)
        argv = ["--workload", args.workload, "--data", data, "--seed",
                str(args.seed), "--seconds", str(args.seconds), "--trace",
                str(args.trace)]
        with open(log_path, "w") as log:
            proc = _start_worker(argv, env, log)
            # past the deadline the worker is killed, which ends its stdout
            watchdog = threading.Timer(
                deadline - (time.monotonic() - T0), _kill_tree, (proc,)
            )
            watchdog.daemon = True
            watchdog.start()
            res = _read_result(proc)
            peak_rss_kb = _peak_rss_kb(proc.pid)
            watchdog.cancel()
        if res is None:
            _fail("measured run ended without a result", log_path)
    finally:
        if proc is not None:
            _kill_tree(proc)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        metrics = spec["per_layer"]
        # a layer the workload never enters reads 0
        values = {m["name"]: res["per_layer"].get(m["name"], 0.0) for m in metrics}
        values["proc.peak_rss_mb"] = peak_rss_kb / 1024.0
        print(f"perfbench: spans written to {res['trace_out']}", file=sys.stderr)
    else:
        metrics = spec["end_to_end"]
        values = {
            **res["e2e"],
            "setup_s": res["setup_s"],
            "ok_ratio": (attempted - failed) / attempted,
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in metrics
        },
    }))


if __name__ == "__main__":
    main()
