"""Benchmark command for cocoa-spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the seeded inputs (cached under
``.perfbench/cache``, outside the timed process), pins the Spark
environment, runs ``perfbench/worker.py`` in a fresh process and prints one
JSON line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. Everything measured (steps, routes, digests, input
properties, host probe, environment) goes to
``.perfbench/results/<workload>-seed<N>-trace<T>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "consent_based_conversion_adjustments_spark"
STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170  # the whole command must end within 180 s

sys.path.insert(0, HERE)
import gen  # noqa: E402


def host_probe() -> dict:
    """Spark-free speed probe recorded with each run, so host drift can be
    told from a regression: a pure-Python loop, a BLAS product, load."""
    import numpy as np

    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    loop = time.perf_counter() - t0
    a = np.random.default_rng(0).random((600, 600))
    t0 = time.perf_counter()
    for _ in range(3):
        a @ a
    return {"py_loop_2e6_s": loop, "blas_3x600_s": time.perf_counter() - t0,
            "loadavg_1m": os.getloadavg()[0]}


def pinned_env(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1024 * 1024)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # well below host RAM: the session default (48g) exceeds small hosts
        "SPARK_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "COCOA_SCRATCH_DIR": os.path.join(work, "scratch"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    for d in ("local", "warehouse", "scratch", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return env


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (JVM, Python workers) and wait
    until every member has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        t0 = time.time()
        while time.time() - t0 < 5:
            proc.poll()
            if not _group_alive(proc.pid):
                return
            time.sleep(0.1)
    proc.wait()


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two reads
    (a contended host reads slow for reasons outside the program)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        print(f"{PACKAGE}/ not found next to perfbench/: run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(STATE, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    inp, truth = gen.generate(args.workload, args.seed,
                              os.path.join(STATE, "cache"))
    probe = host_probe()
    env = pinned_env(work)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--input", inp, "--work", work,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out]
    cpu0 = cpu_times()
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)

        def terminate(signum, frame):
            stop_group(proc)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, terminate)
        signal.signal(signal.SIGINT, terminate)
        try:
            proc.wait(timeout=max(1, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            print("worker exceeded the deadline", file=sys.stderr)
        finally:
            stop_group(proc)
    for d in ("local", "scratch", "tmp", "warehouse", "out", "warmup"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "worker.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    with open(out) as f:
        res = json.load(f)
    probe["steal_share"] = steal_share(cpu0, cpu_times())
    res["host_probe"] = probe
    res["env"] = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
                                      "SPARK_LOCAL_DIRS")}
    res["env"]["OMP_NUM_THREADS"] = env.get("OMP_NUM_THREADS")
    res["wall_s"] = time.time() - t_start
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    group = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
               for m in group}
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}",
              file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
