"""The measured process: one fresh Python process (and JVM) per run.

    python3 perfbench/worker.py --workload W --input DIR --work DIR
        --seconds S --trace 0|1 --out result.json

It reads only the generated inputs, sets up Spark through the program's
``get_spark``, warms up, then either runs timed passes for ``--seconds``
(trace 0) or one untraced and one traced pass (trace 1), and writes every
measurement to ``--out``. ``perfbench/run.py`` is the command to use; it
generates the inputs, pins the environment and supervises this process.
"""

import time

T_PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from consent_based_conversion_adjustments_spark.session import get_spark  # noqa: E402

import spans as tracing  # noqa: E402
import workloads  # noqa: E402

def tree_rss_mb(root_pid: int) -> dict[str, float]:
    """Resident MB of ``root_pid`` and all its descendants (JVM, Python
    workers), read from /proc, summed per command name."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children[ppid].append(int(d))
    mb: dict[str, float] = defaultdict(float)
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
            mb[status["Name"].strip()] += int(status["VmRSS"].split()[0]) / 1024
        except (OSError, KeyError, ValueError):
            pass
        stack.extend(children.get(pid, ()))
    return dict(mb)


class RssPeak(threading.Thread):
    """Samples the process tree's resident memory; keeps the peak total and
    its split by command name."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak, self.split = period, 0.0, {}
        self.halt = threading.Event()

    def run(self):
        while not self.halt.is_set():
            split = tree_rss_mb(os.getpid())
            if sum(split.values()) > self.peak:
                self.peak, self.split = sum(split.values()), split
            self.halt.wait(self.period)

    def stop(self) -> float:
        self.halt.set()
        self.join()
        return self.peak


def tail(samples: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n}
    s = sorted(samples)
    return {"value": s[n - 11], "percentile": 100.0 * (n - 10) / n,
            "samples": n}


def main() -> int:
    ap = argparse.ArgumentParser()
    for a in ("--workload", "--input", "--work", "--out"):
        ap.add_argument(a, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    with open(os.path.join(args.input, "truth.json")) as f:
        truth = json.load(f)

    event_dir = os.path.join(args.work, "eventlog")
    # keep the JVM's temp and perf-data files inside the run directory
    conf = {"spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(args.work, 'tmp')}"}
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{event_dir}",
                     "spark.eventLog.compress": "false"})

    # set-up: process start -> JVM and session -> the fixed warm-up (one
    # tiny pass through the workload's entry points on a seed-independent
    # input). A JVM launches once per process, so this is one sample a run.
    spark = get_spark("perfbench", extra_conf=conf)
    launch_s = time.time() - T_PROCESS_START
    wl = workloads.make(args.workload, spark, args.input, truth, args.work)
    wl.warmup()
    setup_s = time.time() - T_PROCESS_START

    result = {"workload": args.workload, "seed": truth["seed"],
              "trace": args.trace, "input_properties": truth["properties"],
              "setup": {"launch_s": launch_s, "setup_s": setup_s}}
    if not args.trace:
        rss = RssPeak()
        rss.start()
        # whole passes only, so every run times the same mix of steps
        steps: list[dict] = []
        while sum(s["seconds"] for s in steps) < args.seconds:
            steps.extend(wl.steps())
        peak = rss.stop()
        secs = [s["seconds"] for s in steps]
        result.update({
            "steps": steps,
            "metrics": {
                "setup_s": setup_s,
                "input_rows_per_s": sum(s["rows"] for s in steps) / sum(secs),
                "step_s_p50": statistics.median(secs),
                "peak_rss_mb": peak,
            },
            "step_s_tail": tail(secs),
            "peak_rss_split_mb": rss.split,
        })
    else:
        t0 = time.perf_counter()
        plain = list(wl.steps())
        plain_s = time.perf_counter() - t0
        tr = tracing.Tracer(spark)
        wl.install_trace(tr)
        wl.counts.clear()
        t0 = time.perf_counter()
        with tr.span("pass"):
            traced = list(wl.steps())
        traced_s = time.perf_counter() - t0
        tr.release()
        app_id = spark.sparkContext.applicationId
        spark.stop()
        groups = tracing.parse_event_log(event_dir, app_id)
        table = tracing.layer_table(tr, groups)
        tr.dump(os.path.join(args.work, "spans.json"))
        metrics = {}
        for name in tracing.per_layer_spec():
            layer, _, m = name.rpartition(".")
            if m in tracing.BASE_METRICS and layer in tracing.LAYERS:
                metrics[name] = table.get(layer, {}).get(m, 0.0)
            else:
                metrics[name] = float(wl.counts.get(name, 0.0))
        c = wl.counts
        evals = c.get("operators.similarity_join.distance_evals", 0)
        metrics["operators.similarity_join.useful_ratio"] = (
            c.get("operators.similarity_join.pairs_out", 0) / evals
            if evals else 0.0)
        cands = c.get("operators.dedup.banding.candidates", 0)
        metrics["operators.dedup.verify.useful_ratio"] = (
            c.get("operators.dedup.verify.pairs", 0) / cands if cands else 0.0)
        metrics["trace.overhead_ratio"] = traced_s / plain_s
        steps = plain + traced
        result.update({
            "steps": steps,
            "metrics": metrics,
            "layer_table": table,
            "absent_layers": [x for x in tracing.LAYERS if x not in table],
            "untraced_pass_s": plain_s, "traced_pass_s": traced_s,
            "extra_counts": dict(c),
        })
    # output digests per step; every repeat of a step must match
    digests: dict[str, set] = defaultdict(set)
    for s in result["steps"]:
        digests[s["step"]].add(str(s["digest"]))
    result["step_digests"] = {k: sorted(v) for k, v in digests.items()}
    result["digests_stable"] = all(len(v) == 1 for v in digests.values())
    result["digest"] = result["steps"][0]["digest"]
    result["attempted"] = len(result["steps"])
    result["failed"] = sum(1 for s in result["steps"] if s["failures"])
    result["failed_ratio"] = result["failed"] / max(1, result["attempted"])
    result["routes"] = sorted({str(s["route"]) for s in result["steps"]})
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    if args.trace == 0:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
