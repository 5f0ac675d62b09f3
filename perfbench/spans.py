"""Traced runs: spans around each layer's call boundary, one Spark job group
per span, and a one-shot parse of the Spark event log at the end.

Spans are recorded from the benchmark's side only: ``install`` replaces a
module attribute with a wrapper, so the program's own code is untouched and
a call resolved through that attribute lands in the span. Inside a span the
wrapped call's DataFrame output is materialized (persist + count), so lazy
work is charged to the layer that defined it rather than to whichever layer
first consumes it. A call nested inside a span of the same layer is passed
through: the outer call owns the work.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

LAYERS = (
    "sources.io.scan",
    "operators.preprocess",
    "pipeline.auto_stats",
    "operators.similarity_join",
    "operators.adjust",
    "operators.summary",
    "sources.io.sink",
    "operators.dedup.tokenize",
    "operators.dedup.signatures",
    "operators.dedup.banding",
    "operators.dedup.verify",
    "operators.dedup.components",
    "operators.dedup.admit",
)

BASE_METRICS = {
    "self_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "cpu_s": ("s", "lower"),
    "python_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "parallelism": ("ratio", "higher"),
}

EXTRA_METRICS = {
    "operators.similarity_join.distance_evals": ("count", "lower"),
    "operators.similarity_join.pairs_out": ("count", "higher"),
    "operators.similarity_join.useful_ratio": ("ratio", "higher"),
    "operators.preprocess.feature_width": ("count", "lower"),
    "operators.dedup.banding.candidates": ("count", "lower"),
    "operators.dedup.verify.pairs": ("count", "higher"),
    "operators.dedup.verify.useful_ratio": ("ratio", "higher"),
    "operators.dedup.components.components": ("count", "lower"),
    "operators.dedup.admit.store_rows": ("count", "lower"),
    "sources.io.sink.bytes_written": ("count", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}


def per_layer_spec() -> dict[str, tuple[str, str]]:
    """name -> (unit, better) for every per-layer metric."""
    spec = {
        f"{layer}.{m}": ub for layer in LAYERS for m, ub in BASE_METRICS.items()
    }
    spec.update(EXTRA_METRICS)
    return spec


class Tracer:
    """In-memory span recorder; each span runs under its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.persisted: list[DataFrame] = []

    def current_layer(self) -> str | None:
        return self.spans[self.stack[-1]]["name"] if self.stack else None

    @contextmanager
    def span(self, name: str, fn: str = ""):
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        rec = {"name": name, "fn": fn, "parent": parent, "group": f"span-{idx}",
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self.stack.append(idx)
        self.sc.setJobGroup(rec["group"], f"{name}:{fn}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if self.stack:
                top = self.spans[self.stack[-1]]
                self.sc.setJobGroup(top["group"], top["name"])

    def materialize(self, df: DataFrame) -> int:
        df.persist(StorageLevel.MEMORY_AND_DISK)
        self.persisted.append(df)
        return df.count()

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()

    def install(self, module, attr: str, layer: str, materialize=(0,),
                on_result=None) -> None:
        """Wrap ``module.attr`` in a span of ``layer``.

        ``materialize``: positions of DataFrame outputs to materialize (the
        output itself is position 0 when it is not a tuple), or a callable
        ``(args, kwargs) -> positions``. ``on_result(args, kwargs, out,
        rows)`` records layer counts; ``rows`` maps position -> row count.
        """
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.current_layer() == layer:
                return orig(*args, **kwargs)
            with tracer.span(layer, attr):
                out = orig(*args, **kwargs)
                items = out if isinstance(out, tuple) else (out,)
                pos = (materialize(args, kwargs) if callable(materialize)
                       else materialize)
                rows = {
                    i: tracer.materialize(items[i]) for i in pos
                    if i < len(items) and isinstance(items[i], DataFrame)
                }
                if on_result is not None:
                    on_result(args, kwargs, out, rows)
            return out

        setattr(module, attr, wrapper)

    def layer_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the time child spans
        cover (children of one span never overlap: the steps run serially)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_PY_TIMERS = ("time to start Python workers",
              "time to initialize Python workers",
              "time to run Python workers")


def parse_event_log(log_dir: str, app_id: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor CPU s, Python-worker s (the
    Arrow/pandas exec nodes' SQL timing metrics, ms), shuffle-write MB and
    disk-spill MB, read once from the app's uncompressed event log."""
    files = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*")))
    stage_group: dict[int, str] = {}
    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    agg[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[e["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    a = agg[stage_group.get(e["Stage ID"])]
                    a["tasks"] += 1
                    m = e.get("Task Metrics") or {}
                    a["cpu_s"] += (m.get("Executor CPU Time", 0)
                                   + m.get("Executor Deserialize CPU Time", 0)) / 1e9
                    a["shuffle_mb"] += (m.get("Shuffle Write Metrics", {})
                                        .get("Shuffle Bytes Written", 0)) / 1e6
                    a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in _PY_TIMERS:
                            a["python_s"] += float(acc.get("Update", 0)) / 1e3
    return {g: dict(v) for g, v in agg.items()}


def layer_table(tracer: Tracer, groups: dict[str, dict]) -> dict[str, dict]:
    """layer -> base metrics; a span that is not a layer (the root span of
    the traced pass) is reported under its own name."""
    self_s = tracer.layer_times()
    table: dict[str, dict] = {}
    for s in tracer.spans:
        row = table.setdefault(s["name"], defaultdict(float))
        for k, v in groups.get(s["group"], {}).items():
            row[k] += v
    for name, row in table.items():
        row["self_s"] = self_s.get(name, 0.0)
        row["parallelism"] = row["cpu_s"] / row["self_s"] if row["self_s"] else 0.0
        for k in BASE_METRICS:
            row.setdefault(k, 0.0)
        table[name] = dict(row)
    return table
