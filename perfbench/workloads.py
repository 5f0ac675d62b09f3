"""The workloads, each driven through the program's public entry points.

A workload's ``steps()`` yields one *pass*: a fixed sequence of *steps* (a
daily run; a near-dup clustering pass or an admission round), one record each:
input rows, wall seconds, failures (an exception or a failed output check),
the route the auto dispatch logged, and an output digest.
``install_trace`` wraps each layer's call boundary for a traced pass.
"""

from __future__ import annotations

import glob
import logging
import os
import time

import pandas as pd

from consent_based_conversion_adjustments_spark import pipeline
from consent_based_conversion_adjustments_spark.config import AdjustmentConfig
from consent_based_conversion_adjustments_spark.operators import dedup as D
from consent_based_conversion_adjustments_spark.operators import (
    similarity_join as SJ,
)
from consent_based_conversion_adjustments_spark.sources.io import read_table

import checks
from gen import JACCARD_THRESHOLD

ROUTE_LOG = "consent_based_conversion_adjustments_spark.pipeline"


def _step(name, rows, seconds, failures, route=None, digest=None):
    return {"step": name, "rows": rows, "seconds": seconds,
            "failures": failures, "route": route, "digest": digest}


class _RouteLog(logging.Handler):
    """Captures the pipeline's existing INFO line naming the auto route."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.routes: list[str] = []

    def emit(self, record):
        msg = record.getMessage()
        if "resolved to" in msg:
            self.routes.append(msg.split("resolved to ")[1].split()[0].strip("'"))


class Workload:
    def __init__(self, spark, inp: str, truth: dict, work: str):
        self.spark, self.inp, self.truth, self.work = spark, inp, truth, work
        self.counts: dict[str, float] = {}

    def _add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value


class Cocoa(Workload):
    """A step is one daily run: ``run_dates`` over one date of the export
    (the full date-partitioned tables are passed, as a daily trigger
    does), cycling through the generated dates."""

    def __init__(self, spark, inp, truth, work, mode: str):
        super().__init__(spark, inp, truth, work)
        kw = ({"number_nearest_neighbors": 3} if mode == "knn"
              else {"percentile": truth["shape"]["percentile"]})
        self.config = AdjustmentConfig(
            conversion_column="conversion_value", id_columns=["gclid"],
            date_column="date", **kw,
        )
        self.route_log = _RouteLog()
        log = logging.getLogger(ROUTE_LOG)
        log.setLevel(logging.INFO)
        log.addHandler(self.route_log)
        self.grid: dict[str, tuple] = {}
        self.date = None

    def _run(self, root, date, out):
        self.date = date
        consent = self.spark.read.parquet(f"{root}/consent")
        noconsent = self.spark.read.parquet(f"{root}/noconsent")
        pipeline.run_dates(self.spark, consent, noconsent, self.config,
                           [date], out)

    def warmup(self):
        self._run(f"{self.inp}/warmup", self.truth["warmup_date"],
                  f"{self.work}/warmup")

    def steps(self):
        out = f"{self.work}/out"
        for d in self.truth["dates"]:
            self.route_log.routes.clear()
            t0 = time.perf_counter()
            try:
                self._run(self.inp, d, out)
                error = None
            except Exception as e:  # a raising date fails; the run goes on
                error = f"{type(e).__name__}: {str(e)[:300]}"
            secs = time.perf_counter() - t0
            sizes = self.truth["properties"]["per_date"][d]
            rows = sizes["rows_consent"] + sizes["rows_noconsent"]
            route = self.route_log.routes[0] if self.route_log.routes else None
            failures, digest = ([error], None) if error else self._check(out, d)
            yield _step(d, rows, secs, failures, route, digest)

    def _check(self, out, d):
        def read(kind):
            files = sorted(glob.glob(f"{out}/{d}/adjustments_{kind}/*.csv"))
            return pd.concat([pd.read_csv(f) for f in files], ignore_index=True)

        try:
            data, summary = read("data"), read("summary")
        except Exception as e:
            return [f"unreadable output: {e}"], None
        bad = checks.check_cocoa_date(
            data, summary, self.truth["consent_rows"][d],
            set(self.truth["noconsent_ids"][d]),
        )
        return bad, checks.digest_frame(data) + checks.digest_frame(summary)[:16]

    def install_trace(self, tr):
        wl = self

        def grid(kind):
            g = wl.grid.get(wl.date)
            if not g:
                return 0
            return g[0] * g[1] if kind == "row" else g[2] * g[3]

        def on_stats(args, kw, out, rows):
            _, n_p, n_b = out
            wl.grid[wl.date] = (n_p, n_b, kw.get("d_probe") or 0,
                                kw.get("d_build") or 0)

        def on_encode(args, kw, out, rows):
            wl.counts["operators.preprocess.feature_width"] = max(
                wl.counts.get("operators.preprocess.feature_width", 0),
                out[2].width)

        def on_kernel(kind, pairs):
            def cb(args, kw, out, rows):
                k = kind(kw) if callable(kind) else kind
                if k:
                    wl._add("operators.similarity_join.distance_evals", grid(k))
                if pairs and 0 in rows:
                    wl._add("operators.similarity_join.pairs_out", rows[0])
            return cb

        def on_sink(args, kw, out, rows):
            base, date = args[2], args[3]
            size = sum(os.path.getsize(p) for p in glob.glob(
                f"{base}/{date}/**/*", recursive=True) if os.path.isfile(p))
            wl._add("sources.io.sink.bytes_written", size)

        def by_impl(kw):
            return "class" if kw.get("impl") == "grouped" else "row"

        P = pipeline
        tr.install(P, "scan_between_dates", "sources.io.scan")
        tr.install(P, "union_encode_split", "operators.preprocess", (0, 1),
                   on_encode)
        tr.install(P, "_per_date_auto_stats", "pipeline.auto_stats", ())
        tr.install(P, "resolve_auto_impl", "pipeline.auto_stats", (), on_stats)
        tr.install(P, "_collect_build_matrix", "operators.similarity_join", ())
        tr.install(P, "percentile_radius", "operators.similarity_join", (),
                   on_kernel(by_impl, False))
        # on the dictionary route the row-level pairs stay lazy (the class
        # kernels below carry the work), so they are not materialized
        tr.install(P, "similarity_join", "operators.similarity_join",
                   lambda a, kw: () if kw.get("impl") == "grouped" else (0,),
                   on_kernel(lambda kw: None if kw.get("impl") == "grouped"
                             else "row", True))
        tr.install(P, "adjust_partials_numpy", "operators.similarity_join",
                   (0,), on_kernel("row", False))
        tr.install(SJ, "probe_class_ids", "operators.similarity_join")
        tr.install(SJ, "knn_topk_classes", "operators.similarity_join", (0,),
                   on_kernel("class", True))
        tr.install(SJ, "radius_classes", "operators.similarity_join", (0,),
                   on_kernel("class", True))
        for fn in ("distribute_conversions", "distribute_from_class_pairs",
                   "distribute_from_partials"):
            tr.install(P, fn, "operators.adjust")
        tr.install(P, "summary_statistics", "operators.summary")
        tr.install(P, "write_adjustments_csv", "sources.io.sink", (), on_sink)


class Corpus(Workload):
    """A corpus service: batch near-dup clustering of the seed corpus
    (``neardup_components``, step ``dedup``), then arriving batches
    admitted one round each into the store of the seed corpus
    (``admit_batch``, steps ``round<i>``; the store grows as docs are
    admitted)."""

    def _components(self, docs):
        return D.neardup_components(
            docs, "text", "doc_id", threshold=JACCARD_THRESHOLD
        ).toPandas()

    def _admit(self, batch, sigs, hashes, store_dups, class_state):
        rel, sigs, hashes = D.admit_batch(
            batch, sigs, hashes, "text", "doc_id", JACCARD_THRESHOLD,
            store_identity_dups=store_dups, class_state=class_state,
        )
        return rel.select("doc_id", "dup_of", "jaccard").toPandas(), sigs, hashes

    def warmup(self):
        from pyspark.sql import functions as F

        docs = read_table(self.spark, self.inp, "warmup")
        seed = docs.filter(F.col("doc_id") % 2 == 0)
        self._components(seed)

    def steps(self):
        truth = self.truth
        seed = read_table(self.spark, self.inp, "seed")
        t0 = time.perf_counter()
        try:
            comp = self._components(seed)
            error = None
        except Exception as e:  # a raising step fails; the run goes on
            error = f"{type(e).__name__}: {str(e)[:300]}"
        secs = time.perf_counter() - t0
        rows = len(truth["seed_ids"])
        if error:
            yield _step("dedup", rows, secs, [error])
        else:
            bad = checks.check_components(comp, truth["seed_copy_classes"])
            self.counts["planted_recall"] = checks.planted_recall(
                comp, truth["seed_planted_pairs"])
            self.counts["operators.dedup.components.components"] = float(
                comp["component"].nunique())
            yield _step("dedup", rows, secs, bad, None,
                        checks.digest_frame(comp))
        # the store the rounds start from is state, not a step
        try:
            sigs, hashes = D.minhash_store(seed, "text", "doc_id")
            # threaded through every round, as the program's own admission
            # query does (the flag is invariant under admission)
            store_dups = D._has_identity_dups(hashes)
        except Exception as e:  # no store: the first round fails
            yield _step("round0", len(truth["batches"][0]), 0.0,
                        [f"store: {type(e).__name__}: {str(e)[:300]}"])
            return
        seed_frames = (sigs, hashes)
        class_state: dict = {}
        present = set(truth["seed_ids"])
        try:
            for b, ids in enumerate(truth["batches"]):
                batch = read_table(self.spark, self.inp, f"batch_{b:02d}")
                t0 = time.perf_counter()
                try:
                    rel, sigs, hashes = self._admit(batch, sigs, hashes,
                                                    store_dups, class_state)
                    error = None
                except Exception as e:
                    error = f"{type(e).__name__}: {str(e)[:300]}"
                secs = time.perf_counter() - t0
                if error:
                    # the store state is unknown after a failed round
                    yield _step(f"round{b}", len(ids), secs, [error])
                    return
                bad, admitted = checks.check_admission_round(
                    rel, ids, present, truth["copy_classes"],
                    JACCARD_THRESHOLD)
                present |= set(admitted)
                self.counts["operators.dedup.admit.store_rows"] = float(
                    len(present))
                digest = checks.digest_frame(rel) + checks.digest_frame(
                    pd.DataFrame({"admitted": admitted}))[:16]
                yield _step(f"round{b}", len(ids), secs, bad, None, digest)
        finally:
            for frame in seed_frames:
                frame.unpersist()

    def install_trace(self, tr):
        def count(key):
            def cb(args, kw, out, rows):
                self._add(key, rows.get(0, 0))
            return cb

        tr.install(D, "_token_hash_set", "operators.dedup.tokenize")
        tr.install(D, "minhash_signatures", "operators.dedup.signatures")
        for fn in ("minhash_candidates", "_banded_cross_cands"):
            tr.install(D, fn, "operators.dedup.banding", (0,),
                       count("operators.dedup.banding.candidates"))
        tr.install(D, "_verify_pairs_jaccard", "operators.dedup.verify", (0,),
                   count("operators.dedup.verify.pairs"))
        tr.install(D, "connected_components", "operators.dedup.components")
        # only the relations: the returned store frames are column views
        # over the round's checkpoint; materializing them would add O(store)
        tr.install(D, "admit_batch", "operators.dedup.admit", (0,))


def make(name, spark, inp, truth, work) -> Workload:
    if name == "cocoa_onehot_daily":
        return Cocoa(spark, inp, truth, work, "knn")
    if name == "cocoa_dense_daily":
        return Cocoa(spark, inp, truth, work, "percentile")
    return Corpus(spark, inp, truth, work)
