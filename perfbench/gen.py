"""Seeded input generator for the benchmark workloads.

Everything here is numpy + pyarrow (no Spark): the benchmark process writes
the inputs once, and the program only ever reads the resulting parquet
files. The same (workload, seed, shape) always produces the same bytes.

Layouts (one file per date per side, the way a daily export lands):

    cocoa_*   consent/date=YYYY-MM-DD/part-00000.parquet
              noconsent/date=YYYY-MM-DD/part-00000.parquet
              warmup/{consent,noconsent}/date=.../part-00000.parquet
    corpus_*  seed.parquet, batch_NN.parquet, warmup.parquet

Beside the parquet files each input directory holds ``truth.json``: the
answers the checks need (non-consenting ids per date, planted near-dup
pairs, exact-copy classes) and the input properties recorded with every
result.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the seed used while the benchmark was written, and one that was not
DEV_SEED = 1
HELDOUT_SEED = 2027

JACCARD_THRESHOLD = 0.8

SHAPES: dict[str, dict] = {
    # GA-style categoricals: 3*5*12*6 = 1080 possible vectors, Zipf-skewed,
    # so each side holds a few hundred distinct vectors per date while the
    # row grid (0.25N x 0.75N) stays above the auto dispatch's pair budget
    "cocoa_onehot_daily": {
        "dates": 3, "rows": 24_000, "noconsent_share": 0.25,
        "cards": [3, 5, 12, 6], "zipf": 1.3,
        "warmup_rows": 600,
    },
    # continuous features, nearly every vector distinct (d ~ n); the grid
    # fits the pair budget, so auto picks the broadcast kernel
    "cocoa_dense_daily": {
        "dates": 4, "rows": 6_000, "noconsent_share": 0.25,
        "width": 6, "percentile": 0.9,
        "warmup_rows": 600,
    },
    # a seed corpus clustered once, then batches arriving against it
    "corpus_dedup_admit": {
        "docs": 2_500, "vocab": 4_000, "zipf": 1.1,
        "families": 80, "family_size": 4, "boilerplate": 14,
        "boilerplate_copies": 5, "seed_docs": 1_600, "batches": 3,
        "warmup_docs": 400,
    },
}

WORKLOADS = tuple(SHAPES)
FIRST_DATE = datetime.date(2026, 1, 5)


def shape_key(workload: str) -> str:
    blob = json.dumps(SHAPES[workload], sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:12]


def input_dir(cache_root: str, workload: str, seed: int) -> str:
    return os.path.join(
        cache_root, f"{workload}-seed{seed}-{shape_key(workload)}"
    )


def _rng(workload: str, seed: int, part: str) -> np.random.Generator:
    # independent, reproducible streams per (workload, seed, part)
    digest = hashlib.sha256(f"{workload}|{seed}|{part}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _zipf_choice(rng: np.random.Generator, n: int, size: int, a: float):
    p = 1.0 / np.arange(1, n + 1) ** a
    return rng.choice(n, size=size, p=p / p.sum())


# --------------------------------------------------------------- cocoa ----


def _cocoa_side_tables(workload, rng, shape, n_rows, id_prefix):
    """One date of one side: (arrow table, ids, distinct-vector count)."""
    ids = np.array([f"{id_prefix}{i:07d}" for i in range(n_rows)])
    conv = np.round(rng.lognormal(3.0, 1.0, n_rows), 2) + 0.01
    cols = {"gclid": pa.array(ids), "conversion_value": pa.array(conv)}
    if workload == "cocoa_onehot_daily":
        names = ["device", "browser", "country", "channel"]
        codes = [
            _zipf_choice(rng, card, n_rows, shape["zipf"])
            for card in shape["cards"]
        ]
        for name, code in zip(names, codes):
            cols[name] = pa.array(np.char.add(f"{name[:2]}", code.astype(str)))
        distinct = len({tuple(v) for v in np.stack(codes, axis=1).tolist()})
    else:
        feats = rng.normal(0.0, 1.0, (n_rows, shape["width"])).round(4)
        for j in range(shape["width"]):
            cols[f"x{j}"] = pa.array(feats[:, j])
        distinct = len({tuple(v) for v in feats.tolist()})
    return pa.table(cols), ids, distinct


def _gen_cocoa(workload: str, seed: int, out: str) -> dict:
    shape = SHAPES[workload]
    truth: dict = {"dates": [], "noconsent_ids": {}, "consent_rows": {},
                   "properties": {"per_date": {}}}

    def emit(root, date, n_total, rng, tag):
        n_nc = int(round(n_total * shape["noconsent_share"]))
        n_c = n_total - n_nc
        pfx = f"{date.replace('-', '')}{tag}"
        c_tab, _, c_d = _cocoa_side_tables(workload, rng, shape, n_c, f"{pfx}c")
        n_tab, n_ids, n_d = _cocoa_side_tables(
            workload, rng, shape, n_nc, f"{pfx}n"
        )
        _write(c_tab, f"{root}/consent/date={date}/part-00000.parquet")
        _write(n_tab, f"{root}/noconsent/date={date}/part-00000.parquet")
        return n_c, n_nc, c_d, n_d, n_ids

    for i in range(shape["dates"]):
        date = (FIRST_DATE + datetime.timedelta(days=i)).isoformat()
        rng = _rng(workload, seed, date)
        n_c, n_nc, c_d, n_d, n_ids = emit(out, date, shape["rows"], rng, "")
        truth["dates"].append(date)
        truth["noconsent_ids"][date] = n_ids.tolist()
        truth["consent_rows"][date] = n_c
        truth["properties"]["per_date"][date] = {
            "rows_consent": n_c, "rows_noconsent": n_nc,
            "distinct_consent": c_d, "distinct_noconsent": n_d,
        }
    # the warm-up input is fixed (seed-independent) and small
    wdate = (FIRST_DATE - datetime.timedelta(days=1)).isoformat()
    emit(f"{out}/warmup", wdate, shape["warmup_rows"],
         _rng(workload, 0, "warmup"), "w")
    truth["warmup_date"] = wdate
    width = (sum(shape["cards"]) if workload == "cocoa_onehot_daily"
             else shape["width"])
    truth["properties"]["feature_width"] = width
    return truth


# -------------------------------------------------------------- corpus ----


def _doc_tokens(rng, vocab, n_tok, a):
    toks = _zipf_choice(rng, vocab, n_tok, a)
    return [f"w{t}" for t in toks]


def _near_copy(rng, base: list[str], vocab: int) -> list[str]:
    """Variant of ``base`` with Jaccard(token sets) >= 0.85 to it."""
    base_set = set(base)
    while True:
        toks = list(base)
        n_edit = max(1, len(toks) // 40)
        for pos in rng.choice(len(toks), n_edit, replace=False):
            toks[pos] = f"v{rng.integers(vocab * 10)}"
        s = set(toks)
        if len(s & base_set) / len(s | base_set) >= 0.85:
            return toks


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 1.0


def _corpus(workload: str, seed: int, n_docs: int, shape: dict, part: str):
    """(doc texts in id order, planted pairs, exact-copy classes).

    Ids are a seeded permutation so families and copies are scattered
    across the id space (and across store / batches for admission)."""
    rng = _rng(workload, seed, part)
    vocab, a = shape["vocab"], shape["zipf"]
    texts: list[list[str]] = []
    fam_groups: list[list[int]] = []
    bp_groups: list[list[int]] = []
    n_fam = max(2, shape["families"] * n_docs // shape["docs"])
    n_bp = max(2, shape["boilerplate"] * n_docs // shape["docs"])
    for _ in range(n_fam):
        base = _doc_tokens(rng, vocab, int(rng.integers(60, 120)), a)
        grp = [len(texts)]
        texts.append(base)
        for _ in range(shape["family_size"] - 1):
            grp.append(len(texts))
            texts.append(_near_copy(rng, base, vocab))
        fam_groups.append(grp)
    for _ in range(n_bp):
        bp = _doc_tokens(rng, vocab, int(rng.integers(20, 40)), a)
        grp = []
        for _ in range(shape["boilerplate_copies"]):
            grp.append(len(texts))
            texts.append(list(bp))
        bp_groups.append(grp)
    while len(texts) < n_docs:
        texts.append(_doc_tokens(rng, vocab, int(rng.integers(30, 120)), a))
    perm = rng.permutation(len(texts))  # position -> doc id
    ids = perm.astype(np.int64) + 1
    by_id = [None] * len(texts)
    for pos, did in enumerate(ids.tolist()):
        by_id[did - 1] = " ".join(texts[pos])
    sets = [set(t) for t in texts]
    planted = []
    for grp in fam_groups:
        for i in range(len(grp)):
            for j in range(i + 1, len(grp)):
                if _jaccard(sets[grp[i]], sets[grp[j]]) >= JACCARD_THRESHOLD:
                    a_id, b_id = sorted((int(ids[grp[i]]), int(ids[grp[j]])))
                    planted.append([a_id, b_id])
    copies = [sorted(int(ids[p]) for p in grp) for grp in bp_groups]
    return by_id, sorted(planted), sorted(copies)


def _docs_table(texts: list[str], id_list: list[int]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(id_list, pa.int64()),
        "text": pa.array([texts[i - 1] for i in id_list]),
    })


def _gen_corpus(workload: str, seed: int, out: str) -> dict:
    shape = SHAPES[workload]
    texts, planted, copies = _corpus(workload, seed, shape["docs"], shape, "main")
    # seeded arrival order: the seed corpus first, then equal batches
    order = _rng(workload, seed, "arrival").permutation(len(texts)) + 1
    order = order.tolist()
    seed_ids = sorted(order[:shape["seed_docs"]])
    _write(_docs_table(texts, seed_ids), f"{out}/seed.parquet")
    rest = order[shape["seed_docs"]:]
    per = -(-len(rest) // shape["batches"])
    batches = []
    for b in range(shape["batches"]):
        ids_b = sorted(rest[b * per:(b + 1) * per])
        _write(_docs_table(texts, ids_b), f"{out}/batch_{b:02d}.parquet")
        batches.append(ids_b)
    wtexts, _, _ = _corpus(workload, 0, shape["warmup_docs"], shape, "warmup")
    _write(_docs_table(wtexts, list(range(1, len(wtexts) + 1))),
           f"{out}/warmup.parquet")
    in_seed = set(seed_ids)
    seed_copies = [c for c in ([d for d in cls if d in in_seed]
                               for cls in copies) if len(c) > 1]
    seed_planted = [p for p in planted if p[0] in in_seed and p[1] in in_seed]
    return {
        "seed_ids": seed_ids, "batches": batches,
        "planted_pairs": planted, "copy_classes": copies,
        "seed_planted_pairs": seed_planted, "seed_copy_classes": seed_copies,
        "properties": {
            "docs": len(texts), "seed_docs": len(seed_ids),
            "batch_docs": [len(b) for b in batches],
            "planted_families": shape["families"],
            "family_size": shape["family_size"],
            "planted_pairs": len(planted),
            "planted_pairs_in_seed": len(seed_planted),
            "boilerplate_classes": len(copies),
            "boilerplate_copies": shape["boilerplate_copies"],
            "vocab": shape["vocab"],
        },
    }


def generate(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs; returns (input dir, truth)."""
    out = input_dir(cache_root, workload, seed)
    truth_path = os.path.join(out, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload.startswith("cocoa_"):
        truth = _gen_cocoa(workload, seed, tmp)
    else:
        truth = _gen_corpus(workload, seed, tmp)
    truth["workload"], truth["seed"] = workload, seed
    truth["shape"] = SHAPES[workload]
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, truth
