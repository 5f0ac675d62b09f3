"""Spark-free tests of the benchmark itself:

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402


def _file_hashes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_is_deterministic(tmp_path, workload):
    a, truth_a = gen.generate(workload, 7, str(tmp_path / "a"))
    b, truth_b = gen.generate(workload, 7, str(tmp_path / "b"))
    assert _file_hashes(a) == _file_hashes(b)
    assert truth_a == truth_b
    c, _ = gen.generate(workload, 8, str(tmp_path / "c"))
    assert _file_hashes(a) != _file_hashes(c)


def test_generated_shapes_hit_the_intended_routes(tmp_path):
    _, truth = gen.generate("cocoa_onehot_daily", 3, str(tmp_path))
    for p in truth["properties"]["per_date"].values():
        # row grid past the auto budget (1e8), class grid well within it
        assert p["rows_noconsent"] * p["rows_consent"] > 100_000_000
        assert p["distinct_noconsent"] * p["distinct_consent"] < 5_000_000
    _, truth = gen.generate("cocoa_dense_daily", 3, str(tmp_path))
    for p in truth["properties"]["per_date"].values():
        assert p["rows_noconsent"] * p["rows_consent"] <= 100_000_000
        assert p["distinct_consent"] >= 0.99 * p["rows_consent"]


def test_corpus_arrival_split(tmp_path):
    _, truth = gen.generate("corpus_dedup_admit", 3, str(tmp_path))
    seed = set(truth["seed_ids"])
    batches = [set(b) for b in truth["batches"]]
    assert not any(seed & b for b in batches)
    assert len(seed) + sum(map(len, batches)) == truth["properties"]["docs"]
    assert all(a in seed and b in seed for a, b in truth["seed_planted_pairs"])
    # near-dups and copies of seed docs arrive in the batches
    arriving = set().union(*batches)
    assert any(a in seed and b in arriving for a, b in truth["planted_pairs"])
    assert any(set(c) & seed and set(c) & arriving
               for c in truth["copy_classes"])


def _cocoa_output():
    data = pd.DataFrame({
        "gclid": ["c1", "c2", "c3"],
        "conversion_value": [10.0, 20.0, 30.0],
        "adjusted_conversion": [5.0, 0.0, 7.5],
        "naive_adjusted_conversion": [14.166666666666666, 24.166666666666666,
                                      34.166666666666666],
    })
    summary = pd.DataFrame({
        "percentage_matched_conversion_value": [62.5],
        "percentage_matched_conversions": [50.0],
        "number_matched_conversions": [2],
        "total_matched_conversion_value": [12.5],
    })
    return data, summary


def test_cocoa_check_accepts_a_correct_output():
    data, summary = _cocoa_output()
    assert checks.check_cocoa_date(data, summary, 3, {"n1", "n2"}) == []


def test_cocoa_check_rejects_a_perturbed_share():
    data, summary = _cocoa_output()
    data.loc[1, "adjusted_conversion"] += 1e-3
    assert checks.check_cocoa_date(data, summary, 3, {"n1", "n2"})


def test_cocoa_check_rejects_a_non_consenting_id():
    data, summary = _cocoa_output()
    data.loc[2, "gclid"] = "n2"
    bad = checks.check_cocoa_date(data, summary, 3, {"n1", "n2"})
    assert any("non-consenting" in b for b in bad)


def test_cocoa_check_rejects_a_missing_row_and_bad_percentage():
    data, summary = _cocoa_output()
    summary.loc[0, "percentage_matched_conversions"] = 100.5
    assert len(checks.check_cocoa_date(data, summary, 4, set())) == 2


def test_component_check():
    comp = pd.DataFrame({"node": [1, 2, 3, 5, 6], "component": [1, 1, 1, 5, 5]})
    assert checks.check_components(comp, [[5, 6]]) == []
    assert checks.planted_recall(comp, [[1, 3], [2, 5]]) == 0.5
    wrong = comp.assign(component=[2, 2, 2, 5, 5])
    assert checks.check_components(wrong, [])
    assert checks.check_components(comp, [[3, 6]])


def test_admission_check():
    rel = pd.DataFrame({"doc_id": [12], "dup_of": [3], "jaccard": [1.0]})
    bad, admitted = checks.check_admission_round(
        rel, [11, 12, 13], {1, 2, 3}, [[3, 12]], 0.8)
    assert bad == [] and admitted == [11, 13]
    none = rel.iloc[:0]
    bad, _ = checks.check_admission_round(none, [11, 12], {3}, [[3, 12]], 0.8)
    assert bad  # an exact copy of a store doc was admitted
    low = pd.DataFrame({"doc_id": [12], "dup_of": [11], "jaccard": [0.5]})
    bad, _ = checks.check_admission_round(low, [11, 12], set(), [], 0.8)
    assert bad


def test_digest_ignores_row_order_and_float_noise():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, 1.0]})
    b = pd.DataFrame({"k": [2, 1], "v": [1.0, 0.3]})
    assert checks.digest_frame(a) == checks.digest_frame(b)
    assert checks.digest_frame(a) != checks.digest_frame(b.assign(v=[1.0, 0.4]))


def test_benchmark_json_metric_names():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    assert {w["name"] for w in spec["workloads"]} <= set(gen.WORKLOADS)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
