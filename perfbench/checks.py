"""Output checks and output digests (pandas only, no Spark).

Each check returns a list of failure strings; an empty list means the
step's output is correct. Digests hash the rounded, sorted output so two
runs of the same inputs can be compared byte for byte.
"""

from __future__ import annotations

import hashlib

import pandas as pd

REL_TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1.0)


def check_cocoa_date(
    data: pd.DataFrame,
    summary: pd.DataFrame,
    consent_rows: int,
    noconsent_ids: set[str],
    id_column: str = "gclid",
) -> list[str]:
    """Flagship invariants of one date's adjusted output."""
    bad = []
    if len(data) != consent_rows:
        bad.append(f"{len(data)} output rows for {consent_rows} consenting rows")
    leaked = set(data[id_column].astype(str)) & noconsent_ids
    if leaked:
        bad.append(f"{len(leaked)} non-consenting ids in the output")
    if len(summary) != 1:
        return bad + [f"summary has {len(summary)} rows"]
    s = summary.iloc[0]
    total = float(s["total_matched_conversion_value"])
    added = float(data["adjusted_conversion"].sum())
    if not _close(added, total):
        bad.append(f"sum(adjusted_conversion)={added!r} != matched {total!r}")
    naive = float(
        (data["naive_adjusted_conversion"] - data["conversion_value"]).sum()
    )
    if not _close(naive, total):
        bad.append(f"sum(naive - conversion)={naive!r} != matched {total!r}")
    for col in ("percentage_matched_conversion_value",
                "percentage_matched_conversions"):
        if not 0.0 <= float(s[col]) <= 100.0:
            bad.append(f"{col}={s[col]} outside [0, 100]")
    return bad


def check_components(
    comp: pd.DataFrame, copy_classes: list[list[int]]
) -> list[str]:
    """``(node, component)``: labels are their component's minimum member,
    every node has one label, and exact copies share a component."""
    bad = []
    if comp["node"].duplicated().any():
        bad.append("a node carries more than one component label")
    mins = comp.groupby("component")["node"].min()
    wrong = mins[mins.index != mins.values]
    if len(wrong):
        bad.append(f"{len(wrong)} component labels are not their minimum member")
    label = dict(zip(comp["node"], comp["component"]))
    for cls in copy_classes:
        if len({label.get(d) for d in cls}) != 1 or label.get(cls[0]) is None:
            bad.append(f"exact copies {cls} split across components")
            break
    return bad


def planted_recall(comp: pd.DataFrame, planted: list[list[int]]) -> float:
    label = dict(zip(comp["node"], comp["component"]))
    hit = sum(
        1 for a, b in planted
        if label.get(a) is not None and label.get(a) == label.get(b)
    )
    return hit / len(planted) if planted else 1.0


def check_admission_round(
    relations: pd.DataFrame,
    batch_ids: list[int],
    present: set[int],
    copy_classes: list[list[int]],
    threshold: float,
) -> tuple[list[str], list[int]]:
    """One admission round. ``present`` = store ids before the round.
    Returns (failures, admitted ids)."""
    bad = []
    batch = set(batch_ids)
    rejected = set(relations["doc_id"].tolist())
    if not rejected <= batch:
        bad.append("a relation names a doc outside the batch")
    admitted = sorted(batch - rejected)
    adm = set(admitted)
    both = relations[relations["dup_of"].isin(adm) & relations["doc_id"].isin(adm)]
    if len(both):
        bad.append(f"{len(both)} verified relations between admitted docs")
    if (relations["jaccard"] < threshold).any():
        bad.append("a relation below the Jaccard threshold")
    # an exact copy of a doc already present, or of an earlier batch mate,
    # is a J=1 relation and must be rejected
    for cls in copy_classes:
        mates = sorted(set(cls) & batch)
        for d in mates:
            earlier = (set(cls) & present) or {m for m in mates if m < d}
            if d in adm and earlier:
                bad.append(f"exact copy {d} admitted")
    return bad, admitted


def digest_frame(df: pd.DataFrame, ndigits: int = 4) -> str:
    """sha256 of the rows rounded to ``ndigits`` and sorted."""
    out = df.copy()
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(ndigits) + 0.0  # no -0.0
    out = out[sorted(out.columns)]
    out = out.sort_values(list(out.columns)).reset_index(drop=True)
    return hashlib.sha256(out.to_csv(index=False).encode()).hexdigest()
