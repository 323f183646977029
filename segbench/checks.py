"""Output checks, one per workload, on plain Python values.

Each check raises ``CheckFailed`` on a wrong output and otherwise returns
a digest of the output.  The digest must repeat across passes and across
runs of one seed; the runner compares it.
"""

from __future__ import annotations

import csv
import hashlib
import json
import math

SEGMENT_FEATURES = [
    "max_buy", "avg_isHit", "strength", "log_age",
    "log_avg_buy", "log_min_buy", "log_max_buy",
]


class CheckFailed(Exception):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def check_segment(results_csv: str, k_min: int, k_max: int, best_k: int) -> str:
    """clustering_results.csv: header k, cluster, score and the seven
    features; k rows for each k in k_min..k_max in order; one silhouette
    per k, in [-1, 1]; best_k is the k with the highest silhouette."""
    with open(results_csv, newline="") as f:
        rows = list(csv.reader(f))
    _require(bool(rows), "results csv is empty")
    header, body = rows[0], rows[1:]
    _require(header == ["k", "cluster", "score", *SEGMENT_FEATURES],
             f"results header {header}")
    want = [(k, c) for k in range(k_min, k_max + 1) for c in range(k)]
    got = [(int(r[0]), int(r[1])) for r in body]
    _require(got == want, f"(k, cluster) rows {got} != {want}")
    scores: dict[int, float] = {}
    values = []
    for r in body:
        _require(len(r) == 3 + len(SEGMENT_FEATURES), f"row width {len(r)}")
        k, score = int(r[0]), float(r[2])
        _require(-1.0 <= score <= 1.0, f"silhouette {score} for k={k}")
        _require(scores.setdefault(k, score) == score, f"two scores for k={k}")
        feats = [float(x) for x in r[3:]]
        _require(all(math.isfinite(x) for x in feats), f"non-finite center k={k}")
        values.append([k, int(r[1]), f"{score:.9g}", *[f"{x:.9g}" for x in feats]])
    _require(best_k == max(scores, key=scores.get), f"best_k {best_k} is not the argmax")
    return digest(values)


def split_of(key: int) -> str:
    """The engine's split rule: first hex digit of md5(str(key))."""
    digit = hashlib.md5(str(key).encode()).hexdigest()[0]
    return "test" if digit == "0" else "val" if digit == "1" else "train"


def components(doc_ids: list[int], pairs: list[tuple[int, int]]) -> dict[int, int]:
    """doc_id -> smallest doc_id of its connected component."""
    parent = {d: d for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in doc_ids}


def check_split(report: list[dict], doc_ids: list[int], pairs: list[tuple[int, int]]) -> str:
    """``q_split_leakage_safe`` report against an independent
    union-find: per split the doc, group and moved-doc counts must match
    a split that assigns each near-dup component as one unit, so no
    verified pair straddles splits."""
    rep = components(doc_ids, pairs)
    for a, b in pairs:
        _require(split_of(rep[a]) == split_of(rep[b]), f"pair ({a}, {b}) straddles splits")
    want: dict[str, dict] = {}
    for d in doc_ids:
        s = split_of(rep[d])
        w = want.setdefault(s, {"split": s, "n_docs": 0, "groups": set(), "n_docs_moved": 0})
        w["n_docs"] += 1
        w["groups"].add(rep[d])
        w["n_docs_moved"] += split_of(d) != s
    want_rows = sorted(
        ({"split": w["split"], "n_docs": w["n_docs"], "n_groups": len(w["groups"]),
          "n_docs_moved": w["n_docs_moved"]} for w in want.values()),
        key=lambda r: r["split"],
    )
    got = sorted(report, key=lambda r: r["split"])
    _require(got == want_rows, f"split report {got} != recount {want_rows}")
    return digest(got)


def check_kept(n_kept: int, n_docs: int, kept_hash: int, planted_dups: int) -> str:
    """``q_dedup_lsh_kept``: at most one doc per planted duplicate pair
    survives, and never more docs than came in."""
    _require(0 < n_kept <= n_docs - planted_dups, f"kept {n_kept} of {n_docs} docs")
    return digest([n_kept, kept_hash])


def check_topk(n_rows: int, n_rank1: int, n_probes: int, k: int, bad_rows: int,
               row_hash: int) -> str:
    """``q_ann_ivf_topk``: every probe (vec_id % 10 == 0) has a rank-1
    neighbour, at most k in all, cosine within [-1, 1] and ranks 1..k
    (``bad_rows`` counts rows that break either)."""
    _require(n_rank1 == n_probes, f"{n_rank1} probes answered of {n_probes}")
    _require(n_probes <= n_rows <= n_probes * k, f"{n_rows} rows for {n_probes} probes")
    _require(bad_rows == 0, f"{bad_rows} rows with cosine or rank out of range")
    return digest([n_rows, row_hash])
