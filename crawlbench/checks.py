"""Exact output checks for every timed op, and the corruptions that
prove each check can fail.

Every check returns a list of problems; an empty list is a pass. The
self-test runs each check on a deliberately corrupted copy of a real
output and records whether the check rejected it, so a check that has
silently stopped checking shows up in every run.
"""

from __future__ import annotations

import copy
from typing import Dict, List, Sequence, Tuple

import numpy as np

from . import inputs


# ---------------------------------------------------------------- crawl
def check_round(got: dict, ref: dict) -> List[str]:
    """One crawl round: visited ``(url, depth)`` rows of that
    fetch_round, and the fetched / history-inserted counts, against
    the serial oracle."""
    problems = []
    g = sorted(map(tuple, got["visited"]))
    r = sorted(map(tuple, ref["visited"]))
    if g != r:
        gs, rs = set(g), set(r)
        problems.append(f"visited rows differ: {len(gs - rs)} extra, "
                        f"{len(rs - gs)} missing, {len(g) - len(gs)} duplicated")
    for k in ("fetched", "deduped"):
        if got[k] != ref[k]:
            problems.append(f"{k} {got[k]} != reference {ref[k]}")
    return problems


def round_recall(got: dict, ref: dict) -> Tuple[int, int]:
    """(reference rows reproduced, reference rows)."""
    r = set(map(tuple, ref["visited"]))
    return len(r & set(map(tuple, got["visited"]))), len(r)


def crawl_self_test(got: dict, ref: dict) -> Dict[str, bool]:
    """Each corruption must be rejected by ``check_round``."""
    out = {}
    if got["visited"]:
        bad = copy.deepcopy(got)
        bad["visited"][0][1] += 1
        out["visited_depth_changed"] = bool(check_round(bad, ref))
        bad = copy.deepcopy(got)
        bad["visited"].pop()
        out["visited_row_dropped"] = bool(check_round(bad, ref))
    bad = copy.deepcopy(got)
    bad["deduped"] += 1
    out["deduped_count_off_by_one"] = bool(check_round(bad, ref))
    return out


# ---------------------------------------------------------------- pairs
def check_topk(rows: Sequence[Sequence], ref: Dict[str, list]) -> List[str]:
    """cosine_topk output rows (q_id, n_id, cos, rnk) must equal the
    exact top-K, ids and rounded cosines, in rank order."""
    by_q: Dict[int, list] = {}
    for q, n, c, rk in rows:
        by_q.setdefault(int(q), []).append((int(rk), int(n), float(c)))
    problems = []
    for q, want in ref.items():
        got = [[n, c] for _, n, c in sorted(by_q.pop(int(q), []))]
        if got != want:
            problems.append(f"query {q}: {got} != {want}")
    if by_q:
        problems.append(f"rows for unknown queries {sorted(by_q)}")
    return problems


def check_ann(rows: Sequence[Sequence], Xd: np.ndarray,
              ref: Dict[str, list]) -> Tuple[List[str], float]:
    """ivf_ann / lsh_bucketed_ann rows are approximate, so they must be
    *valid*: each reported cosine is the exact rounded cosine of its
    pair, no query returns itself or a duplicate, and ranks run 1..m
    (m <= K) in (cos desc, n_id asc) order. Returns the problems and
    recall@K against the exact top-K (ties at the K-th score count)."""
    by_q: Dict[int, list] = {}
    for q, n, c, rk in rows:
        by_q.setdefault(int(q), []).append((int(rk), int(n), float(c)))
    problems, hits, total = [], 0, 0
    for qs, want in ref.items():
        q = int(qs)
        got = sorted(by_q.pop(q, []))
        ranks = [rk for rk, _, _ in got]
        if ranks != list(range(1, len(got) + 1)) or len(got) > inputs.K:
            problems.append(f"query {q}: ranks {ranks}")
        ns = np.array([n for _, n, _ in got], dtype=np.int64)
        if len(set(ns.tolist())) != len(ns) or q in ns.tolist():
            problems.append(f"query {q}: self or duplicate neighbour")
        if len(ns):
            exact = inputs.exact_cos_rows(Xd, q, ns)
            for (_, n, c), e in zip(got, exact):
                if c != inputs.spark_round4(e):
                    problems.append(f"query {q}: n {n} cos {c} != {inputs.spark_round4(e)}")
        keys = [(-c, n) for _, n, c in got]
        if keys != sorted(keys):
            problems.append(f"query {q}: not in (cos desc, id asc) order")
        kth = want[-1][1]
        hits += min(len(want), sum(1 for _, _, c in got if c >= kth))
        total += len(want)
    if by_q:
        problems.append(f"rows for unknown queries {sorted(by_q)}")
    return problems, (hits / total if total else 0.0)


def check_pairs(rows: Sequence[Sequence], ref: list) -> List[str]:
    """embedding_neardup_pairs rows (id_a, id_b, cos) must equal the
    exact within-label pair set, rounded cosines included."""
    got = sorted([int(a), int(b), float(c)] for a, b, c in rows)
    if got == ref:
        return []
    gs, rs = set(map(tuple, got)), set(map(tuple, ref))
    return [f"pairs differ: {len(gs - rs)} extra, {len(rs - gs)} missing"]


def pairs_self_test(out: Dict[str, list], Xd: np.ndarray, ref: dict) -> Dict[str, bool]:
    """Corrupt one real output per operator; every check must reject."""
    res = {}
    topk = [list(r) for r in out["cosine_topk"]]
    topk[0][1] = topk[1][1] if topk[1][1] != topk[0][1] else topk[0][1] + 1
    res["cosine_topk_neighbour_swapped"] = bool(check_topk(topk, ref["topk"]))
    for name in ("ivf_ann", "lsh_bucketed_ann"):
        bad = [list(r) for r in out[name]]
        bad[0][2] = round(bad[0][2] + 0.01, 4)
        res[f"{name}_cos_changed"] = bool(check_ann(bad, Xd, ref["topk"])[0])
    pairs = [list(r) for r in out["embedding_neardup_pairs"]]
    res["neardup_pair_dropped"] = bool(check_pairs(pairs[1:], ref["pairs"]))
    res["neardup_pair_added"] = bool(check_pairs(pairs + [[0, 1, 1.0]], ref["pairs"]))
    return res
