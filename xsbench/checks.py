"""Answer checks, each matching what one operator's docstring promises.

Every check returns a list of problems (empty = pass).  An empty EXPECTED
answer is itself a problem: a check whose both sides are empty proves
nothing.  ``corruptions_flagged`` feeds deliberately broken copies of a
real answer back through a check and reports any that slip through.
"""

from __future__ import annotations

import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

WEIGHT_TOL = 1e-9  # as tests/conftest.assert_mset_equal allows
COS_ROUND_TOL = 0.5e-4 + 1e-12  # cos is rounded to 4 digits
COS_MISS_TOL = 1e-4


def mset_exact(
    got: list[tuple[int, float]], want: list[tuple[int, float]]
) -> tuple[list[str], int]:
    """Exhaustive ``mset_df``: the exact MSet equality of
    ``tests/test_engine_vs_oracle.py`` -- docids and their order exactly,
    weights within WEIGHT_TOL.  Returns (problems, rows whose weight is not
    bit-identical to the oracle's); the latter are counted, not failed."""
    if not want:
        return ["expected answer is empty"], 0
    if [d for d, _ in got] != [d for d, _ in want]:
        return [f"docids differ: got {got[:4]}... want {want[:4]}..."], 0
    inexact = 0
    for (d, g), (_, w) in zip(got, want):
        if abs(g - w) > WEIGHT_TOL:
            return [f"doc {d} weight {g!r} vs oracle {w!r}"], 0
        inexact += g != w
    return [], inexact


def mset_wand(
    got: list[tuple[int, float]], want_deep: list[tuple[int, float]], k: int
) -> tuple[list[str], int]:
    """``prune=True``: same top-k as the oracle, weights within WEIGHT_TOL, and
    order (or the last slot) may differ only among docs whose ORACLE
    weights are within WEIGHT_TOL.  ``want_deep`` is the oracle's top-(k+m),
    deep enough to cover ties at the k-th weight.  Returns (problems,
    order_flips)."""
    want = want_deep[:k]
    if not want:
        return ["expected answer is empty"], 0
    if len(got) != len(want):
        return [f"wand returned {len(got)} rows, oracle {len(want)}"], 0
    ow = dict(want_deep)
    problems = []
    for d, w in got:
        if d not in ow:
            problems.append(f"doc {d} not in oracle top-{len(want_deep)}")
        elif abs(w - ow[d]) > WEIGHT_TOL:
            problems.append(f"doc {d} weight {w!r} vs oracle {ow[d]!r}")
    if problems:
        return problems, 0
    if len({d for d, _ in got}) != len(got):
        return ["duplicate docids"], 0
    kth = want[-1][1]
    for d in {d for d, _ in got} ^ {d for d, _ in want}:
        if abs(ow[d] - kth) > WEIGHT_TOL:
            return [f"doc {d} swapped across the top-{k} boundary"], 0
    flips = 0
    for i in range(len(got)):
        for j in range(i + 1, len(got)):
            a, b = got[i][0], got[j][0]
            # b ranks after a in the answer but before it in the oracle
            if (-ow[b], b) < (-ow[a], a):
                if abs(ow[a] - ow[b]) > WEIGHT_TOL:
                    return [f"docs {a},{b} out of order beyond tie tolerance"], 0
                flips += 1
    for d in {d for d, _ in got} - {d for d, _ in want}:
        flips += 1  # tie at the k-th weight resolved to another doc
    return [], flips


# ---------------------------------------------------------------- dedup

_SPLIT = re.compile(r"\s+", re.ASCII)


def shingle_sets(docs: list[tuple[int, str]], w: int = 3) -> dict[int, set[str]]:
    """Distinct w-token shingles per doc, as ``dedup.shingles`` documents
    them: lowercase, ASCII-whitespace split, docs under w tokens have none."""
    out = {}
    for did, text in docs:
        toks = [t for t in _SPLIT.split((text or "").lower()) if t]
        if len(toks) >= w:
            out[did] = {" ".join(toks[i : i + w]) for i in range(len(toks) - w + 1)}
    return out


def spark_round(x: float, digits: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP))


def jaccard_expected(
    sets: dict[int, set[str]], threshold: float, max_df: int, digits: int = 6
) -> tuple[set[tuple[int, int, float]], int]:
    """Exact Jaccard over the shingle universe left after dropping shingles
    in more than ``max_df`` docs.  Returns (pairs, shingles dropped)."""
    postings = defaultdict(list)
    for d, s in sets.items():
        for sh in s:
            postings[sh].append(d)
    dropped = {sh for sh, ds in postings.items() if len(ds) > max_df}
    sizes = {d: len(s - dropped) for d, s in sets.items()}
    inter = defaultdict(int)
    for sh, ds in postings.items():
        if sh in dropped:
            continue
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                inter[(a, b)] += 1
    out = set()
    for (a, b), i in inter.items():
        jac = spark_round(i / (sizes[a] + sizes[b] - i), digits)
        if jac >= threshold:
            out.add((a, b, jac))
    return out, len(dropped)


def jaccard_exact(got: list[tuple[int, int, float]], want: set) -> list[str]:
    if not want:
        return ["expected Jaccard pair set is empty"]
    if len(got) != len(set(got)):
        return ["duplicate Jaccard pairs"]
    g = set(got)
    if g != want:
        return [f"Jaccard pairs differ: {len(g - want)} extra, {len(want - g)} missing"]
    return []


def candidate_pairs_wellformed(got: list[tuple[int, int]], doc_ids: set[int]) -> list[str]:
    """MinHash is approximate: only the pair format is promised."""
    if len(got) != len(set(got)):
        return ["duplicate candidate pairs"]
    for a, b in got:
        if not a < b:
            return [f"candidate pair ({a},{b}) not ordered d1 < d2"]
        if a not in doc_ids or b not in doc_ids:
            return [f"candidate pair ({a},{b}) names an unknown doc"]
    return []


# ----------------------------------------------------------- similarity

class ExactCosine:
    """All-pairs cosine of one batch of vectors, for checking answers."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.pos = {int(d): i for i, d in enumerate(ids)}
        self.ids = ids
        unit = vecs / np.linalg.norm(vecs, axis=1)[:, None]
        self.cos = unit @ unit.T

    def of(self, a: int, b: int) -> float:
        return float(self.cos[self.pos[a], self.pos[b]])

    def pairs_at_least(self, threshold: float) -> set[tuple[int, int]]:
        ii, jj = np.nonzero(np.triu(self.cos >= threshold, k=1))
        return {(int(self.ids[i]), int(self.ids[j])) for i, j in zip(ii, jj)}


def _pairs_wellformed(got, ex: ExactCosine) -> list[str]:
    seen = set()
    for a, b, c in got:
        if not a < b or a not in ex.pos or b not in ex.pos:
            return [f"bad pair ({a},{b})"]
        if (a, b) in seen:
            return [f"duplicate pair ({a},{b})"]
        seen.add((a, b))
        if abs(c - ex.of(a, b)) > COS_ROUND_TOL:
            return [f"pair ({a},{b}) cos {c} vs exact {ex.of(a, b):.6f}"]
    return []


def cosine_topk(got: list[tuple[int, int, float]], ex: ExactCosine, k: int) -> list[str]:
    """``cosine_pairs_topk``: each cos within rounding of the exact cosine,
    and no pair left out beats the k-th returned pair by more than 1e-4
    (independent of how ties at 4 digits were broken)."""
    n = len(ex.ids)
    want_n = min(k, n * (n - 1) // 2)
    if want_n == 0:
        return ["expected answer is empty"]
    if len(got) != want_n:
        return [f"returned {len(got)} pairs, expected {want_n}"]
    problems = _pairs_wellformed(got, ex)
    if problems:
        return problems
    mask = np.triu(np.ones_like(ex.cos, dtype=bool), k=1)
    for a, b, _ in got:
        mask[ex.pos[a], ex.pos[b]] = False
    best_left_out = float(ex.cos[mask].max()) if mask.any() else -1.0
    kth = min(c for _, _, c in got)
    if best_left_out > kth + COS_MISS_TOL:
        return [f"a left-out pair has cos {best_left_out:.6f} > k-th {kth} + 1e-4"]
    return []


def near_dups(got: list[tuple[int, int, float]], ex: ExactCosine, threshold: float) -> list[str]:
    """``embedding_near_dups`` is approximate: every pair it returns must
    really reach the threshold (up to rounding); misses only cost recall."""
    problems = _pairs_wellformed(got, ex)
    if problems:
        return problems
    for a, b, c in got:
        if c < threshold or ex.of(a, b) < threshold - COS_ROUND_TOL:
            return [f"pair ({a},{b}) below threshold: {c}, exact {ex.of(a, b):.6f}"]
    return []


# ------------------------------------------------------------ self-test

def _swap_ids(rows, i, j):
    rows = list(rows)
    ri, rj = list(rows[i]), list(rows[j])
    ri[0], rj[0] = rj[0], ri[0]
    rows[i], rows[j] = tuple(ri), tuple(rj)
    return rows


def _nudge(rows, i, col, by):
    rows = list(rows)
    r = list(rows[i])
    r[col] = r[col] + by
    rows[i] = tuple(r)
    return rows


def mset_corruptions(rows: list[tuple[int, float]]) -> dict:
    """Two docids swapped (the first and the last, whose weights differ
    unless the whole list ties), one weight nudged by 1e-6, one row dropped."""
    out = {"nudge_weight_1e-6": _nudge(rows, 0, 1, 1e-6), "drop_row": rows[:-1]}
    if len(rows) > 1 and abs(rows[0][1] - rows[-1][1]) > WEIGHT_TOL:
        out["swap_docids"] = _swap_ids(rows, 0, -1)
    return out


def corruptions_flagged(check, corruptions: dict) -> list[str]:
    """Names of corruptions the check did NOT flag (should be empty)."""
    missed = []
    for name, bad in corruptions.items():
        res = check(bad)
        if not (res[0] if isinstance(res, tuple) else res):
            missed.append(name)
    return missed
