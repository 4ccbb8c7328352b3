"""Seeded input generators. The engine only ever sees the rows built here.

Everything is a pure function of the seed, so one seed gives the same
documents, queries and vectors on every run and every machine.
"""

from __future__ import annotations

import random

import numpy as np

from xapian_spark.functions.tokenizer import xapian_tokenize
from xapian_spark.oracle import OracleIndex, build_oracle_index
from xapian_spark.plans import query as Q
from xapian_spark.sources.corpus import doc_row

DOC_SCHEMA = (
    "doc_id long, repo string, path string, commit string, lang string, content string"
)

#: Every PLANT_EVERY-th document is a one-token edit of the document
#: PLANT_BACK rows earlier, so each batch carries known near-duplicates.
PLANT_EVERY = 10
PLANT_BACK = 5
_EDIT_TOKENS = ["zz_edit", "patched", "tmp_var", "9999", "fixme"]


def derived_seed(seed: int, purpose: str) -> int:
    """A seed for one purpose (warm-up, queries, a pass) that never equals
    the measured corpus seed."""
    return random.Random(f"{seed}:{purpose}").getrandbits(31) + 1_000_003


def _one_token_edit(content: str, rng: random.Random) -> str | None:
    lines = content.split("\n")
    slots = [(li, ti) for li, line in enumerate(lines) for ti in range(len(line.split(" ")))]
    if len(slots) < 8:
        return None
    li, ti = slots[rng.randrange(len(slots))]
    toks = lines[li].split(" ")
    toks[ti] = rng.choice([t for t in _EDIT_TOKENS if t != toks[ti]])
    lines[li] = " ".join(toks)
    return "\n".join(lines)


def doc_rows(first: int, n: int, seed: int) -> list[tuple]:
    """Rows ``first .. first+n-1`` of the corpus with ``doc_id = i + 1``
    (as ``corpus_df`` assigns it), with planted one-token near-duplicates."""
    out = []
    content_of = {}
    for i in range(first, first + n):
        row = doc_row(i, seed)
        content = row[4]
        if i % PLANT_EVERY == PLANT_EVERY - 1 and i - PLANT_BACK >= first:
            edited = _one_token_edit(content_of[i - PLANT_BACK], random.Random(f"{seed}:edit:{i}"))
            if edited is not None:
                content = edited
        content_of[i] = content
        out.append((i + 1, row[0], row[1], row[2], row[3], content))
    return out


def oracle_index(rows: list[tuple]) -> OracleIndex:
    return build_oracle_index([(r[0], r[5]) for r in rows])


# ---------------------------------------------------------------- queries

SHAPES = (
    "term_hot", "or2", "term_rare", "and", "or4",
    "andnot", "synonym", "phrase", "near", "wand",
)


class QueryMix:
    """Top-k queries drawn from the ORACLE's index (never the engine's
    dictionary), by document-frequency band: hot > N/2, rare <= N/50, mid
    between.  Terms are picked Zipf-fashion inside a band so they repeat
    and the matcher's per-term stats cache gets hits.  Phrase, NEAR and AND
    terms come from one real document, so every query matches."""

    def __init__(self, oix: OracleIndex, rows: list[tuple], seed: int):
        self.rng = random.Random(seed)
        n = oix.doccount
        df = {t: len(p) for t, p in oix.postings.items()}
        bands = {"hot": [], "mid": [], "rare": []}
        for t in sorted(df):
            d = df[t]
            bands["hot" if d > n / 2 else "rare" if d <= n / 50 else "mid"].append(t)
        for name, terms in bands.items():
            if not terms:
                raise ValueError(f"document-frequency band {name!r} is empty")
            self.rng.shuffle(terms)
        self.bands = bands
        self.oix = oix
        self.texts = [r[5] for r in rows if len(xapian_tokenize(r[5])) >= 4]

    def _pick(self, band: str, avoid: tuple = ()) -> str:
        terms = self.bands[band]
        while True:
            i = min(int(self.rng.paretovariate(1.0)) - 1, len(terms) - 1)
            if terms[i] not in avoid:
                return terms[i]

    def _doc_tokens(self) -> list[str]:
        return xapian_tokenize(self.rng.choice(self.texts))

    def _adjacent(self, gap: int) -> tuple[str, str]:
        while True:
            toks = self._doc_tokens()
            starts = [i for i in range(len(toks) - gap) if toks[i] != toks[i + gap]]
            if starts:
                i = self.rng.choice(starts)
                return toks[i], toks[i + gap]

    def make(self, shape: str) -> Q.Query:
        T = Q.Term
        if shape == "term_hot":
            return T(self._pick("hot"))
        if shape == "term_rare":
            return T(self._pick("rare"))
        if shape in ("or2", "wand"):
            a = self._pick("hot")
            b = self._pick("hot" if shape == "wand" and len(self.bands["hot"]) > 1 else "mid", (a,))
            return Q.Or([T(a), T(b)])
        if shape == "or4":
            a = self._pick("hot")
            b = self._pick("mid", (a,))
            c = self._pick("mid", (a, b))
            d = self._pick("rare", (a, b, c))
            return Q.Or([T(a), T(b), T(c), T(d)])
        if shape == "and":
            a = self._pick("hot")
            doc = self.rng.choice(sorted(self.oix.postings[a]))
            others = sorted({t for t, p in self.oix.postings.items() if doc in p} - {a})
            return Q.And([T(a), T(self.rng.choice(others))])
        if shape == "andnot":
            return Q.AndNot(T(self._pick("hot")), T(self._pick("mid")))
        if shape == "synonym":
            a = self._pick("mid")
            return Q.Synonym([T(a), T(self._pick("rare", (a,)))])
        if shape == "phrase":
            a, b = self._adjacent(1)
            return Q.Phrase([T(a), T(b)])
        if shape == "near":
            a, b = self._adjacent(2)
            return Q.Near([T(a), T(b)], window=4)
        raise ValueError(shape)

    def schedule(self, n: int) -> list[tuple[str, Q.Query]]:
        """``n`` queries cycling through every shape in a fixed order, so
        each run sees the same mix whatever the seed."""
        return [(SHAPES[i % len(SHAPES)], self.make(SHAPES[i % len(SHAPES)])) for i in range(n)]


# ------------------------------------------------------------- embeddings

def embeddings(n: int, dim: int, seed: int, first_id: int = 1) -> tuple[np.ndarray, np.ndarray]:
    """(ids, vectors): cluster centres plus per-vector jitter of a seeded
    scale, so in-cluster cosines are graded (about 0.74 to 0.999) rather
    than all 1.0 and a top-k check compares scores, not only tie-breaks."""
    rng = np.random.default_rng(seed)
    n_centres = max(n // 6, 1)
    centres = rng.normal(size=(n_centres, dim))
    members = rng.integers(0, n_centres, size=n)
    scale = rng.uniform(0.05, 0.6, size=n)
    vecs = centres[members] + scale[:, None] * rng.normal(size=(n, dim))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return ids, vecs
