"""Independent reference for the correctness gate.

Plain numpy BM25 (k1=1.2, b=0.75, Lucene idf) over whitespace-split
documents, in the style of ``tests/reference_impl.py``: only the fieldnorm
table is taken from the engine, because the quantised document length is
part of the scoring spec. Documents are only ever appended, so every
lookup can be asked "as of the first ``n`` documents".
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

from sparktext.fieldnorm import quantize

K1, B = 1.2, 0.75
#: Scores may differ from the engine's only by summation order.
SCORE_TOL = 1e-6
_CLAUSE = re.compile(r"([+-]?)([^\s^]+)(?:\^([\d.]+))?")


def parse(q: str) -> tuple[dict[str, float], set[str], set[str]]:
    """(scored terms -> boost, must terms, must_not terms)."""
    scored, must, must_not = {}, set(), set()
    for occur, term, boost in _CLAUSE.findall(q.lower()):
        if occur == "-":
            must_not.add(term)
            continue
        scored[term] = float(boost) if boost else 1.0
        if occur == "+":
            must.add(term)
    return scored, must, must_not


class Reference:
    def __init__(self):
        self.lens = np.empty(0, np.int64)
        self.qlens = np.empty(0, np.float64)
        self.meta = pd.DataFrame(columns=["lang", "n_chars"])
        self.post: dict[str, tuple[list[int], list[int]]] = {}

    @property
    def n(self) -> int:
        return len(self.lens)

    def add(self, docs: pd.DataFrame) -> None:
        """Append documents; their doc ids must continue 0, 1, 2, ..."""
        if docs["doc_id"].iloc[0] != self.n:
            raise ValueError("reference doc ids must continue 0, 1, 2, ...")
        lens = []
        for doc, text in zip(docs["doc_id"], docs["content"]):
            toks = text.split()
            lens.append(len(toks))
            for term, tf in zip(*np.unique(toks, return_counts=True)):
                ids, tfs = self.post.setdefault(term, ([], []))
                ids.append(int(doc))
                tfs.append(int(tf))
        self.lens = np.concatenate([self.lens, np.asarray(lens, np.int64)])
        self.qlens = np.concatenate(
            [self.qlens, quantize(np.asarray(lens)).astype(np.float64)])
        self.meta = pd.concat(
            [self.meta, docs[["lang", "n_chars"]].reset_index(drop=True)],
            ignore_index=True)

    def _postings(self, term: str, n: int) -> tuple[np.ndarray, np.ndarray]:
        ids, tfs = self.post.get(term, ([], []))
        ids = np.asarray(ids, np.int64)
        cut = int(np.searchsorted(ids, n))
        return ids[:cut], np.asarray(tfs[:cut], np.float64)

    def scores(self, q: str, n: int | None = None) -> dict[int, float]:
        """doc id -> BM25 score of every document matching ``q``."""
        n = self.n if n is None else n
        scored, must, must_not = parse(q)
        avg = float(self.lens[:n].sum()) / n
        total = np.zeros(n)
        hit = np.zeros(n, bool)
        need = np.ones(n, bool)
        for term, boost in scored.items():
            ids, tfs = self._postings(term, n)
            if term in must:
                present = np.zeros(n, bool)
                present[ids] = True
                need &= present
            if len(ids) == 0:
                continue
            idf = math.log(1 + (n - len(ids) + 0.5) / (len(ids) + 0.5))
            dl = self.qlens[ids]
            total[ids] += boost * idf * tfs * (K1 + 1) / (
                tfs + K1 * (1 - B + B * dl / avg))
            hit[ids] = True
        for term in must_not:
            need[self._postings(term, n)[0]] = False
        docs = np.flatnonzero(hit & need)
        return dict(zip(docs.tolist(), total[docs].tolist()))

    def agg(self, q: str, terms_size: int, interval: float) -> dict:
        """The fruits of the benchmark's aggregation request."""
        docs = sorted(self.scores(q))
        m = self.meta.iloc[docs]
        chars = m["n_chars"].astype(np.int64)
        langs = m["lang"].value_counts()
        buckets = sorted(langs.items(), key=lambda kv: (-kv[1], kv[0]))
        hist = (np.floor(chars / interval) * interval).value_counts()
        return {
            "count": len(docs),
            "n_chars": (len(docs), int(chars.sum()),
                        int(chars.min()) if docs else None,
                        int(chars.max()) if docs else None),
            "by_lang": buckets[:terms_size],
            "hist": sorted((float(k), int(v)) for k, v in hist.items()),
        }


def close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_TOL * max(1.0, abs(b))


def topk_ok(rows: list[tuple[int, float]], ref: dict[int, float], k: int) -> bool:
    """True when ``rows`` is a correct top-k of ``ref``: the right length,
    scores in descending order and equal to the reference's k best, and
    every returned doc truly scoring what the engine says. Docs whose
    scores tie may appear in either order."""
    best = sorted(ref.values(), reverse=True)[:k]
    if len(rows) != len(best) or len({d for d, _ in rows}) != len(rows):
        return False
    for (doc, score), want in zip(rows, best):
        if doc not in ref or not close(score, ref[doc]) or not close(score, want):
            return False
    return all(a[1] >= b[1] - SCORE_TOL for a, b in zip(rows, rows[1:]))
