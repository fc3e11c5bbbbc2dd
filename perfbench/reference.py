"""An independent BM25 reference and the checks the benchmark applies.

Pinned spec, restated here rather than imported from the engine: lowercase,
split on ``[^a-z0-9]+``, drop empty tokens; k1 = 1.2, b = 0.75; idf =
ln((N - df + 0.5) / (df + 0.5) + 1); a document's score sums, over the
DISTINCT query terms it contains, idf * tf / (tf + k1 * (1 - b + b * dl /
avgdl)). N, df and avgdl count every indexed document, deleted ones too
(soft deletes leave the statistics alone). Results are ordered by (score
desc, docID asc); documents scoring 0 are not results.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

K1, B = 1.2, 0.75
REL_TOL = 1e-9
_SPLIT = re.compile(r"[^a-z0-9]+")


def tokenize(text: str | None) -> list[str]:
    return [t for t in _SPLIT.split((text or "").lower()) if t]


class Bm25:
    """Exact BM25 over a list of texts; document ``i`` is ``texts[i]``."""

    def __init__(self, texts: list[str]):
        self.doclen = np.zeros(len(texts), dtype=np.float64)
        cols: dict[str, tuple[list[int], list[int]]] = {}
        for i, text in enumerate(texts):
            toks = tokenize(text)
            self.doclen[i] = len(toks)
            for term, tf in Counter(toks).items():
                d, f = cols.setdefault(term, ([], []))
                d.append(i)
                f.append(tf)
        self.n_docs = len(texts)
        self.avgdl = float(self.doclen.sum()) / self.n_docs if self.n_docs else 0.0
        self.postings = {t: (np.array(d, dtype=np.int64), np.array(f, dtype=np.float64))
                         for t, (d, f) in cols.items()}

    def idf(self, term: str) -> float:
        df = len(self.postings[term][0])
        return math.log((self.n_docs - df + 0.5) / (df + 0.5) + 1.0)

    def scores(self, text: str) -> dict[int, float]:
        """{document: score} for every document matching ``text``."""
        acc = np.zeros(self.n_docs, dtype=np.float64)
        hit = np.zeros(self.n_docs, dtype=bool)
        for term in set(tokenize(text)):
            if term not in self.postings:
                continue
            docs, tf = self.postings[term]
            norm = K1 * (1.0 - B + B * self.doclen[docs] / self.avgdl)
            acc[docs] += self.idf(term) * tf / (tf + norm)
            hit[docs] = True
        idx = np.flatnonzero(hit)
        return dict(zip(idx.tolist(), acc[idx].tolist()))


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b))


def check_topk(ref: Bm25, text: str, k: int, got: list[tuple[int, int, float]],
               doc_of: dict[int, int], dead: set[int] = frozenset()) -> str | None:
    """Check one query's result against the reference.

    ``got``: the engine's ``(rank, docID, score)`` rows; ``doc_of`` maps an
    engine docID to the reference document; ``dead`` holds deleted reference
    documents. Returns a description of the first fault, or None."""
    want = {d: s for d, s in ref.scores(text).items() if d not in dead}
    got = sorted(got)
    if [r for r, _, _ in got] != list(range(1, len(got) + 1)):
        return f"ranks {[r for r, _, _ in got]} are not 1..{len(got)}"
    if len(got) != min(k, len(want)):
        return f"{len(got)} rows, expected min(k={k}, matches={len(want)})"
    keys = [(-s, d) for _, d, s in got]
    if keys != sorted(keys):
        return "rows are not ordered by (score desc, docID asc)"
    seen = set()
    for _, docid, score in got:
        doc = doc_of.get(docid)
        if doc is None or doc not in want:
            return f"docID {docid} is not a live matching document"
        if not close(score, want[doc]):
            return f"docID {docid} scored {score!r}, reference {want[doc]!r}"
        seen.add(doc)
    if got:
        floor = got[-1][2]
        above = [s for d, s in want.items() if d not in seen and s > floor * (1 + REL_TOL)]
        if above:
            return f"an omitted document scores {max(above)!r} > k-th score {floor!r}"
    return None
