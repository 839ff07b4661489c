"""Reference answers computed from the generated texts, never from the index.

The engine's simple chain tokenizes with ``[a-z0-9]+`` on the lowered
text, the documented rule :func:`gen.tokens` implements; this module rebuilds every answer the
benchmark checks from those token streams in numpy/Python: Lucene BM25
top-k (SmallFloat-quantized lengths, float32 clause scores summed in
float64, ties by ascending docId), boolean restriction, phrase
frequencies, KWIC lines and windowed co-occurrence counts.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np

from alix_spark.index.codec import quantize_doc_len
from gen import TOKEN_RE, tokens

K1, B = 1.2, 0.75
SCORE_RTOL = 1e-6


class Oracle:
    def __init__(self, texts: list[str]):
        """``texts[d]`` is the content of docId ``d``."""
        self.texts = texts
        self.toks = [tokens(t) for t in texts]
        dl = np.array([len(t) for t in self.toks], dtype=np.int64)
        self.n_docs = int((dl > 0).sum())
        self.avgdl = float(dl.sum()) / max(1, self.n_docs)
        self.dlq = quantize_doc_len(dl).astype(np.float64)
        post: dict[str, dict[int, int]] = defaultdict(dict)
        for d, ts in enumerate(self.toks):
            for t, c in Counter(ts).items():
                post[t][d] = c
        self.postings = post
        self.vocab = sorted(post)

    def _clauses(self, term: str) -> dict[int, float]:
        p = self.postings.get(term)
        if not p:
            return {}
        df = len(p)
        idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
        docs = np.fromiter(p.keys(), dtype=np.int64, count=len(p))
        tfs = np.fromiter(p.values(), dtype=np.float64, count=len(p))
        w = tfs / (tfs + K1 * (1.0 - B + B * self.dlq[docs] / self.avgdl))
        clause = (idf * w).astype(np.float32).astype(np.float64)
        return dict(zip(docs.tolist(), clause.tolist()))

    def scores(self, terms: list[str], restrict: set[int] | None = None) -> dict[int, float]:
        acc: dict[int, float] = defaultdict(float)
        for t, mult in Counter(terms).items():
            for d, c in self._clauses(t).items():
                if restrict is None or d in restrict:
                    acc[d] += c * mult
        return dict(acc)

    def expand(self, prefix: str) -> list[str]:
        return [t for t in self.vocab if t.startswith(prefix)]

    def matching(self, must: list[str], must_not: list[str]) -> set[int]:
        docs = set(range(len(self.toks)))
        for t in must:
            docs &= set(self.postings.get(t, ()))
        for t in must_not:
            docs -= set(self.postings.get(t, ()))
        return docs

    def phrase(self, a: str, b: str) -> dict[int, int]:
        out = {}
        for d in self.postings.get(a, {}):
            ts = self.toks[d]
            n = sum(1 for i in range(len(ts) - 1) if ts[i] == a and ts[i + 1] == b)
            if n:
                out[d] = n
        return out

    def kwic(self, term: str, context: int = 50) -> list[tuple]:
        out = []
        for d in sorted(self.postings.get(term, {})):
            text = self.texts[d]
            for m in TOKEN_RE.finditer(text.lower()):
                if m.group() == term:
                    s, e = m.span()
                    out.append((d, s, text[max(0, s - context) : s], text[s:e], text[e : e + context]))
        return out

    def cooc(self, pivot: str, left: int = 3, right: int = 3) -> dict[str, tuple[int, int]]:
        freq: Counter = Counter()
        hits: dict[str, set] = defaultdict(set)
        for d in self.postings.get(pivot, {}):
            ts = self.toks[d]
            window = set()
            for p, t in enumerate(ts):
                if t == pivot:
                    window.update(range(max(0, p - left), min(len(ts), p + right + 1)))
            for p in window:
                t = ts[p]
                if t != pivot:
                    freq[t] += 1
                    hits[t].add(d)
        return {t: (freq[t], len(hits[t])) for t in freq}


def same_topk(got: list[tuple[int, float]], scores: dict[int, float], k: int) -> bool:
    """``got`` (doc, score) in rank order is a correct top-k of ``scores``:
    the right length, every returned score equals the doc's reference
    score, and the ranked score list equals the reference's (so ties at
    the cut may resolve either way only among equal scores)."""
    ref = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    if len(got) != len(ref):
        return False
    for (d, s), (_, rs) in zip(got, ref):
        if d not in scores or not _close(s, scores[d]) or not _close(s, rs):
            return False
    return len({d for d, _ in got}) == len(got)


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_RTOL * max(1.0, abs(b))
