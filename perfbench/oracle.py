"""Independent answers for the correctness gate, built from the
generator's own token arrays (never from the engine's files).

``Bm25Oracle`` is a brute-force numpy BM25 over the whole corpus with
the engine's published parameters (k1=1.2, b=0.75,
idf = ln(1 + (N - df + 0.5) / (df + 0.5))). ``match_mask`` gives the
docs a query matches, which the ``select`` check counts with pandas.
"""

from __future__ import annotations

import math

import numpy as np

K1, B = 1.2, 0.75
SCORE_TOL = 1e-6
TIE_TOL = 1e-9


class Bm25Oracle:
    def __init__(self, corpus, vocab: np.ndarray):
        self.vocab = vocab
        self.doc_ids = corpus.doc_ids
        n = corpus.n_docs
        self.n_docs = n
        dl = np.diff(corpus.offsets)
        self.dl = dl.astype(np.float64)
        self.avgdl = float(dl.sum()) / n
        doc_of_tok = np.repeat(np.arange(n, dtype=np.int64), dl)
        self.tokens = corpus.tokens
        self.doc_of_tok = doc_of_tok
        keys = corpus.tokens.astype(np.int64) * n + doc_of_tok
        uk, tf = np.unique(keys, return_counts=True)
        self.term_of = uk // n
        self.doc_of = uk % n
        self.tf = tf.astype(np.float64)
        self.ptr = np.searchsorted(self.term_of,
                                   np.arange(len(vocab) + 1, dtype=np.int64))
        order = np.argsort(vocab.astype(str), kind="stable")
        self.sorted_words = vocab.astype(str)[order]
        self.sorted_ids = order

    def _term(self, t: int) -> tuple[np.ndarray, np.ndarray]:
        """(doc index array, BM25 score array) of one vocab index."""
        lo, hi = self.ptr[t], self.ptr[t + 1]
        docs, tf = self.doc_of[lo:hi], self.tf[lo:hi]
        df = hi - lo
        idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
        dl = self.dl[docs]
        return docs, idf * tf / (tf + K1 * (1 - B + B * dl / self.avgdl))

    def _dense(self, t: int) -> np.ndarray:
        s = np.full(self.n_docs, np.nan)
        d, v = self._term(t)
        s[d] = v
        return s

    def prefix_ids(self, prefix: str) -> np.ndarray:
        lo = np.searchsorted(self.sorted_words, prefix, side="left")
        hi = np.searchsorted(self.sorted_words, prefix + "\uffff",
                             side="left")
        ids = self.sorted_ids[lo:hi]
        return ids[self.ptr[ids + 1] > self.ptr[ids]]  # present terms only

    def scores(self, q) -> np.ndarray:
        """Dense score per doc index; NaN where the doc does not match."""
        if q.shape == "term":
            return self._dense(q.terms[0])
        if q.shape in ("and2", "empty"):
            return self._dense(q.terms[0]) + self._dense(q.terms[1])
        if q.shape == "or2":
            a, b = self._dense(q.terms[0]), self._dense(q.terms[1])
            both = ~np.isnan(a) & ~np.isnan(b)
            out = np.where(np.isnan(a), b, a)
            out[both] = a[both] + b[both]
            return out
        if q.shape == "not":
            a = self._dense(q.terms[0])
            a[~np.isnan(self._dense(q.terms[1]))] = np.nan
            return a
        if q.shape == "phrase":
            x, y = q.terms
            tok, dot = self.tokens, self.doc_of_tok
            hit = (tok[:-1] == x) & (tok[1:] == y) & (dot[:-1] == dot[1:])
            ok = np.zeros(self.n_docs, bool)
            ok[dot[:-1][hit]] = True
            s = 2.0 * self._dense(x) if x == y else \
                self._dense(x) + self._dense(y)
            s[~ok] = np.nan
            return s
        if q.shape == "prefix":
            out = np.zeros(self.n_docs)
            hit = np.zeros(self.n_docs, bool)
            for t in self.prefix_ids(q.prefix):
                d, v = self._term(int(t))
                out[d] += v
                hit[d] = True
            out[~hit] = np.nan
            return out
        raise ValueError(q.shape)

    def check_topk(self, q, got: list[tuple[int, float]], k: int) -> str:
        """'' when ``got`` (doc_id, score) is the exact top-k: same length,
        each rank's score within SCORE_TOL, and each rank's doc one of the
        docs whose true score ties that rank's (within TIE_TOL)."""
        s = self.scores(q)
        m = ~np.isnan(s)
        ids, sc = self.doc_ids[m], s[m]
        order = np.lexsort((ids, -sc))
        ids, sc = ids[order], sc[order]
        want = min(k, len(ids))
        if len(got) != want:
            return f"{q.text!r}: {len(got)} rows, expected {want}"
        by_id = dict(zip(ids[: want + 64].tolist(), sc[: want + 64].tolist()))
        for r, (d, v) in enumerate(got):
            if abs(v - sc[r]) > SCORE_TOL:
                return (f"{q.text!r}: rank {r} score {v!r}, "
                        f"expected {sc[r]!r}")
            true = by_id.get(int(d))
            if true is None or abs(true - sc[r]) > TIE_TOL:
                return (f"{q.text!r}: rank {r} doc {d}, "
                        f"expected {int(ids[r])}")
        return ""


def match_mask(corpus, q) -> np.ndarray:
    """Boolean per doc index: does the doc match ``q`` (term / and2
    shapes, the ones the select probe sends)."""
    n = corpus.n_docs
    dot = np.repeat(np.arange(n), np.diff(corpus.offsets))
    out = np.ones(n, bool)
    for t in q.terms:
        has = np.zeros(n, bool)
        has[dot[corpus.tokens == t]] = True
        out &= has
    return out
