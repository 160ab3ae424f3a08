"""Seeded input generator: a Zipf corpus and the query / select op lists.

Everything here is a pure function of the seed. The engine only ever sees
what this module writes (a parquet corpus and query strings); the
expected answers the correctness gate needs are derived from the
generator's own token arrays (``oracle.py``), never from the engine.

Corpus ``zipf``:
  * a vocabulary of 50,000 pseudo-words built from skewed syllables, so
    prefixes of 2-4 letters match anything from a handful to a few
    thousand words;
  * token ranks drawn from a Zipf law with exponent 1.07;
  * doc lengths lognormal(mu=4.0, sigma=0.6) clipped to 5..600 tokens;
  * attribute columns ``lang`` (5 skewed values), ``source`` and
    ``n_chars``.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np

VOCAB_SIZE = 50_000
ZIPF_S = 1.07
LEN_MU, LEN_SIGMA, LEN_MIN, LEN_MAX = 4.0, 0.6, 5, 600
LANGS = np.array(["en", "ja", "de", "fr", "zh"])
LANG_P = np.array([0.50, 0.22, 0.14, 0.09, 0.05])
SOURCES = np.array(["web", "news", "forum", "wiki", "book", "code"])
#: ``empty`` is an ``and2`` pair drawn the same way whose terms share no
#: doc: Zipf-drawn pairs split into the two by their result, so a run
#: gets a fixed number of each whatever share of pairs a seed leaves empty
SHAPES = ("term", "and2", "or2", "not", "phrase", "prefix", "empty")
#: prefix ops take a prefix whose match set is log-uniform over this range
PREFIX_MATCH_RANGE = (30, 500)
#: the traced run's fixed hot prefix targets about this many matches
HOT_PREFIX_MATCHES = 3000

_CONS = list("kstnhmrbdgpzwyfj")
_VOWELS = list("aoiue")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per named stream, so adding a stream
    never shifts the draws of another."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def make_vocab(seed: int, size: int = VOCAB_SIZE) -> np.ndarray:
    """``size`` distinct lowercase pseudo-words, index = Zipf rank - 1.
    Syllable letters are drawn with skewed weights so that prefix match
    counts spread over orders of magnitude."""
    rng = _rng(seed, "vocab")
    cw = 1.0 / np.arange(1, len(_CONS) + 1) ** 0.8
    vw = 1.0 / np.arange(1, len(_VOWELS) + 1) ** 0.6
    cw, vw = cw / cw.sum(), vw / vw.sum()
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = 4 * (size - len(out))
        nsyl = rng.choice([2, 3, 4], size=n, p=[0.2, 0.5, 0.3])
        cons = rng.choice(len(_CONS), size=(n, 4), p=cw)
        vows = rng.choice(len(_VOWELS), size=(n, 4), p=vw)
        for i in range(n):
            w = "".join(_CONS[cons[i, j]] + _VOWELS[vows[i, j]]
                        for j in range(nsyl[i]))
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == size:
                    break
    return np.array(out, dtype=object)


def zipf_cdf(size: int = VOCAB_SIZE) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** ZIPF_S
    c = np.cumsum(p)
    return c / c[-1]


#: fractional parts of the golden ratio and of sqrt(2): additive
#: recurrences on them are low-discrepancy sequences
_STEPS = (0.6180339887498949, 0.41421356237309515)


def spread_uniform(rng: np.random.Generator, n: int,
                   step: int = 0) -> np.ndarray:
    """n draws in [0, 1) from a seeded-offset additive recurrence: every
    leading part of the sequence covers [0, 1) evenly, so however many
    ops a run gets through, its medians sample the whole distribution
    and move little from seed to seed."""
    return (rng.random() + np.arange(n) * _STEPS[step]) % 1.0


@dataclass
class Corpus:
    """Token ids per doc as one flat array plus doc offsets (CSR)."""

    doc_ids: np.ndarray          # int64, ascending
    offsets: np.ndarray          # int64, len n_docs + 1
    tokens: np.ndarray           # int32 vocab index per token
    lang: np.ndarray
    source: np.ndarray
    extra: dict = field(default_factory=dict)  # doc_id -> extra token

    @property
    def n_docs(self) -> int:
        return len(self.doc_ids)


def make_corpus(seed: int, stream: str, first_id: int, n_docs: int,
                cdf: np.ndarray) -> Corpus:
    rng = _rng(seed, f"corpus:{stream}")
    lens = np.clip(np.rint(rng.lognormal(LEN_MU, LEN_SIGMA, n_docs)),
                   LEN_MIN, LEN_MAX).astype(np.int64)
    offsets = np.zeros(n_docs + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    toks = np.searchsorted(cdf, rng.random(int(offsets[-1])),
                           side="right").astype(np.int32)
    np.minimum(toks, len(cdf) - 1, out=toks)
    lang = LANGS[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    source = SOURCES[rng.integers(0, len(SOURCES), n_docs)]
    return Corpus(np.arange(first_id, first_id + n_docs, dtype=np.int64),
                  offsets, toks, lang, source)


def corpus_texts(c: Corpus, vocab: np.ndarray) -> list[str]:
    words = vocab[c.tokens]
    out = []
    for i in range(c.n_docs):
        t = " ".join(words[c.offsets[i]:c.offsets[i + 1]])
        extra = c.extra.get(int(c.doc_ids[i]))
        out.append(t if extra is None else f"{t} {extra}")
    return out


def write_corpus(c: Corpus, vocab: np.ndarray, path: str) -> dict:
    """Write the corpus as one parquet file; returns its properties."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = corpus_texts(c, vocab)
    n_chars = np.fromiter((len(t) for t in texts), np.int64, len(texts))
    tbl = pa.table({
        "doc_id": pa.array(c.doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(c.lang.tolist(), pa.string()),
        "source": pa.array(c.source.tolist(), pa.string()),
        "n_chars": pa.array(n_chars, pa.int64()),
    })
    pq.write_table(tbl, path, compression="zstd")
    text_bytes = int(sum(len(t.encode()) for t in texts))
    lens = np.diff(c.offsets)
    return {"docs": c.n_docs, "tokens": int(c.offsets[-1]),
            "text_bytes": text_bytes,
            "mean_tokens_per_doc": round(float(lens.mean()), 2),
            "mean_bytes_per_doc": round(text_bytes / c.n_docs, 1),
            "distinct_terms": int(len(np.unique(c.tokens)))}


def prefix_counts(words: np.ndarray) -> dict[str, int]:
    """Match count of every 2-4 letter prefix over ``words`` (a word
    matches its own prefixes, itself included)."""
    counts: dict[str, int] = {}
    for w in words:
        for n in (2, 3, 4):
            if len(w) >= n:
                p = w[:n]
                counts[p] = counts.get(p, 0) + 1
    return counts


def pick_prefixes(rng, counts: dict[str, int], targets) -> list[str]:
    """For each target match count, the prefix whose count is closest on
    a log scale (ties broken by a seeded shuffle)."""
    names = np.array(sorted(counts))
    names = names[rng.permutation(len(names))]
    logc = np.log(np.array([counts[p] for p in names], np.float64))
    return [str(names[int(np.argmin(np.abs(logc - np.log(t))))])
            for t in targets]


@dataclass
class Query:
    shape: str
    text: str
    terms: tuple      # vocab indices (phrase: ordered pair); prefix: ()
    prefix: str = ""
    prefix_terms: int = 0   # lexicon match count (prefix shape)

    def as_json(self) -> dict:
        return {"shape": self.shape, "text": self.text,
                "terms": [int(t) for t in self.terms],
                "prefix": self.prefix, "prefix_terms": self.prefix_terms}


class _TermDocs:
    """The docs of each term over some corpora (CSR over a stable sort)."""

    def __init__(self, corpora: list[Corpus], n_terms: int):
        dots, toks, base = [], [], 0
        for c in corpora:
            dots.append(base + np.repeat(np.arange(c.n_docs),
                                         np.diff(c.offsets)))
            toks.append(c.tokens)
            base += c.n_docs
        dot, tok = np.concatenate(dots), np.concatenate(toks)
        order = np.argsort(tok, kind="stable")
        self._docs = dot[order]
        self._ptr = np.searchsorted(tok[order], np.arange(n_terms + 1))

    def co_occur(self, x: int, y: int) -> bool:
        dx = self._docs[self._ptr[x]:self._ptr[x + 1]]
        dy = self._docs[self._ptr[y]:self._ptr[y + 1]]
        return np.intersect1d(dx, dy).size > 0


class QueryMaker:
    """Draws distinct queries of each shape over one corpus. ``later``
    holds docs appended after the queries start: an ``and2`` pair must
    co-occur in ``corpus`` and an ``empty`` pair in none of them."""

    def __init__(self, seed: int, stream: str, vocab: np.ndarray,
                 corpus: Corpus, cdf: np.ndarray, later=()):
        self.rng = _rng(seed, f"queries:{stream}")
        self.vocab = vocab
        self.corpus = corpus
        self.cdf = cdf
        present = np.zeros(len(vocab), bool)
        present[corpus.tokens] = True
        self.present = present
        self.lexicon = np.sort(vocab[present].astype(str))
        self.pcounts = prefix_counts(self.lexicon)
        self.seen: set[str] = set()
        self._now = _TermDocs([corpus], len(vocab))
        self._ever = _TermDocs([corpus, *later], len(vocab)) \
            if later else self._now

    def _ranks(self, n: int, step: int = 0) -> np.ndarray:
        """n present vocab indices drawn by Zipf rank."""
        r = np.searchsorted(self.cdf, spread_uniform(self.rng, n, step),
                            side="right")
        r = np.minimum(r, len(self.vocab) - 1)
        out = r.copy()
        for i, t in enumerate(r):
            while not self.present[t]:  # next present rank
                t = (t + 1) % len(self.vocab)
            out[i] = t
        return out

    def _distinct(self, q: Query) -> Query | None:
        if q.text in self.seen:
            return None
        self.seen.add(q.text)
        return q

    def make(self, shape: str, n: int) -> list[Query]:
        out: list[Query] = []
        while len(out) < n:
            out += [q for q in self._batch(shape, n - len(out))
                    if self._distinct(q) is not None]
        return out

    def _batch(self, shape: str, n: int) -> list[Query]:
        v = self.vocab
        if shape == "term":
            return [Query(shape, v[a], (int(a),)) for a in self._ranks(n)]
        if shape in ("and2", "or2", "not", "empty"):
            a, b = self._ranks(n), self._ranks(n, step=1)
            out = []
            for x, y in zip(a, b):
                if x == y or (shape == "and2" and not self._now.co_occur(x, y)
                              ) or (shape == "empty"
                                    and self._ever.co_occur(x, y)):
                    continue
                if shape in ("and2", "empty"):
                    text = f"{v[x]} {v[y]}"
                elif shape == "or2":
                    text = f"{v[x]} OR {v[y]}"
                else:  # the subtrahend is the rarer term, so most hit
                    x, y = (x, y) if x <= y else (y, x)
                    text = f"{v[x]} -{v[y]}"
                out.append(Query(shape, text, (int(x), int(y))))
            return out
        if shape == "phrase":
            c = self.corpus
            docs = self.rng.integers(0, c.n_docs, n)
            out = []
            for d in docs:
                lo, hi = int(c.offsets[d]), int(c.offsets[d + 1])
                i = int(self.rng.integers(lo, hi - 1))
                x, y = int(c.tokens[i]), int(c.tokens[i + 1])
                out.append(Query(shape, f'"{v[x]} {v[y]}"', (x, y)))
            return out
        if shape == "prefix":
            lo, hi = PREFIX_MATCH_RANGE
            u = spread_uniform(self.rng, n)
            targets = np.exp(np.log(lo) + u * (np.log(hi) - np.log(lo)))
            return [self.prefix_query(p)
                    for p in pick_prefixes(self.rng, self.pcounts, targets)]
        raise ValueError(shape)

    def prefix_query(self, p: str) -> Query:
        return Query("prefix", f"{p}*", (), p, self.pcounts[p])

    def hot_prefix(self) -> Query:
        """The prefix closest to HOT_PREFIX_MATCHES (not recorded as seen:
        it is timed directly against the kernel, not through search)."""
        return self.prefix_query(
            pick_prefixes(self.rng, self.pcounts, [HOT_PREFIX_MATCHES])[0])

    def interleave(self, per_round: dict[str, int],
                   rounds: int) -> list[Query]:
        """Distinct queries, mixed in rounds that each take
        ``per_round[shape]`` of every shape in a seeded order. Each shape
        keeps its own order, so any leading part of the list holds the
        shapes in fixed proportion and samples each shape's distribution
        evenly."""
        per = {s: iter(self.make(s, n * rounds))
               for s, n in per_round.items() if n}
        out: list[Query] = []
        for _ in range(rounds):
            block = [s for s in per for _ in range(per_round[s])]
            out += [next(per[block[i]])
                    for i in self.rng.permutation(len(block))]
        return out


def write_queries(qs: list[Query], path: str) -> None:
    with open(path, "w") as f:
        for q in qs:
            f.write(json.dumps(q.as_json(), sort_keys=True) + "\n")


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def determinism_check(seed: int, workdir: str) -> dict:
    """Generate a small corpus and query file twice with ``seed`` and once
    with ``seed + 1``: the first two must be byte-identical, the third
    must differ. A 3,000-word vocabulary keeps it fast."""
    cdf = zipf_cdf(3000)
    digests = []
    for i, s in enumerate((seed, seed, seed + 1)):
        vocab = make_vocab(s, 3000)
        c = make_corpus(s, "det", 0, 300, cdf)
        cp = os.path.join(workdir, f"det{i}.parquet")
        qp = os.path.join(workdir, f"det{i}.jsonl")
        write_corpus(c, vocab, cp)
        write_queries(QueryMaker(s, "det", vocab, c, cdf).interleave(
            dict.fromkeys(SHAPES, 1), 4), qp)
        digests.append(file_digest([cp, qp]))
        os.remove(cp)
        os.remove(qp)
    return {"same_seed_identical": digests[0] == digests[1],
            "other_seed_differs": digests[0] != digests[2]}
