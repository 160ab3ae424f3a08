"""Per-segment query kernel: posting decode, intersection, block-max
pruning, BM25 top-k.

Re-expresses the reference's index-driven selection [G: lib/ii.c ·
grn_ii_select / grn_ii_sel; token_info cursors + result-set ops] — but
where the reference scores EVERY hit then sorts [G: lib/ii.c → grn_hash →
grn_table_sort], this kernel prunes with the skip-block metadata:

- top-k (run): two block-max pruners. A root that reduces to ONE term
  takes the single-term loop (_topk_single_pruned): decode blocks in
  descending-bound order, stop on a strict kth-score test. Every other
  prunable root — AND/OR/NOT/phrase/near/similar, a TermRange (hot
  prefix) at the root or as a child of any size — takes the interval
  pruner (_topk_interval_pruned): every block of every member pooled
  in one set of arrays, doc-id space partitioned at every block edge,
  interval bounds from Σ covering-block bounds, descending-bound
  processing with a strict kth-score stop (phrase/near verify positions
  on surviving candidates only; NOT terms decode candidate-driven).
  The single-term loop stays because it is ~2× faster on one term: on
  a 200k-doc index (4 CPUs, k=10, kernel construction included) six
  terms of ~1,250 blocks took 2.9–5.8 ms in it vs 5.5–10.5 ms as a
  one-member interval-pruner call, same results. Both are
  bit-identical to the exhaustive path; indexes under PRUNE_MIN_BLOCKS
  route to the batched exhaustive decode instead (cheaper at small
  scale / per shard);
- match (eval): rarest term (min df) decoded first [G: lib/ii.c ·
  grn_ii_estimate_size — same rarest-first idea], other terms decode ONLY
  blocks whose [min_doc_id, max_doc_id] overlap surviving candidates
  (searchsorted range pruning — the skip-list seek);
- phrase: positional adjacency via intersect of (pos - offset) arrays
  (the reference's ngram-adjacency check in token_info chaining);
- NOT: doc-id setdiff (AND-NOT of [G: grn_table_setoperation]);
- fields: a multi-field index's frame pools every field's blocks in
  disjoint term-id spans (``plan["fields"]``); each term scores with its
  own field's stats and masks its own field's tombstones, and a Field
  leaf scales its field's leaf score by the column weight. A shape the
  interval pruner cannot add in the exhaustive float order runs eval +
  top-k.

One block store: the kernel reads its block frame once as pooled numpy
columns (_pool; rows ordered by term_id, segment, block_id), and every
path addresses blocks as row indices into it — a term's blocks are
_rows(tid, tid), a prefix's _rows(lo, hi). Postings decode in exactly
two places: _decode_rows (doc/tf/dl with each field's tombstones
masked — the decode the bench's block counter wraps) and _positions
(doc ids and positions, for the phrase/near checks). What each path
decodes:
- single term (eval): every row of the term; (run) 64-row chunks in
  descending-bound order until the kth score beats the rest;
- AND of terms / phrase / near (eval): rarest-first as above; the
  positions of only the rows overlapping the final candidates;
- TermRange (eval): every row of the range, in one batch;
- interval pruner (run): the rows covering each processed interval
  chunk, each row at most once; negative terms only their rows
  overlapping candidates.
Each decode is one vb_decode per stream over the concatenated block
buffers, with a segmented cumsum to rebuild absolute doc ids; scores
take the scorer's idf once per unique df (_idf) and each field's
(avgdl, k1, b) (_by_field). Python loops occur per BLOCK or per query
NODE, never per row/doc.

Scores: float64; per-term contributions accumulated in term-string-sorted
order → bit-reproducible across parallelism (rank-identity contract).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from groonga_spark.codec import _segmented_cumsum, vb_decode
from groonga_spark.ql import (
    And,
    Field,
    Near,
    Not,
    Or,
    Phrase,
    Similar,
    Term,
    TermRange,
)
from groonga_spark.score import get_scorer


def _union_add(doc: np.ndarray, score: np.ndarray,
               d: np.ndarray, s: np.ndarray):
    """One step of the OR union-merge: union doc sets, ADD scores on
    overlap. THE single implementation — the bit-identity contract
    (float add order == sequential union order) lives here, shared by
    _eval_or and the Similar token loop."""
    merged = np.union1d(doc, d)
    ms = np.zeros(len(merged), np.float64)
    if len(doc):
        ms[np.searchsorted(merged, doc)] += score
    ms[np.searchsorted(merged, d)] += s
    return merged, ms


def _ordinalize(cand: np.ndarray, rep: np.ndarray, pos: np.ndarray):
    """Map per-posting doc ids to their ORDINAL in the sorted candidate
    set (dropping docs outside it). The positional checkers pack
    (doc, pos) into one int64 key — packing the ordinal instead of the
    raw id keeps the key in range for ANY doc-id magnitude (snowflake
    ids included): ordinal < len(cand), so ordinal·KEY + pos can't wrap
    for any realistic candidate count × position width."""
    if len(rep) == 0 or len(cand) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    idx = np.searchsorted(cand, rep)
    idx = np.minimum(idx, len(cand) - 1)
    m = cand[idx] == rep
    return idx[m], pos[m]


def _topk(doc: np.ndarray, score: np.ndarray, k: int):
    """top-k by (score desc, doc_id asc) — deterministic ties."""
    if len(doc) <= k:
        order = np.lexsort((doc, -score))
        return doc[order], score[order]
    # keep everything >= the kth score so boundary ties resolve by doc_id
    kth = score[np.argpartition(-score, k - 1)[k - 1]]
    keep = np.flatnonzero(score >= kth)
    order = keep[np.lexsort((doc[keep], -score[keep]))][:k]
    return doc[order], score[order]


class SegmentQueryKernel:
    """Evaluate one query AST over one segment's blocks."""

    def __init__(self, blocks: pd.DataFrame, plan: dict, stats: dict, k: int):
        self.plan = plan  # term text → {"term_id", "df", "tokens": [...]}
        self.stats = stats
        # one scorer per query (stats["scorer"], default bm25): score fn
        # + strict block bound threaded through every kernel path
        self._sc = get_scorer(stats.get("scorer"))
        self.k = k
        # (first term_id, stats, tombstones) per field, ascending: a
        # frame may pool several fields' postings in disjoint term-id
        # spans (a multi-field index's remapped frame); one field else
        self._fields = (plan.get("fields")
                        or [(0, stats, plan.get("tombstones"))])
        # the block frame; every path reads it as pooled numpy columns
        # (_pool, built on first use)
        self._raw = blocks
        self._cols: dict | None = None

    def _tokens(self, text: str, field: int | None = None) -> list | None:
        """term text → its token term_ids as planned (None per unknown
        token; None if the text was not planned). A Field leaf's texts
        are planned per field."""
        return self.plan["tokens_by_text"].get(
            text if field is None else (field, text))

    def _leaf_tokens(self, text: str,
                     field: int | None = None) -> list[int] | None:
        """term text → its token term_ids (None if any token unknown)."""
        toks = self._tokens(text, field)
        return None if toks is None or None in toks else toks

    def eval(self, node, field: int | None = None
             ) -> tuple[np.ndarray, np.ndarray]:
        """→ (doc_ids sorted asc, scores). ``field``: the Field whose
        lexicon planned this leaf's texts."""
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        if node is None:
            return empty
        if isinstance(node, Field):
            d, s = self.eval(node.leaf, node.field)
            return d, s * node.weight
        if isinstance(node, (Term, Phrase)):
            tids = self._leaf_tokens(node.text, field)
            if not tids:  # unknown token (None) or zero tokens ("" / "   ")
                return empty
            if len(tids) == 1:
                return self._eval_single(tids[0])
            return self._eval_phrase(tids)
        if isinstance(node, Near):
            tids = self._leaf_tokens(node.text, field)
            if not tids:
                return empty
            if len(set(tids)) == 1:
                # one distinct token (*N"x x", CJK bigram runs): every doc
                # holding the token satisfies the window trivially; score
                # follows the duplicate-occurrence algebra everywhere else
                # (_intersect_scored): count × BM25
                d, s = self._eval_single(tids[0])
                return (d, s * float(len(tids))) if len(tids) > 1 else (d, s)
            return self._eval_near(tids, node.max_interval)
        if isinstance(node, Similar):
            # similar-search is an OR over the text's RARE tokens: the
            # plan-time rewrite resolves node.tids to the top-m known
            # tokens by idf (reference rare-term selection); an
            # OUT-OF-VOCABULARY token contributes nothing (unlike a
            # phrase, where an unknown token makes the whole leaf
            # unmatchable) — only all-unknown yields empty. Unresolved
            # nodes (hand-built ASTs) fall back to every known token.
            if node.tids is not None:
                tids = [t for t, _ in node.tids]
            else:
                tids = [t for t in self._tokens(node.text, field) or []
                        if t is not None]
            if not tids:
                return empty
            # OR over distinct tokens (sorted order → deterministic
            # sums; same union-merge as _eval_or — ONE implementation)
            doc = np.empty(0, np.int64)
            score = np.empty(0, np.float64)
            for t in sorted(set(tids)):
                d, s = self._eval_single(t)
                if len(d) == 0:
                    continue
                doc, score = _union_add(doc, score, d, s)
            return doc, score
        if isinstance(node, TermRange):
            return self._eval_range(node.lo_tid, node.hi_tid)
        if isinstance(node, And):
            return self._eval_and(node.children)
        if isinstance(node, Or):
            return self._eval_or(node.children)
        if isinstance(node, Not):
            # bare NOT yields nothing (matches reference: NOT needs a left set)
            return empty
        raise TypeError(type(node))

    # --- the pooled block frame ---------------------------------------------

    def _pool(self) -> dict:
        """The kernel's block frame as numpy columns, plus the row order
        (term_id, segment, block_id) and each row's field — built once,
        on first use. THE block store: every path reads its blocks
        through these arrays."""
        if self._cols is None:
            b = self._raw
            c = {n: b[n].to_numpy(np.int64)
                 for n in ("term_id", "n_docs", "min_doc_id", "max_doc_id")}
            for n in ("max_tf", "min_dl", "df"):
                c[n] = b[n].to_numpy(np.float64)
            for n in ("doc_deltas", "tfs", "dls", "positions"):
                if n in b:
                    c[n] = b[n].to_numpy(object)
            c["order"] = np.lexsort((b["block_id"].to_numpy(np.int64),
                                     b["segment"].to_numpy(np.int64),
                                     c["term_id"]))
            c["sorted_tid"] = c["term_id"][c["order"]]
            c["field"] = np.searchsorted(
                np.asarray([f[0] for f in self._fields], np.int64),
                c["term_id"], side="right") - 1
            self._cols = c
        return self._cols

    def _rows(self, lo: int, hi: int) -> np.ndarray:
        """Frame rows of term_ids in [lo, hi], tid-major then doc order —
        so a per-doc fold over their postings follows ascending term_id
        (the enumerated-OR float sequence)."""
        c = self._pool()
        st = c["sorted_tid"]
        return c["order"][np.searchsorted(st, lo, side="left"):
                          np.searchsorted(st, hi, side="right")]

    def _member(self, key) -> tuple[np.ndarray, np.ndarray]:
        """(frame rows, per-row df) of a looked-up term id (the plan's
        df, else its blocks' df column) or a (lo, hi) term-id range
        (each block's own df column) — the one df rule of every path."""
        if isinstance(key, tuple):
            rows = self._rows(*key)
            return rows, self._pool()["df"][rows]
        rows = self._rows(key, key)
        df = self.plan["df_by_tid"].get(key)
        if df is None:
            return rows, self._pool()["df"][rows]
        return rows, np.full(len(rows), float(df))

    def _has(self, tid: int) -> bool:
        """Whether term ``tid`` has blocks in this frame."""
        return len(self._rows(tid, tid)) > 0

    def _idf(self, df: np.ndarray, fld: np.ndarray) -> np.ndarray:
        """Per-element idf: the scorer's idf fn (math.log, not np.log
        over the array) once per UNIQUE df of each field, so every
        element gets the BIT-identical idf the per-term path produces —
        np.log may differ from libm by an ulp."""
        out = np.empty(len(df), np.float64)
        for f, (_lo, st, _tomb) in enumerate(self._fields):
            m = fld == f
            uniq, inv = np.unique(df[m], return_inverse=True)
            out[m] = np.asarray(
                [self._sc.idf(d, st["n_docs"]) for d in uniq.tolist()],
                np.float64)[inv]
        return out

    def _by_field(self, fn, fld: np.ndarray, x: np.ndarray, y: np.ndarray,
                  idf: np.ndarray) -> np.ndarray:
        """The scorer's ``fn`` (score or bound) elementwise, each element
        under its own field's (avgdl, k1, b)."""
        if len(self._fields) == 1:
            st = self._fields[0][1]
            return fn(x, y, idf, st["avgdl"], st["k1"], st["b"])
        out = np.empty(len(x), np.float64)
        for f, (_lo, st, _tomb) in enumerate(self._fields):
            m = fld == f
            out[m] = fn(x[m], y[m], idf[m], st["avgdl"], st["k1"], st["b"])
        return out

    def _decode_rows(self, rows: np.ndarray):
        """ONE vb_decode per stream over the given frame rows → (doc, tf,
        dl, postings kept per row), each row's field tombstones masked
        (LSM delete semantics: stats stay as-built until compaction).
        The one posting decode of doc/tf/dl, on every path — so the
        bench's decode counter wraps this method alone."""
        c = self._pool()
        nd = c["n_docs"][rows]
        doc = _segmented_cumsum(
            vb_decode(b"".join(c["doc_deltas"][rows])).astype(np.int64), nd
        )
        tf = vb_decode(b"".join(c["tfs"][rows])).astype(np.int64)
        dl = vb_decode(b"".join(c["dls"][rows])).astype(np.int64)
        drop = None
        for f, (_lo, _st, tomb) in enumerate(self._fields):
            if tomb is None or not len(tomb):
                continue
            m = np.isin(doc, tomb)
            if len(self._fields) > 1:
                m &= np.repeat(c["field"][rows], nd) == f
            drop = m if drop is None else drop | m
        if drop is not None and drop.any():
            keep = ~drop
            nd = np.add.reduceat(keep.astype(np.int64), np.cumsum(nd) - nd)
            doc, tf, dl = doc[keep], tf[keep], dl[keep]
        return doc, tf, dl, nd

    def _scored(self, rows: np.ndarray, df: np.ndarray
                ) -> tuple[np.ndarray, np.ndarray]:
        """Decode ``rows`` → (doc, score): each posting scored under its
        row's df (per-element idf) and its row's field."""
        if not len(rows):
            return np.empty(0, np.int64), np.empty(0, np.float64)
        doc, tf, dl, nd = self._decode_rows(rows)
        fld = self._pool()["field"][rows]
        idf = np.repeat(self._idf(df, fld), nd)
        return doc, self._by_field(self._sc.score, np.repeat(fld, nd),
                                   tf, dl, idf)

    def _overlapping(self, rows: np.ndarray, cand: np.ndarray) -> np.ndarray:
        """Mask of the ``rows`` whose [min_doc_id, max_doc_id] holds a doc
        of the sorted, non-empty ``cand`` (searchsorted range pruning —
        the skip-list seek)."""
        c = self._pool()
        p = np.searchsorted(cand, c["min_doc_id"][rows], side="left")
        return (p < len(cand)) & (
            cand[np.minimum(p, len(cand) - 1)] <= c["max_doc_id"][rows])

    def _positions(self, tid: int, cand: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray]:
        """(doc_rep, pos) parallel arrays over term ``tid``'s blocks that
        overlap the sorted ``cand``, doc-major / position-minor — the one
        positions decode (not tombstone-masked: callers keep only
        candidate docs). All buffers decode in ONE vb_decode each; the
        only per-block Python is numpy slicing to split each block's
        [counts][deltas] stream."""
        rows = self._rows(tid, tid)
        rows = rows[self._overlapping(rows, cand)]
        if not len(rows):
            return np.empty(0, np.int64), np.empty(0, np.int64)
        c = self._pool()
        nd = c["n_docs"][rows]
        docs_all = _segmented_cumsum(
            vb_decode(b"".join(c["doc_deltas"][rows])).astype(np.int64), nd
        )
        vals = vb_decode(b"".join(c["positions"][rows])).astype(np.int64)
        counts_parts, delta_parts = [], []
        p = 0
        for n in nd.tolist():
            cnt = vals[p : p + n]
            p += n
            ntok = int(cnt.sum())
            delta_parts.append(vals[p : p + ntok])
            p += ntok
            counts_parts.append(cnt)
        counts = np.concatenate(counts_parts)
        deltas = np.concatenate(delta_parts)
        # deltas reset to absolute at each doc start (postings.py) →
        # per-doc segmented cumsum rebuilds absolute positions
        pos_abs = _segmented_cumsum(deltas, counts)
        return np.repeat(docs_all, counts), pos_abs

    def _eval_range(self, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
        """TermRange ≡ OR over every term_id in [lo, hi] present here,
        scores ADDING per doc in ascending-term_id order — bit-identical
        to the enumerated Or([Term…]) path (np.add.at accumulates in
        concatenation order == the sequential union-merge order, and
        0 + x == x exactly). POOLED: one vb_decode per stream over every
        range block, one scorer pass with per-element idf — zero per-term
        Python/pandas (a 10^5-term prefix is a handful of numpy passes)."""
        doc, s = self._scored(*self._member((lo, hi)))
        uniq, inv = np.unique(doc, return_inverse=True)
        agg = np.zeros(len(uniq), np.float64)
        np.add.at(agg, inv, s)
        return uniq, agg

    # --- leaves ------------------------------------------------------------

    def _eval_single(self, tid: int) -> tuple[np.ndarray, np.ndarray]:
        return self._scored(*self._member(tid))

    def _docs_only(self, node) -> np.ndarray:
        d, _ = self.eval(node)
        return d

    def _phrase_checker(self, tids: list[int]):
        """→ check(cand) -> bool mask: positional adjacency, fully
        vectorized — encode (doc, pos − i) as one int64 key per
        occurrence of token i; a doc matches the phrase iff some key
        survives the intersection of all tokens' key sets (the
        reference's ngram-adjacency check without the per-doc loop). The
        position field is sized from the actual max position (≥20 bits),
        so pathological million-token docs can't alias keys."""

        def check(cand: np.ndarray) -> np.ndarray:
            arrays = []
            max_pos = 0
            for i, t in enumerate(tids):
                rep, pos = self._positions(t, cand)
                rep, pos = _ordinalize(cand, rep, pos)
                arrays.append((i, rep, pos))
                if len(pos):
                    max_pos = max(max_pos, int(pos.max()))
            KEY = np.int64(1) << np.int64(max(20, max_pos.bit_length() + 1))
            acc = None
            for i, rep, pos in arrays:
                sel = pos >= i
                keys = rep[sel] * KEY + (pos[sel] - i)
                acc = keys if acc is None else np.intersect1d(
                    acc, keys, assume_unique=True
                )
                if len(acc) == 0:
                    return np.zeros(len(cand), bool)
            mask = np.zeros(len(cand), bool)
            mask[np.unique(acc // KEY)] = True
            return mask

        return check

    def _near_checker(self, tids: list[int], max_interval: int):
        """→ check(cand) -> bool mask: the exact near-window test (see
        _eval_near)."""
        uniq = sorted(set(tids))

        def check(cand: np.ndarray) -> np.ndarray:
            arrays = []
            max_pos = 0
            for t in uniq:
                rep, pos = self._positions(t, cand)
                rep, pos = _ordinalize(cand, rep, pos)
                arrays.append((rep, pos))
                if len(pos):
                    max_pos = max(max_pos, int(pos.max()))
            KEY = np.int64(1) << np.int64(
                max(20, int(max_pos + max_interval).bit_length() + 1)
            )
            keys_u = [rep * KEY + pos for rep, pos in arrays]
            allp = np.concatenate(keys_u)
            allp.sort(kind="stable")
            ok = np.ones(len(allp), bool)
            N = np.int64(max_interval)
            for ku in keys_u:
                idx = np.searchsorted(ku, allp, side="left")
                has = idx < len(ku)
                ki = ku[np.minimum(idx, len(ku) - 1)]
                ok &= has & (ki <= allp + N) & (ki // KEY == allp // KEY)
                if not ok.any():
                    return np.zeros(len(cand), bool)
            mask = np.zeros(len(cand), bool)
            mask[np.unique(allp[ok] // KEY)] = True
            return mask

        return check

    def _eval_phrase(self, tids: list[int]) -> tuple[np.ndarray, np.ndarray]:
        """Adjacent-position AND over the token sequence; score = sum of
        the member tokens' BM25 (term-id order), like ngram query eval."""
        cand, score = self._intersect_scored(tids)
        if len(cand) == 0:
            return cand, score
        keep = self._phrase_checker(tids)(cand)
        return cand[keep], score[keep]

    def _eval_near(self, tids: list[int], max_interval: int
                   ) -> tuple[np.ndarray, np.ndarray]:
        """Near: every token present in the doc with an occurrence set
        whose position span is ≤ max_interval. Exact check, vectorized:
        a valid window exists iff SOME occurrence p (the window minimum)
        has every token occurring in [p, p+N] — verified with one
        searchsorted per token over (doc, pos)-encoded int64 keys.
        Scores = summed member BM25 (same algebra as phrase)."""
        cand, score = self._intersect_scored(tids)
        if len(cand) == 0:
            return cand, score
        keep = self._near_checker(tids, max_interval)(cand)
        return cand[keep], score[keep]

    # --- boolean combinators ------------------------------------------------

    def _intersect_scored(self, tids: list[int]) -> tuple[np.ndarray, np.ndarray]:
        """Rarest-first intersection: the rarest term (min df) decodes
        whole, every later term only its rows overlapping the surviving
        candidates; scores summed in sorted-unique-term order
        (determinism)."""
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        uniq = sorted(set(tids))
        mem = {t: self._member(t) for t in uniq}
        if not uniq or any(not len(rows) for rows, _df in mem.values()):
            return empty
        order = sorted(uniq, key=lambda t: (mem[t][1][0], t))
        got = {order[0]: self._scored(*mem[order[0]])}
        cand = got[order[0]][0]
        for t in order[1:]:
            if len(cand) == 0:
                return empty
            rows, df = mem[t]
            keep = self._overlapping(rows, cand)
            got[t] = self._scored(rows[keep], df[keep])
            cand = cand[np.isin(cand, got[t][0], assume_unique=True)]
        if len(cand) == 0:
            return empty
        # duplicated tokens in tids (e.g. "a a") score once per occurrence:
        # one pass, weight 1 keeps the no-dup float sequence (x == 1·x)
        from collections import Counter

        c = Counter(tids)
        score = np.zeros(len(cand), np.float64)
        for t in uniq:  # fixed term-id order for float determinism
            doc, s = got[t]
            s = s[np.searchsorted(doc, cand)]
            score += s if c[t] == 1 else c[t] * s
        return cand, score

    def _eval_and(self, children) -> tuple[np.ndarray, np.ndarray]:
        pos = [c for c in children if not isinstance(c, Not)]
        neg = [c.child for c in children if isinstance(c, Not)]
        # fast path: all positives are single-token terms → fused
        # rarest-first intersection
        tid_lists = []
        fused = True
        for c in pos:
            if isinstance(c, (Term, Phrase)):
                tids = self._leaf_tokens(c.text)
                if tids is None:
                    return np.empty(0, np.int64), np.empty(0, np.float64)
                if len(tids) == 1:
                    tid_lists.append(tids[0])
                    continue
            fused = False
            break
        if fused and pos:
            doc, score = self._intersect_scored(tid_lists)
        else:
            doc, score = None, None
            for c in pos:
                d, s = self.eval(c)
                if doc is None:
                    doc, score = d, s
                else:
                    # intersect, scores ADD [G: grn_table_select OP_AND]
                    common = np.isin(doc, d, assume_unique=True)
                    doc2 = doc[common]
                    ix = np.searchsorted(d, doc2)
                    doc, score = doc2, score[common] + s[ix]
                if len(doc) == 0:
                    break
            if doc is None:
                doc = np.empty(0, np.int64)
                score = np.empty(0, np.float64)
        for n in neg:
            if len(doc) == 0:
                break
            nd = self._docs_only(n)
            keep = ~np.isin(doc, nd, assume_unique=True)
            doc, score = doc[keep], score[keep]
        return doc, score

    def _eval_or(self, children) -> tuple[np.ndarray, np.ndarray]:
        """Union; scores ADD on overlap [G: grn_table_setoperation OP_OR]."""
        doc = np.empty(0, np.int64)
        score = np.empty(0, np.float64)
        for c in children:
            d, s = self.eval(c)
            if len(d) == 0:
                continue
            doc, score = _union_add(doc, score, d, s)
        return doc, score

    def _topk_single_pruned(self, tid: int) -> tuple[np.ndarray, np.ndarray]:
        """Block-max WAND for a single-term top-k: decode blocks in
        descending upper-bound order, stop once the running kth score
        strictly exceeds every remaining block's bound. Strict comparison
        + the bounds' float headroom keep results identical to the
        exhaustive path, ties and all. The bounds come from each block's
        stored (max_tf, min_dl) and the term's df at query time, so they
        survive incremental stat drift."""
        rows, df = self._member(tid)
        c = self._pool()
        fld = c["field"][rows]
        ub = self._by_field(self._sc.bound, fld, c["max_tf"][rows],
                            c["min_dl"][rows], self._idf(df, fld))
        order = np.argsort(-ub, kind="stable")
        CHUNK = 64
        doc = np.empty(0, np.int64)
        score = np.empty(0, np.float64)
        for i in range(0, len(order), CHUNK):
            if len(doc) >= self.k and score[-1] > ub[order[i]]:
                break  # kth best beats every remaining bound
            idx = order[i : i + CHUNK]
            d, s = self._scored(rows[idx], df[idx])
            doc = np.concatenate([doc, d])
            score = np.concatenate([score, s])
            if len(doc) >= self.k:
                # keep (doc, score) sorted desc so score[-1] IS the kth
                doc, score = _topk(doc, score, self.k)
        return _topk(doc, score, self.k)

    # --- multi-member block-max pruning (interval algorithm) ----------------
    #
    # Doc-id space is partitioned at every block boundary of every query
    # member.  Each interval's upper bound is the sum of the covering
    # blocks' bounds; a conjunctive unit's bound is 0 where any member lacks
    # coverage, and so is an AND query's where any group does.  Intervals
    # are processed in descending-bound order; a doc's score is EXACT when
    # its interval is processed (all covering blocks decode), so once the
    # running kth score strictly exceeds the best remaining bound, the rest
    # never decode — rank-identical to the exhaustive path, ties and all.
    # Every block of every member sits in ONE set of pooled arrays (one
    # entry per (member, block)), so a prefix member covering 10^5 terms
    # costs the same machinery as one fat term.  This is the block-level
    # analogue of BMW/BMM (Ding & Suel 2011; Dimopoulos 2013).

    def _topk_interval_pruned(
        self,
        groups: list[dict],
        mode: str,
        neg_docs: np.ndarray | None = None,
        neg_tids: list[int] | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Interval-pruned top-k over ``groups``.

        A member is ``(key, w)``: ``key`` is a looked-up term id or a
        ``(lo, hi)`` term-id range (a TermRange child, whose terms add
        in ascending term_id order inside the member); ``w`` scales its
        scores. A group is one query-AST child, in one of two forms:
        - ``{"kind": "or"|"and", "members": [...], "post":
          checker|None}`` — kind 'or' = any member matches (plain term /
          OR-of-terms / range); kind 'and' = every member + an optional
          positional post check (phrase / near);
        - ``{"kind": "disjuncts", "disjuncts": [{"members": [...],
          "post": ...}, ...]}`` — a UNION of conjunctive units in child
          order (an OR child mixing plain terms with phrases/nears):
          each disjunct intersects its members (+ post check), disjunct
          sums add per doc in listed order — the exhaustive _eval_or
          sequence over mixed children.
        The members of a multi-member disjunct are single terms (≤1
        block of each covers a doc). ``mode`` 'or' unions groups (scores
        add in group order — the exhaustive _eval_or merge sequence);
        ``mode`` 'and' intersects groups (scores add in group order —
        the exhaustive non-fused _eval_and sequence; fused callers pass
        sorted-unique single-member groups with dup-count weights to
        match _intersect_scored). ``neg_tids`` mask candidates chunk by
        chunk, decoding only their blocks that overlap a candidate (a
        huge negative term never fully decodes); complex negatives
        arrive pre-evaluated in ``neg_docs``."""
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))

        def _disjuncts(g) -> list[dict]:
            """Normalize a group to its disjunct list. or-kind → one
            single-member disjunct per member (a singleton disjunct's sum
            IS its member's score, so the float sequences are unchanged);
            and-kind → one disjunct."""
            if g["kind"] == "disjuncts":
                return g["disjuncts"]
            if g["kind"] == "or":
                return [{"members": [m], "post": None}
                        for m in g["members"]]
            return [{"members": g["members"], "post": g["post"]}]

        # flatten groups → disjuncts → members → entries (one per frame
        # row a member covers), in (disjunct, member, row) order. Bound
        # units: a group's singleton disjuncts share one; each
        # conjunctive disjunct is its own.
        c = self._pool()
        dis_group, dis_need, posts, units = [], [], [], []
        e_rows, e_df, e_dis, e_w, e_unit = [], [], [], [], []
        for gi, g in enumerate(groups):
            shared = None
            for d in _disjuncts(g):
                members = d["members"]
                if len(members) > 1:
                    u = len(units)
                    units.append((gi, len(members)))
                else:
                    if shared is None:
                        shared = len(units)
                        units.append((gi, 1))
                    u = shared
                di = len(dis_need)
                dis_group.append(gi)
                dis_need.append(len(members))
                if d["post"] is not None:
                    posts.append((di, d["post"]))
                for key, w in members:
                    rows, df = self._member(key)
                    e_rows.append(rows)
                    e_df.append(df)
                    e_dis.append(np.full(len(rows), di, np.int64))
                    e_w.append(np.full(len(rows), float(w)))
                    e_unit.append(np.full(len(rows), u, np.int64))
        row = np.concatenate(e_rows) if e_rows else np.empty(0, np.int64)
        if not len(row):
            return empty
        dis = np.concatenate(e_dis)
        wt = np.concatenate(e_w)
        unit = np.concatenate(e_unit)
        fld = c["field"][row]
        idf = self._idf(np.concatenate(e_df), fld)
        ub = wt * self._by_field(self._sc.bound, fld, c["max_tf"][row],
                                 c["min_dl"][row], idf)
        lo, hi = c["min_doc_id"][row], c["max_doc_id"][row]
        bounds = np.unique(np.concatenate([lo, hi + 1]))
        n_int = len(bounds) - 1
        s_idx = np.searchsorted(bounds, lo)
        e_idx = np.searchsorted(bounds, hi + 1)

        # interval bounds: one diff/cumsum pass per unit — Σ entry bounds
        # and the count of covering entries with a positive bound
        total_ub = np.zeros(n_int, np.float64)
        g_cov = np.zeros((len(groups) if mode == "and" else 0, n_int), bool)
        live = ub > 0.0
        for u, (gi, need) in enumerate(units):
            m = unit == u
            u_ub = np.cumsum(
                np.bincount(s_idx[m], ub[m], n_int + 1)
                - np.bincount(e_idx[m], ub[m], n_int + 1))[:n_int]
            m &= live
            cov = np.cumsum(
                np.bincount(s_idx[m], minlength=n_int + 1)
                - np.bincount(e_idx[m], minlength=n_int + 1))[:n_int] >= need
            total_ub += np.where(cov, u_ub, 0.0)
            if mode == "and":
                g_cov[gi] |= cov
        if mode == "and":
            total_ub[~g_cov.all(axis=0)] = 0.0
        order = np.argsort(-total_ub, kind="stable")
        order = order[total_ub[order] > 0.0]
        if len(order) == 0:
            return empty

        # decode memo: frame row → (doc, tf, dl) until its entries pool
        # (all of a row's entries pool in the same chunk), then (doc,)
        # while a negative term may still read it. Each chunk decodes
        # its not-yet-seen rows in ONE batch, so every block decodes at
        # most once, whichever members (or negatives) read it
        done = np.zeros(len(c["n_docs"]), bool)
        memo: dict[int, tuple] = {}

        def _fetch(rows: np.ndarray) -> None:
            new = rows[~done[rows]]
            if not len(new):
                return
            done[new] = True
            d, t, l, nd = self._decode_rows(new)
            a = 0
            for r, b in zip(new.tolist(), np.cumsum(nd).tolist()):
                memo[r] = (d[a:b], t[a:b], l[a:b])
                a = b

        neg_rows = np.unique(np.concatenate(
            [self._rows(t, t) for t in neg_tids or []]
            + [np.empty(0, np.int64)]))
        is_neg = np.zeros(len(c["n_docs"]), bool)
        is_neg[neg_rows] = True
        need_of = np.asarray(dis_need, np.int64)
        group_of = np.asarray(dis_group, np.int64)
        regroup = not np.array_equal(group_of, np.arange(len(groups)))
        conjunctive = bool(posts) or need_of.max() > 1

        # each interval's chunk (-1: bound 0, never processed). An entry
        # is pooled once, by the first chunk it covers: its postings are
        # scored then (one scorer call per chunk and field) and wait in
        # their own interval's chunk bucket — each posting is scored and
        # folded exactly once, however many chunks its block spans
        CHUNK = 32
        chunk_of = np.full(n_int, -1, np.int64)
        chunk_of[order] = np.arange(len(order)) // CHUNK
        pooled = np.zeros(len(row), bool)
        bucket: dict[int, list] = {}

        k = self.k
        run_doc = np.empty(0, np.int64)
        run_score = np.empty(0, np.float64)
        for ci in range(-(-len(order) // CHUNK)):
            i = ci * CHUNK
            if len(run_doc) >= k and run_score[-1] > total_ub[order[i]]:
                break  # kth best strictly beats every remaining interval
            # unpooled entries covering ANY chunk interval (searchsorted
            # against the sorted chunk ids — no interval→block map)
            cs = np.sort(order[i : i + CHUNK])
            p = np.searchsorted(cs, s_idx, side="left")
            need = np.flatnonzero(~pooled & (p < len(cs)) & (
                cs[np.minimum(p, len(cs) - 1)] < e_idx))
            if len(need):
                pooled[need] = True
                rows = np.unique(row[need])
                _fetch(rows)
                parts = [memo[r] for r in row[need].tolist()]
                doc = np.concatenate([q[0] for q in parts])
                cn = chunk_of[np.searchsorted(bounds, doc, side="right") - 1]
                m = cn >= 0
                ent = np.repeat(need, [len(q[0]) for q in parts])[m]
                doc = doc[m]
                s = wt[ent] * self._by_field(
                    self._sc.score, fld[ent],
                    np.concatenate([q[1] for q in parts])[m],
                    np.concatenate([q[2] for q in parts])[m], idf[ent])
                for r in rows.tolist():
                    if is_neg[r]:
                        memo[r] = memo[r][:1]
                    else:
                        del memo[r]
                o = np.argsort(cn[m], kind="stable")
                ent, doc, s, cn = ent[o], doc[o], s[o], cn[m][o]
                cut = np.flatnonzero(np.diff(cn)) + 1
                for a, b in zip([0, *cut.tolist()], [*cut.tolist(), len(cn)]):
                    if a < b:
                        bucket.setdefault(int(cn[a]), []).append(
                            (ent[a:b], doc[a:b], s[a:b]))
            got = bucket.pop(ci, None)
            if not got:
                continue
            ent = np.concatenate([g[0] for g in got])
            o = np.argsort(ent, kind="stable")  # back to entry order
            ent = ent[o]
            doc = np.concatenate([g[1] for g in got])[o]
            s = np.concatenate([g[2] for g in got])[o]

            # per doc: member scores add into their disjunct in member
            # order (np.add.at follows the entry order), disjuncts into
            # their group in listed order, groups in group order
            udoc, dord = np.unique(doc, return_inverse=True)
            n_u = len(udoc)
            if len(need_of) == 1:
                key, inv = np.arange(n_u), dord
            else:
                key, inv = np.unique(dis[ent] * n_u + dord,
                                     return_inverse=True)
            tot = np.zeros(len(key), np.float64)
            np.add.at(tot, inv, s)
            if conjunctive:
                ok = (np.bincount(inv, minlength=len(key))
                      >= need_of[key // n_u])
                for di, post in posts:
                    sel = np.flatnonzero(ok & (key // n_u == di))
                    if len(sel):
                        ok[sel] = post(udoc[key[sel] % n_u])
                key, tot = key[ok], tot[ok]
            if regroup:
                key, inv = np.unique(group_of[key // n_u] * n_u + key % n_u,
                                     return_inverse=True)
                gsum = np.zeros(len(key), np.float64)
                np.add.at(gsum, inv, tot)
                tot = gsum
            cand = key % n_u
            if len(groups) > 1:
                cand, inv = np.unique(cand, return_inverse=True)
                cscore = np.zeros(len(cand), np.float64)
                np.add.at(cscore, inv, tot)
                if mode == "and":
                    full = np.bincount(inv, minlength=len(cand)) == len(groups)
                    cand, cscore = cand[full], cscore[full]
            else:
                cscore = tot
            cand = udoc[cand]
            if len(cand) and (neg_docs is not None or len(neg_rows)):
                keep = np.ones(len(cand), bool)
                if neg_docs is not None:
                    keep &= ~np.isin(cand, neg_docs, assume_unique=True)
                hit = neg_rows[self._overlapping(neg_rows, cand)]
                if len(hit):
                    _fetch(hit)
                    keep &= ~np.isin(cand, np.concatenate(
                        [memo[r][0] for r in hit.tolist()]))
                cand, cscore = cand[keep], cscore[keep]
            if len(cand) == 0:
                continue
            run_doc = np.concatenate([run_doc, cand])
            run_score = np.concatenate([run_score, cscore])
            if len(run_doc) >= k:
                # keep (doc, score) sorted desc so score[-1] IS the kth
                run_doc, run_score = _topk(run_doc, run_score, k)
        return _topk(run_doc, run_score, k)

    #: below this many total blocks the exhaustive path's single batched
    #: decode beats the interval machinery (measured crossover; the
    #: distributed per-shard kernels almost always land here)
    PRUNE_MIN_BLOCKS = 512

    def _leaf_group(self, node, field: int | None = None):
        """Term/Phrase/Near/Similar/TermRange leaf → group dict; "empty"
        when the leaf cannot match anything here. ``field``: the Field
        whose lexicon planned the leaf's texts."""
        if isinstance(node, TermRange):
            # one member however many terms the range covers: its terms
            # add inside the member first — the exhaustive per-child order
            key = (node.lo_tid, node.hi_tid)
            if not len(self._rows(*key)):
                return "empty"
            return {"kind": "or", "members": [(key, 1.0)], "post": None}
        if isinstance(node, Similar):
            # rare-term-bounded *S ≡ OR over its selected tokens: an
            # or-kind group whose members add in ascending-tid order —
            # exactly the exhaustive Similar eval's _union_add sequence
            # (missing/OOV members contribute nothing there too)
            if node.tids is not None:
                stids = sorted({t for t, _ in node.tids})
            else:
                toks = self._tokens(node.text, field) or []
                stids = sorted({t for t in toks if t is not None})
            stids = [t for t in stids if self._has(t)]
            if not stids:
                return "empty"
            return {"kind": "or", "members": [(t, 1.0) for t in stids],
                    "post": None}
        tids = self._leaf_tokens(node.text, field)
        if not tids or not all(self._has(t) for t in set(tids)):
            return "empty"
        if isinstance(node, Near) and len(set(tids)) == 1:
            # degenerate Near: window check is trivial; keep the duplicate-
            # occurrence weight (count × BM25 — mirrors eval())
            return {"kind": "or", "members": [(tids[0], float(len(tids)))],
                    "post": None}
        if len(tids) == 1:
            return {"kind": "or", "members": [(tids[0], 1.0)], "post": None}
        from collections import Counter

        cnt = Counter(tids)
        post = (self._near_checker(tids, node.max_interval)
                if isinstance(node, Near) else self._phrase_checker(tids))
        return {
            "kind": "and",
            "members": [(t, float(cnt[t])) for t in sorted(cnt)],
            "post": post,
        }

    def _group(self, node):
        """An AND/OR child (or root) → group dict; "empty" when it cannot
        match here; None when the pruner cannot add its scores in the
        exhaustive float order. A Field scales its leaf's sum by w, and
        w·(a + b) is not w·a + w·b in floats, so a weighted Field prunes
        only as one unit-weight member. An OR's children become
        disjuncts in child order — a phrase/near child one conjunctive
        unit with its positional post check, any other child one
        singleton disjunct per member — and the per-doc left fold over
        them is the exhaustive _eval_or sequence only while a
        multi-member sum (a Similar, a nested OR) comes first."""
        if isinstance(node, Field):
            g = self._leaf_group(node.leaf, node.field)
            if g == "empty" or node.weight == 1.0:
                return g
            m = g["members"]
            if (g["kind"] == "or" and len(m) == 1 and m[0][1] == 1.0
                    and not isinstance(m[0][0], tuple)):
                return {"kind": "or", "members": [(m[0][0], node.weight)],
                        "post": None}
            return None
        if not isinstance(node, Or):
            return (self._leaf_group(node)
                    if isinstance(node, (Term, Phrase, Near, Similar,
                                         TermRange)) else None)
        dis = []
        for c in node.children:
            g = self._group(c)
            if g is None:
                return None
            if g == "empty":
                continue  # an unknown/empty child contributes nothing
            if g["kind"] == "or" and (len(g["members"]) == 1 or not dis):
                dis += [{"members": [m], "post": None}
                        for m in g["members"]]
            elif g["kind"] == "and":
                dis.append({"members": g["members"], "post": g["post"]})
            else:
                return None
        if not dis:
            return "empty"
        if all(d["post"] is None and len(d["members"]) == 1 for d in dis):
            return {"kind": "or", "post": None,
                    "members": [d["members"][0] for d in dis]}
        return {"kind": "disjuncts", "disjuncts": dis}

    def _neg_tids(self, node, field: int | None = None) -> list | None:
        """Term ids whose postings a negative child removes when it is
        made of single-token Term/Phrase leaves (plain, Field-scoped,
        OR-ed) — masked candidate-driven; None → evaluate it whole."""
        if isinstance(node, Or):
            parts = [self._neg_tids(c) for c in node.children]
            return None if None in parts else [t for p in parts for t in p]
        if isinstance(node, Field):
            return self._neg_tids(node.leaf, node.field)
        if not isinstance(node, (Term, Phrase)):
            return None
        toks = self._tokens(node.text, field) or []
        return None if len(toks) > 1 else [t for t in toks if t is not None]

    def _pruned_multi(self, ast):
        """Route prunable roots to the interval pruner: leaves (multi-
        token Term/Phrase/Near, Similar, TermRange, Field leaves), ORs,
        and ANDs of them (phrases and nears ride along as "and"-kind
        groups with positional post checks), wherever _group can keep
        the exhaustive float order. One query leaf over several fields
        (an OR of Field leaves) is one group. A root that reduces to one
        single term takes _topk_single_pruned. None → exhaustive
        fallback."""
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        if len(self._raw) < self.PRUNE_MIN_BLOCKS:
            return None  # tiny posting set: decode-all is cheaper
        if not isinstance(ast, And):
            scoped = isinstance(ast, Or) and all(
                isinstance(c, Field) for c in ast.children)
            children = (ast.children if isinstance(ast, Or) and not scoped
                        else [ast])
            groups = [self._group(c) for c in children]
            if None in groups:
                return None
            # an empty leaf contributes nothing, like the exhaustive OR
            groups = [g for g in groups if g != "empty"]
            if not groups:
                return empty
            m = groups[0].get("members")
            if (len(groups) == 1 and groups[0]["kind"] == "or"
                    and len(m) == 1 and m[0][1] == 1.0
                    and not isinstance(m[0][0], tuple)):
                return self._topk_single_pruned(m[0][0])
            return self._topk_interval_pruned(groups, "or")
        pos = [c for c in ast.children if not isinstance(c, Not)]
        neg = [c.child for c in ast.children if isinstance(c, Not)]
        if not pos:
            return None
        fused_tids = []
        fused = True
        for c in pos:
            if isinstance(c, (Term, Phrase)):
                t = self._leaf_tokens(c.text)
                if not t:  # AND with an unmatchable leaf → empty
                    return empty
                if len(t) == 1:
                    fused_tids.append(t[0])
                    continue
            fused = False  # multi-token leaf / OR / TermRange / Field child
            break
        if fused:
            # all-single-token AND: sorted-unique groups with dup
            # weights — the exhaustive _intersect_scored order
            from collections import Counter

            cnt = Counter(fused_tids)
            if not all(self._has(t) for t in cnt):
                return empty
            groups = [{"kind": "or", "members": [(t, float(cnt[t]))],
                       "post": None} for t in sorted(cnt)]
        else:
            # general shape: groups add in child order — the exhaustive
            # non-fused order
            groups = [self._group(c) for c in pos]
            if None in groups:
                return None
            if "empty" in groups:
                return empty  # an AND child can't match
        neg_docs = None
        neg_tids: list[int] = []
        complex_negs = []
        for n in neg:
            t = self._neg_tids(n)
            if t is None:
                complex_negs.append(n)
            else:
                neg_tids += t  # candidate-driven masking
        if complex_negs:
            nd = np.empty(0, np.int64)
            for n in complex_negs:
                nd = np.union1d(nd, self._docs_only(n))
            neg_docs = nd
        return self._topk_interval_pruned(groups, "and", neg_docs, neg_tids)

    def run(self, ast) -> tuple[np.ndarray, np.ndarray]:
        # single-token leaf at the root → block-max WAND pruned path
        if isinstance(ast, (Term, Phrase)):
            tids = self._leaf_tokens(ast.text)
            if tids is not None and len(tids) == 1:
                return self._topk_single_pruned(tids[0])
        pruned = self._pruned_multi(ast)
        if pruned is not None:
            return pruned
        doc, score = self.eval(ast)
        if len(doc) == 0:
            return doc, score
        return _topk(doc, score, self.k)
