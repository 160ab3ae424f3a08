"""Shared helpers for the bench scripts: the BENCH.md marked-section
splice (one implementation instead of one copy per script) and the
posting-decode spy (TermPostings monkeypatch + the pooled-path counter
hook of the range eval and the interval pruner)."""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: every marked section any bench script owns — splicing one section
#: always preserves the others (and bench_scaling's full rewrite keeps
#: them all)
KNOWN_MARKS = ("bench_wand", "bench_prefix", "bench_codec")

#: THE reference query set (head terms, tail terms, conjunctions,
#: phrase, boolean algebra, prefix — the shapes [G: lib/ii.c ·
#: grn_ii_select] serves). One copy: bench.py and scaling_run.py both
#: import it, so their per-query metrics stay comparable.
REFERENCE_QUERY_SET = [
    ("q_head_term", "table"),
    ("q_tail_term", "vector"),
    ("q_and2", "spark merge"),
    ("q_and3", "table row fast"),
    ("q_or", "spark OR stream"),
    ("q_not", "(table OR merge) -slow"),
    ("q_phrase", '"spark fast"'),
    ("q_rare_pair", "vector window"),
    ("q_prefix", "s*"),  # TermRange plan (lexicon-range → BETWEEN scan)
]


def splice_marked_section(mark: str, section_lines: list[str],
                          path: str | None = None) -> None:
    """Replace (or append) the ``<!-- mark:begin/end -->`` block in
    BENCH.md with ``section_lines``."""
    begin, end = f"<!-- {mark}:begin -->", f"<!-- {mark}:end -->"
    section = "\n".join([begin, *section_lines, end])
    path = path or os.path.join(REPO, "BENCH.md")
    text = open(path).read() if os.path.exists(path) else "# BENCH\n"
    b = text.find(begin)
    if b >= 0:
        # take the FIRST end marker AFTER the begin marker; a missing or
        # duplicated end marker must not double the file or swallow
        # unrelated content — a malformed block is replaced to EOF
        e = text.find(end, b)
        tail = text[e + len(end):] if e >= 0 else "\n"
        text = text[:b] + section + tail
    else:
        text = text.rstrip() + "\n\n" + section + "\n"
    with open(path, "w") as f:
        f.write(text)


def extract_marked_sections(text: str) -> str:
    """All known marked sections found in ``text``, concatenated — used
    by full-rewrite writers (bench_scaling) to carry them over."""
    out = ""
    for mark in KNOWN_MARKS:
        begin, end = f"<!-- {mark}:begin -->", f"<!-- {mark}:end -->"
        if begin in text:
            out += ("\n" + begin + text.split(begin)[1].split(end)[0]
                    + end + "\n")
    return out


def spy_decodes(fn):
    """Run ``fn`` counting every posting-block decode: TermPostings'
    decode_idx/decode_idx_split (per-term paths) plus the pooled paths
    (range eval and the interval pruner) via wand._DECODE_SPY.
    → (result, blocks_decoded)."""
    import groonga_spark.wand as W
    from groonga_spark.wand import TermPostings

    counts = {"blocks": 0}
    orig = TermPostings.decode_idx
    orig_split = TermPostings.decode_idx_split
    pooled: list[int] = []

    def spy(self, idx_arr, _c=counts, _o=orig):
        _c["blocks"] += len(idx_arr)
        return _o(self, idx_arr)

    def spy_split(self, idx_arr, _c=counts, _o=orig_split):
        _c["blocks"] += len(idx_arr)
        return _o(self, idx_arr)

    TermPostings.decode_idx = spy
    TermPostings.decode_idx_split = spy_split
    prev_spy = W._DECODE_SPY
    W._DECODE_SPY = pooled
    try:
        out = fn()
    finally:
        TermPostings.decode_idx = orig
        TermPostings.decode_idx_split = orig_split
        W._DECODE_SPY = prev_spy  # nest-safe: restore, don't clobber
    return out, counts["blocks"] + sum(pooled)
