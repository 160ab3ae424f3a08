"""Shared helpers for the bench scripts: the BENCH.md marked-section
splice (one implementation instead of one copy per script) and the
posting-block decode counter (``spy_decodes``, a wrapper around the
query kernel's one doc/tf/dl decode)."""

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
    """Run ``fn`` counting every posting block it decodes → (result,
    blocks_decoded). Every kernel path decodes doc/tf/dl through
    ``SegmentQueryKernel._decode_rows`` (one row per block), so the count
    wraps that one method for the duration of ``fn`` and restores it
    after; a nested call counts into its own total and into every
    enclosing one. Position decodes (phrase/near checks) are not
    counted."""
    from groonga_spark.wand import SegmentQueryKernel as K

    orig = K.__dict__["_decode_rows"]
    blocks = 0

    def counted(self, rows):
        nonlocal blocks
        blocks += len(rows)
        return orig(self, rows)

    K._decode_rows = counted
    try:
        out = fn()
    finally:
        K._decode_rows = orig  # restore, so an enclosing spy keeps counting
    return out, blocks
