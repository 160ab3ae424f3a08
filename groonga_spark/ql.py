"""Groonga query-syntax parser → tiny AST.

Re-expresses [G: lib/expr.c · grn_expr_parse (GRN_EXPR_SYNTAX_QUERY)]:
space-separated keywords AND by default, ``OR`` keyword, ``-`` prefix for
AND-NOT, double-quoted phrases, parentheses. ~150 LoC recursive descent —
the reference's lemon-generated ECMAScript grammar handles script syntax,
which our Select API takes as Spark SQL expressions instead (select.py).

A term whose tokenization yields multiple tokens (CJK bigrams, phrases)
becomes a positional-adjacency Phrase — exactly the reference's query-side
ngram adjacency requirement [G: lib/ii.c · grn_ii_select, token_info
EX_NONE/EX_BOTH modes].
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Term:
    text: str


@dataclass
class Phrase:
    text: str


@dataclass
class Prefix:
    """Predictive/prefix match (QL trailing ``*``) — the PAT-trie prefix
    cursor [G: lib/pat.c · grn_pat_cursor PREFIX mode] as a lexicon
    range scan expanded to an OR at plan time."""

    text: str


@dataclass
class TermRange:
    """A CONTIGUOUS dense-term_id range — the plan-time form of a hot
    prefix. Dense ids are assigned in term-sorted order (build.py
    assign_dense_ids), so every lexicon term with a given prefix occupies
    exactly [lo_tid, hi_tid]; semantics ≡ Or([Term(t) for t in range])
    (scores ADD per doc in ascending-term_id order) WITHOUT materializing
    a leaf per term on the driver. Produced by FulltextIndex._expand_ast
    when a Prefix matches more than PREFIX_ENUM_MAX terms; the postings
    scan prunes with ``term_id BETWEEN lo AND hi`` instead of a giant IN
    list, and per-term df comes off the posting block rows (stored at
    finalize), so the driver never holds the member terms."""

    prefix: str
    lo_tid: int
    hi_tid: int
    n_terms: int = 0
    sum_df: float = 0.0  # Σ df over the range (posting-volume estimate)


@dataclass
class Near:
    """Near search (QL ``*N"a b"`` / ``*N5"a b"``) — all words present
    with position span ≤ max_interval [G: grn_expr GRN_OP_NEAR;
    TokenBigram near mode]. Default max interval 10, overridable with
    digits after *N."""

    text: str
    max_interval: int = 10


@dataclass
class Similar:
    """Similar search (QL ``*S"text"``) — docs sharing the input's RARE
    terms, BM25-ranked [G: GRN_OP_SIMILAR → grn_ii_similar_search: the
    reference sorts the input's tokens by document frequency and keeps
    only the rarest (highest-idf) ones]. At plan time
    FulltextIndex._expand_ast resolves ``tids`` to the top
    SIMILAR_MAX_TERMS known tokens by (df asc, term asc) — a long input
    document plans a BOUNDED leaf set, never one per distinct token.
    ``tids`` is ((term_id, df), ...); None = unresolved (evaluates over
    every known token — legacy hand-built ASTs)."""

    text: str
    tids: tuple | None = None


@dataclass
class Field:
    """A leaf scoped to one field of a multi-field index — one section
    of a WITH_SECTION index [G: lib/ii.c · grn_ii_select over a section
    id]. ``leaf`` is resolved at plan time against that field's own
    lexicon (a prefix becomes its TermRange, ``*S`` its rare tids), with
    term ids in the field's namespace of the pooled block frame; its
    score is the field's leaf score × ``weight``. ``field`` indexes the
    query's match_columns list."""

    field: int
    weight: float
    leaf: object


@dataclass
class And:
    children: list = field(default_factory=list)


@dataclass
class Or:
    children: list = field(default_factory=list)


@dataclass
class Not:
    """AND-NOT: attached to an And node's positive siblings."""

    child: object = None


def tokenize_query(q: str) -> list[tuple[str, str]]:
    """Lex into (kind, value): LPAREN RPAREN OR NOT PHRASE TERM."""
    out = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
        elif c == "(":
            out.append(("LPAREN", c))
            i += 1
        elif c == ")":
            out.append(("RPAREN", c))
            i += 1
        elif c == '"':
            # scan to the closing quote honoring backslash escapes
            # [G: GRN_EXPR_SYNTAX_QUERY supports \" inside phrases] —
            # select.py's _lex_script uses the same convention
            j = i + 1
            buf = []
            while j < n and q[j] != '"':
                if q[j] == "\\" and j + 1 < n:
                    buf.append(q[j + 1])
                    j += 2
                else:
                    buf.append(q[j])
                    j += 1
            out.append(("PHRASE", "".join(buf)))
            i = j + 1
        elif c == "-":
            # '-' is only seen at a token start (term scans consume embedded
            # dashes), and a leading '-' is always AND-NOT in Groonga QL
            out.append(("NOT", c))
            i += 1
        else:
            j = i
            while j < n and not q[j].isspace() and q[j] not in '()"':
                j += 1
            word = q[i:j]
            if word == "OR":
                out.append(("OR", word))
            else:
                out.append(("TERM", word))
            i = j
    return out


def parse_query(q: str):
    """Parse a query string → AST (Term/Phrase/And/Or/Not)."""
    toks = tokenize_query(q)
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else ("EOF", "")

    def take():
        t = peek()
        pos[0] += 1
        return t

    def parse_atom():
        kind, val = peek()
        if kind == "LPAREN":
            take()
            node = parse_or()
            if peek()[0] == "RPAREN":
                take()
            return node
        if kind == "PHRASE":
            take()
            return Phrase(val)
        if kind == "TERM":
            take()
            # *N / *N<digits> / *S directly before a quoted phrase
            import re as _re

            m = _re.fullmatch(r"\*N(\d*)", val)
            if m and peek()[0] == "PHRASE":
                return Near(take()[1], int(m.group(1) or 10))
            if val == "*S" and peek()[0] == "PHRASE":
                return Similar(take()[1])
            if len(val) > 1 and val.endswith("*") and not val.endswith("\\*"):
                return Prefix(val[:-1])
            if val.endswith("\\*"):
                # escaped literal star: strip the backslash so the Term
                # carries the text the documents actually contain
                return Term(val[:-2] + "*")
            return Term(val)
        take()
        return None

    def parse_unary():
        if peek()[0] == "NOT":
            take()
            a = parse_atom()
            return Not(a) if a is not None else None
        return parse_atom()

    def parse_and():
        children = []
        while peek()[0] in ("TERM", "PHRASE", "LPAREN", "NOT"):
            u = parse_unary()
            if u is not None:
                children.append(u)
        if not children:
            return None
        if len(children) == 1 and not isinstance(children[0], Not):
            return children[0]
        return And(children)

    def parse_or():
        left = parse_and()
        parts = [left] if left is not None else []
        while peek()[0] == "OR":
            take()
            nxt = parse_and()
            if nxt is not None:
                parts.append(nxt)
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else Or(parts)

    return parse_or()


def query_terms(node) -> list[str]:
    """All raw term/phrase texts in the tree (for lexicon lookup)."""
    if node is None:
        return []
    if isinstance(node, Similar) and node.tids is not None:
        return []  # rare-term selection already resolved the tids
    if isinstance(node, (Term, Phrase, Near, Similar)):
        return [node.text]
    if isinstance(node, (Prefix, TermRange)):
        return []  # resolved by lexicon range scan, not term lookup
    if isinstance(node, Not):
        return query_terms(node.child)
    return [t for c in node.children for t in query_terms(c)]


def collect_similar_tids(node) -> list[tuple]:
    """All resolved (term_id, df) pairs from Similar leaves (for the
    plan's needed_tids/df_by_tid — the postings pruning predicate)."""
    if node is None:
        return []
    if isinstance(node, Similar):
        return list(node.tids or ())
    if isinstance(node, (Term, Phrase, Near, Prefix, TermRange)):
        return []
    if isinstance(node, Not):
        return collect_similar_tids(node.child)
    return [p for c in node.children for p in collect_similar_tids(c)]


def collect_ranges(node) -> list[TermRange]:
    """All TermRange nodes in the tree (postings range pruning)."""
    if node is None:
        return []
    if isinstance(node, TermRange):
        return [node]
    if isinstance(node, (Term, Phrase, Near, Similar, Prefix)):
        return []
    if isinstance(node, Not):
        return collect_ranges(node.child)
    return [r for c in node.children for r in collect_ranges(c)]


def rewrite(node, fn):
    """Bottom-up AST rewrite: ``fn(leaf) -> node`` applied to every
    Term/Phrase/Prefix/Near/Similar leaf (query expansion, prefix
    expansion, similar rare-term selection, field scoping)."""
    if node is None:
        return None
    if isinstance(node, (Term, Phrase, Prefix, Near, Similar)):
        return fn(node)
    if isinstance(node, (TermRange, Field)):
        return node  # resolved leaves pass through
    if isinstance(node, Not):
        child = rewrite(node.child, fn)
        return Not(child) if child is not None else None
    kids = [rewrite(c, fn) for c in node.children]
    if isinstance(node, And) and any(
        k is None and not isinstance(c, Not)
        for c, k in zip(node.children, kids)
    ):
        # a positive conjunct that rewrote to NOTHING empties the whole
        # conjunction — silently dropping it would loosen the query to
        # the remaining terms. (A vanished NEGATION is just no
        # subtraction, so Not children may drop.)
        return None
    kids = [k for k in kids if k is not None]
    if not kids:
        return None
    cls = type(node)
    return kids[0] if len(kids) == 1 and not isinstance(kids[0], Not) else cls(kids)
