"""The ``select`` workhorse — Groonga's primary query entry point as a
composable DataFrame pipeline.

Re-expresses [G: lib/proc/proc_select.c · grn_select] stage by stage
(SURVEY.md §3.1): query/filter selection → post_filter → dynamic columns
(with window functions) → slices → sort+offset+limit → drilldowns →
output. Each Groonga stage is just *where in the DataFrame chain* the
corresponding transformation goes; Catalyst owns optimization.

Script-syntax ``filter`` strings are translated token-wise to Spark SQL
(``&&``→AND, ``==``→=, ``@``→contains, …) — the reference compiles them
to stack bytecode for a per-record VM [G: lib/expr.c · grn_expr_exec];
we hand Catalyst an expression tree instead and stay in whole-stage
codegen.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# script-syntax → Spark SQL translation
# --------------------------------------------------------------------------

_MATCH_TMPL = {
    "@^": "startswith({col}, {val})",
    "@$": "endswith({col}, {val})",
    "@~": "({col} RLIKE {val})",
    "@": "contains({col}, {val})",
}

#: POSIX bracket classes (Onigmo [[:name:]]) → Java regex equivalents
_POSIX_TO_JAVA = {
    "alpha": "\\p{Alpha}", "alnum": "\\p{Alnum}", "digit": "\\p{Digit}",
    "xdigit": "\\p{XDigit}", "upper": "\\p{Upper}", "lower": "\\p{Lower}",
    "space": "\\s", "blank": "\\p{Blank}", "punct": "\\p{Punct}",
    "cntrl": "\\p{Cntrl}", "graph": "\\p{Graph}", "print": "\\p{Print}",
    "word": "\\w",
}

_INLINE_FLAGS = re.compile(r"\(\?([aidmux]*(?:-[aidmux]*)?)([:)])")


def onigmo_to_java(pattern: str) -> str:
    """Bridge the reference's Onigmo regex dialect [G: vendor/onigmo;
    `@~` in script syntax] to java.util.regex (what Spark RLIKE runs).
    The dialects mostly agree; the deltas that silently change meaning
    are bridged:

    - ``\\h``/``\\H`` are HEX-DIGIT classes in Onigmo but horizontal
      whitespace in Java → ``[0-9a-fA-F]`` / ``[^0-9a-fA-F]``;
    - POSIX brackets ``[[:alpha:]]`` (and ``[:^alpha:]``) → ``\\p{..}``;
    - ``^``/``$`` are ALWAYS line anchors in Onigmo — the translation
      is prefixed with ``(?m)`` so Java matches lines too; Ruby's
      inline ``m`` flag means DOTALL while Java's means MULTILINE →
      ``(?m)``/``(?m:`` flip to ``s``; Ruby-only ``a d u`` flags drop;
    - a literal ``]`` first in a class (legal in Onigmo) gets escaped;
    - ``\\H`` inside a class and unknown POSIX bracket names raise
      ``ValueError`` — Java would PARSE both but with silently
      different semantics, which is worse than an error.

    Shared constructs pass through verbatim; Onigmo features with no
    Java equivalent that Java's own parser rejects are left to it."""
    out: list[str] = []
    i, n = 0, len(pattern)
    in_class = False
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            nxt = pattern[i + 1]
            if nxt == "h":
                out.append("0-9a-fA-F" if in_class else "[0-9a-fA-F]")
            elif nxt == "H" and not in_class:
                out.append("[^0-9a-fA-F]")
            elif nxt == "H":
                # inside a class a negated set can't be spliced in; Java
                # would silently read \H as non-horizontal-whitespace
                raise ValueError(
                    r"\H inside a character class has no Java regex "
                    "equivalent (Onigmo: non-hex-digit); rewrite the "
                    "class without it"
                )
            else:
                out.append(pattern[i : i + 2])
            i += 2
            continue
        if in_class and pattern.startswith("[:", i):
            j = pattern.find(":]", i + 2)
            if j != -1:
                name = pattern[i + 2 : j]
                neg = name.startswith("^")
                repl = _POSIX_TO_JAVA.get(name[1:] if neg else name)
                if repl is None:
                    # Onigmo raises on unknown POSIX names; Java would
                    # silently parse [[:foo:]] as a literal class
                    raise ValueError(
                        f"unknown POSIX bracket [:{name}:] in regex"
                    )
                if neg:
                    repl = (repl.replace("\\p{", "\\P{")
                            if repl.startswith("\\p{")
                            else {"\\s": "\\S", "\\w": "\\W"}[repl])
                out.append(repl)
                i = j + 2
                continue
        if c == "[" and not in_class:
            in_class = True
            out.append(c)
            i += 1
            if i < n and pattern[i] == "^":
                out.append("^")
                i += 1
            if i < n and pattern[i] == "]":
                out.append("\\]")  # Onigmo: leading ] is literal
                i += 1
            continue
        if c == "]" and in_class:
            in_class = False
            out.append(c)
            i += 1
            continue
        if c == "(" and not in_class:
            m = _INLINE_FLAGS.match(pattern, i)
            if m:
                flags = m.group(1).replace("m", "s")
                flags = "".join(ch for ch in flags if ch in "isx-")
                out.append("(?" + flags + m.group(2))
                i = m.end()
                continue
        out.append(c)
        i += 1
    # Onigmo's ^/$ are ALWAYS line anchors (Ruby has no MULTILINE flag
    # to enable — it's the baseline); Java defaults to string anchors,
    # so the translation runs under (?m)
    return "(?m)" + "".join(out)

#: a match op at the END of a code chunk — the value is the next string
#: literal token (ops are ordered longest-first in the alternation)
_MATCH_TAIL = re.compile(r"([A-Za-z_][A-Za-z0-9_.]*)\s*(@\^|@\$|@~|@)\s*$")


def _lex_script(s: str) -> list[tuple[str, str]]:
    """Split a script expression into ("code"|"str", text) tokens so
    operator rewriting never touches the inside of a quoted literal
    (``text @ "a && b"`` must keep its ``&&``)."""
    out: list[tuple[str, str]] = []
    buf: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"":
            if buf:
                out.append(("code", "".join(buf)))
                buf = []
            j = i + 1
            while j < n:
                if s[j] == "\\":
                    j += 2
                    continue
                if s[j] == c:
                    break
                j += 1
            out.append(("str", s[i : min(j + 1, n)]))
            i = j + 1
        else:
            buf.append(c)
            i += 1
    if buf:
        out.append(("code", "".join(buf)))
    return out


_DOT_PATH = re.compile(r"\b([A-Za-z_]\w*)((?:\.[A-Za-z_]\w*)+)\b")


def _rewrite_dot_paths(text: str | None, heads: set[str]):
    """Rewrite reference accessors ``fk.sub`` / chained ``fk.sub.leaf``
    → ``fk__sub`` / ``fk__sub__leaf`` in the CODE portions of a
    script/param string (string literals pass through via _lex_script,
    so ``url @ "a.b"`` is untouched). Returns the rewritten text plus
    the set of (fk, (hop, ..., leaf)) paths used — the caller joins
    exactly those dimension columns."""
    used: set[tuple[str, tuple[str, ...]]] = set()
    if not text:
        return text, used

    def _rep(m: re.Match) -> str:
        if m.group(1) in heads:
            chain = tuple(m.group(2).split(".")[1:])
            used.add((m.group(1), chain))
            return "__".join((m.group(1),) + chain)
        return m.group(0)

    out = []
    for kind, tok in _lex_script(text):
        out.append(_DOT_PATH.sub(_rep, tok) if kind == "code" else tok)
    return "".join(out), used


def _path_lookup(references: dict, fk: str, chain: tuple[str, ...]):
    """Build the (``__ref_pk``, <flat>) lookup frame for one accessor
    path by folding broadcast N:1 joins through the dimension chain
    [G semantics: lib/accessor.c · chained GRN_ACCESSOR_GET_VALUE].
    Every intermediate hop must itself be a registered reference
    column (``references[hop] = (dim, pk)``)."""
    flat = "__".join((fk,) + chain)
    dim, pk = references[fk]
    lk = dim.select(F.col(pk).alias("__ref_pk"), F.col(chain[0]).alias(flat))
    for i, leaf in enumerate(chain[1:]):
        hop = chain[i]
        if hop not in references:
            raise ValueError(
                f"dot path {fk}.{'.'.join(chain)}: intermediate column "
                f"{hop!r} is not a registered reference "
                "(add it to references= to traverse through it)"
            )
        nxt, npk = references[hop]
        step = nxt.select(F.col(npk).alias("__hop_pk"),
                          F.col(leaf).alias("__hop_val"))
        lk = (
            lk.join(F.broadcast(step), lk[flat] == step["__hop_pk"], "left")
            .select("__ref_pk", F.col("__hop_val").alias(flat))
        )
    return flat, lk


def script_to_sql(expr: str) -> str:
    """Translate Groonga script-syntax boolean expr → Spark SQL string.

    Tokenizer-aware: string literals pass through VERBATIM (except a
    match-op value's double quotes, normalized to SQL single quotes);
    ``&& || == ! all_records() in_values(`` rewrite only in code."""
    toks = _lex_script(expr)
    parts: list[tuple[str, str]] = []
    i = 0
    while i < len(toks):
        kind, text = toks[i]
        if kind == "str":
            parts.append(("str", text))
            i += 1
            continue
        m = _MATCH_TAIL.search(text)
        if m and i + 1 < len(toks) and toks[i + 1][0] == "str":
            val = toks[i + 1][1]
            if m.group(2) == "@~":
                # regex match: decode the script literal's quote/backslash
                # escapes to the PATTERN the user wrote, bridge the
                # Onigmo→Java dialect deltas, then re-encode for the SQL
                # literal (Spark's parser decodes one backslash level)
                pat = re.sub(r"\\([\\'\"])", r"\1", val[1:-1])
                pat = onigmo_to_java(pat)
                val = "'" + pat.replace("\\", "\\\\").replace("'", "\\'") \
                    + "'"
            elif val.startswith('"'):
                val = "'" + val[1:-1].replace("'", "\\'") + "'"
            parts.append(("code", text[: m.start()]))
            parts.append(
                ("str", _MATCH_TMPL[m.group(2)].format(col=m.group(1),
                                                       val=val))
            )
            i += 2
            continue
        parts.append(("code", text))
        i += 1
    out = []
    for kind, text in parts:
        if kind == "code":
            text = re.sub(r"&&", " AND ", text)
            text = re.sub(r"\|\|", " OR ", text)
            text = re.sub(r"(?<![<>!=])==(?!=)", "=", text)
            text = re.sub(r"!(?![=])", " NOT ", text)
            text = re.sub(r"\ball_records\(\)", "true", text)
            text = re.sub(r"\bin_values\(\s*([^,\)]+)\s*,", r"\1 IN (", text)
        out.append(text)
    return "".join(out)


_QUERY_CALL = re.compile(
    r'query\(\s*("(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)*\')\s*,'
    r'\s*("(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)*\')\s*\)'
)

_FUZZY_CALL = re.compile(
    r'fuzzy_search\(\s*([A-Za-z_][\w.]*)\s*,'
    r'\s*("(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)*\')'
    r'(?:\s*,\s*(\d+))?\s*\)'
)


def _accepts_match_columns(index) -> bool:
    """Whether ``index.match_docs`` takes a ``match_columns`` kwarg (a
    MultiFieldIndex does; a single-field FulltextIndex has exactly one
    match target). Signature inspection, NOT try/except — a TypeError
    raised inside the engine must propagate, not silently re-run the
    query without the column spec."""
    import inspect

    try:
        sig = inspect.signature(index.match_docs)
    except (TypeError, ValueError):
        return False
    return "match_columns" in sig.parameters


def _rewrite_query_calls(df, flt: str, index, id_col: str):
    """Script-embedded ``query("match_cols", "keywords")`` inside a filter
    string [G: script-syntax query() in grn_expr]: each call evaluates
    through the fulltext index and becomes a broadcast-joined membership
    flag, so the surrounding boolean expression stays pure Catalyst.
    match_cols passes through to a MultiFieldIndex; a single-field index
    ignores it (it has exactly one match target)."""
    flags: list[str] = []

    # a query()/fuzzy_search() TEXT inside a quoted literal is data, not
    # a call — track the literal spans and leave any match that STARTS
    # inside one untouched (the call's own arguments are string
    # literals, so token-wise substitution cannot work here)
    def _spans_of(s: str) -> list[tuple[int, int]]:
        spans, pos = [], 0
        for kind, tok in _lex_script(s):
            if kind == "str":
                spans.append((pos, pos + len(tok)))
            pos += len(tok)
        return spans

    lit_spans = _spans_of(flt)

    def _in_literal(i: int) -> bool:
        return any(a <= i < b for a, b in lit_spans)

    def sub(m: re.Match) -> str:
        if _in_literal(m.start()):
            return m.group(0)
        cols, q = m.group(1)[1:-1], m.group(2)[1:-1]
        flag = f"_q{len(flags)}_match"
        flags.append(flag)
        nonlocal df
        if _accepts_match_columns(index):
            matches = index.match_docs(q, match_columns=cols)
        else:  # single-field index: one match target
            matches = index.match_docs(q)
        df = df.join(
            matches.select(
                F.col("doc_id").alias(id_col), F.lit(True).alias(flag)
            ).dropDuplicates([id_col]),
            id_col,
            "left",
        )
        return f"coalesce({flag}, false)"

    def sub_fuzzy(m: re.Match) -> str:
        # fuzzy_search(column, "term"[, max_distance]) [G: lib/proc.c ·
        # func fuzzy_search]: expand via the index lexicon, OR-match
        if _in_literal(m.start()):
            return m.group(0)
        _col, q = m.group(1), m.group(2)[1:-1]
        dist = int(m.group(3) or 1)
        flag = f"_q{len(flags)}_match"
        flags.append(flag)
        nonlocal df
        if not hasattr(index, "fuzzy_match_docs"):
            raise ValueError(
                "fuzzy_search() in a filter needs a single-field "
                "FulltextIndex (got a multi-field index — pick a field's "
                "index via MultiFieldIndex.field())"
            )
        matches = index.fuzzy_match_docs(q, max_distance=dist)
        df = df.join(
            matches.select(
                F.col("doc_id").alias(id_col), F.lit(True).alias(flag)
            ).dropDuplicates([id_col]),
            id_col,
            "left",
        )
        return f"coalesce({flag}, false)"

    rewritten = _QUERY_CALL.sub(sub, flt)  # joins mutate df via nonlocal
    lit_spans = _spans_of(rewritten)  # offsets shifted by the first pass
    rewritten = _FUZZY_CALL.sub(sub_fuzzy, rewritten)
    return df, rewritten, flags


_WINDOW_FNS = {
    "window_count": lambda args, w: F.count(F.lit(1)).over(w),
    "window_sum": lambda args, w: F.sum(args[0]).over(w),
    "window_rank": lambda args, w: F.rank().over(w),
    "record_number": lambda args, w: F.row_number().over(w),
    "window_record_number": lambda args, w: F.row_number().over(w),
}


def _dynamic_column(df: DataFrame, name: str, spec: dict) -> DataFrame:
    """columns[NAME] with optional window (SURVEY.md §2.5): Groonga window
    functions are whole-partition [G: lib/window_function_executor.c]."""
    value = spec["value"]
    win = spec.get("window")
    m = re.match(r"\s*(\w+)\((.*)\)\s*$", value)
    if win is not None and m and m.group(1) in _WINDOW_FNS:
        gk = win.get("group_keys", [])
        sk = win.get("sort_keys", [])
        ranking = m.group(1) in (
            "window_rank", "record_number", "window_record_number"
        )
        w = Window.partitionBy(*gk) if gk else Window.partitionBy()
        if sk:
            order = [
                F.desc(c[1:]) if c.startswith("-") else F.asc(c) for c in sk
            ]
            w = w.orderBy(*order)
        else:
            w = w.orderBy(F.lit(1))
        if not ranking:
            # aggregates are whole-partition regardless of sort_keys:
            # Spark's default frame WITH an ORDER BY is the running
            # RANGE..CURRENT ROW, which would turn window_sum into a
            # cumulative sum — sort_keys only order the ranking fns
            w = w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        args = [a.strip() for a in m.group(2).split(",") if a.strip()]
        return df.withColumn(name, _WINDOW_FNS[m.group(1)](args, w))
    return df.withColumn(name, F.expr(script_to_sql(value)))


def _parse_sort_keys(sort_keys, score_col="_score", id_col="doc_id"):
    out = []
    if isinstance(sort_keys, str):
        sort_keys = [k.strip() for k in sort_keys.split(",") if k.strip()]
    for k in sort_keys or []:
        desc = k.startswith("-")
        name = k[1:] if desc else k
        if name == "_score":
            name = score_col
        elif name == "_id":
            name = id_col
        out.append(F.desc(name) if desc else F.asc(name))
    return out


_CALC_FNS = {
    "COUNT": lambda t: F.count(F.lit(1)).alias("_nsubrecs"),
    "SUM": lambda t: F.sum(t).alias("_sum"),
    "MAX": lambda t: F.max(t).alias("_max"),
    "MIN": lambda t: F.min(t).alias("_min"),
    "AVG": lambda t: F.avg(t).alias("_avg"),
    "MEAN": lambda t: F.avg(t).alias("_avg"),
}


def _drilldown(df: DataFrame, spec, apply_limit: bool = True) -> DataFrame:
    """One drilldown [G: proc_select.c · drilldown exec → grn_table_group]:
    groupBy keys, _nsubrecs count, optional calc_types aggregates, own
    filter (HAVING) / sort / limit. ``apply_limit=False`` yields the
    pre-limit group set (the facade's total-group-count header)."""
    if isinstance(spec, str):
        spec = {"keys": [spec]}
    keys = spec["keys"] if isinstance(spec["keys"], list) else [spec["keys"]]
    calc_types = spec.get("calc_types", ["COUNT"])
    target = spec.get("calc_target")
    aggs = []
    for ct in calc_types:
        fn = _CALC_FNS[ct.upper()]
        aggs.append(fn(target) if ct.upper() != "COUNT" else fn(None))
    out = df.groupBy(*[F.col(k).alias(f"_key_{k}" if len(keys) > 1 else "_key") for k in keys]).agg(*aggs)
    if spec.get("filter"):
        out = out.filter(F.expr(script_to_sql(spec["filter"])))
    sort = _parse_sort_keys(spec.get("sort_keys"), score_col="_nsubrecs", id_col="_key")
    if sort:
        out = out.orderBy(*sort)
    if apply_limit and spec.get("limit") is not None:
        out = out.limit(int(spec["limit"]))
    return out


@dataclass
class SelectResult:
    hits: DataFrame
    n_hits: int
    drilldowns: dict = field(default_factory=dict)
    slices: dict = field(default_factory=dict)
    #: per-label PRE-limit drilldown group sets — the reference's select
    #: body reports the TOTAL group count in the drilldown header while
    #: `limit` bounds only the returned rows; lazy DataFrames (count on
    #: demand), same plan as drilldowns[label] minus the limit
    drilldown_totals: dict = field(default_factory=dict)
    #: per-label PRE-limit slice record sets (the slice header's n_hits)
    slice_totals: dict = field(default_factory=dict)
    _cached: DataFrame | None = None

    def close(self) -> None:
        """Release the shared cached base plan. After close() the result
        DataFrames still compute (lazily, uncached). Leaving a result
        unclosed leaks a session-lifetime cache entry — and a stale-plan
        hazard if the underlying files are rewritten in place (Spark's
        CacheManager substitutes persisted plans by plan equality)."""
        if self._cached is not None:
            self._cached.unpersist()
            self._cached = None

    def __enter__(self) -> "SelectResult":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def select(
    table: DataFrame,
    index=None,
    query: str | None = None,
    filter: str | None = None,  # noqa: A002 — Groonga arg name
    post_filter: str | None = None,
    sort_keys=None,
    offset: int = 0,
    limit: int = 10,
    output_columns=None,
    drilldowns=None,
    columns: dict | None = None,
    slices: dict | None = None,
    adjuster: list | None = None,
    match_escalation_threshold: int | None = None,
    id_col: str = "doc_id",
    need_hit_count: bool = True,
    match_columns: str | None = None,
    scorer: str | None = None,
    references: dict | None = None,
) -> SelectResult:
    """The grn_select pipeline over a DataFrame (+ optional fulltext index).

    ``query`` needs ``index`` (a search.FulltextIndex whose doc ids match
    ``table[id_col]``); everything else is pure DataFrame algebra.

    ``references`` maps a foreign-key COLUMN of ``table`` to its
    dimension: ``{"fk_col": (dim_df, "dim_pk")}``. With it, the
    reference's dot-path accessor idiom ``fk_col.sub`` works directly in
    ``filter`` / ``post_filter`` / ``scorer`` / ``sort_keys`` /
    ``output_columns`` / drilldown keys [G: lib/db.c · accessor chain]:
    each used dimension is broadcast-joined once (N:1 traversal,
    relations.ref_join shape) and output columns keep the dotted label.
    Chained paths ``a.b.c`` work when every intermediate hop is itself
    a registered reference column (``references["b"] = (dim2, pk2)``);
    the chain folds into one lookup joined once to the fact table.
    """
    df = table

    # -- stage: columns[initial]
    for name, spec in (columns or {}).items():
        if spec.get("stage", "initial") == "initial":
            df = _dynamic_column(df, name, spec)

    # -- stage: reference resolution (dot-path accessor sugar)
    alias_out: dict[str, str] = {}
    if references:
        # Only references that name an actual column of THIS table can
        # head a dot path; the rest (e.g. a dimension's own fk, present
        # solely so chained paths can hop through it) must not rewrite
        # fact-level text — `meta.lang` on a table whose `meta` is a
        # plain struct column stays Spark struct access.
        heads = set(references) & set(df.columns)
        used: set[tuple[str, str]] = set()

        def _rw(text):
            nonlocal used
            text, u = _rewrite_dot_paths(text, heads)
            used |= u
            return text

        filter = _rw(filter)  # noqa: A001
        post_filter = _rw(post_filter)
        if scorer is not None:
            scorer = _rw(scorer)
        if isinstance(sort_keys, str):
            sort_keys = _rw(sort_keys)
        elif isinstance(sort_keys, list):
            sort_keys = [_rw(k) for k in sort_keys]
        if isinstance(output_columns, str):
            output_columns = _rw(output_columns)
        elif isinstance(output_columns, list):
            output_columns = [_rw(c) for c in output_columns]

        def _rw_spec(s):
            if isinstance(s, str):
                return _rw(s)
            if isinstance(s, dict) and s.get("keys"):
                return {**s, "keys": [_rw(k) for k in s["keys"]]}
            return s

        if isinstance(drilldowns, (str, list)) and not isinstance(
            drilldowns, dict
        ):
            drilldowns = (
                _rw_spec(drilldowns) if isinstance(drilldowns, str)
                else [_rw_spec(s) for s in drilldowns]
            )
        elif isinstance(drilldowns, dict):
            drilldowns = {la: _rw_spec(s) for la, s in drilldowns.items()}

        by_fk: dict[str, set] = {}
        multi_hop: list[tuple[str, tuple[str, ...]]] = []
        for fk, chain in used:
            alias_out["__".join((fk,) + chain)] = ".".join((fk,) + chain)
            if len(chain) == 1:
                by_fk.setdefault(fk, set()).add(chain[0])
            else:
                multi_hop.append((fk, chain))
        for fk, subs in by_fk.items():
            # all single-hop leaves of one fk share one broadcast join
            dim, pk = references[fk]
            d = dim.select(
                F.col(pk).alias("__ref_pk"),
                *[F.col(s).alias(f"{fk}__{s}") for s in sorted(subs)],
            )
            df = df.join(
                F.broadcast(d), df[fk] == d["__ref_pk"], "left"
            ).drop("__ref_pk")
        for fk, chain in sorted(multi_hop):
            # chained accessor a.b.c: fold the dimension chain into one
            # (pk, leaf) lookup, then a single broadcast join to the fact
            flat, lk = _path_lookup(references, fk, chain)
            df = df.join(
                F.broadcast(lk), df[fk] == lk["__ref_pk"], "left"
            ).drop("__ref_pk")

    # -- stage: selection (query via index ∧ filter via Catalyst)
    if query is not None:
        if index is None:
            raise ValueError("query= requires index=")
        # match_columns (weighted multi-field spec) needs a MultiFieldIndex
        if match_columns is not None:
            if not _accepts_match_columns(index):
                raise ValueError(
                    "match_columns= needs a multi-field index "
                    "(build_multifield_index); this index has a single "
                    "match target"
                )
            matches = index.match_docs(query, match_columns=match_columns)
        else:
            matches = index.match_docs(query)
        if (match_escalation_threshold is not None
                and hasattr(index, "_prefix_terms")):
            # escalation relaxes via the lexicon prefix scan; a
            # MultiFieldIndex expands against the union of the queried
            # fields' lexicons and re-matches under the same
            # match_columns weights
            n = matches.count()
            if n <= match_escalation_threshold:
                esc = _escalate_ast(index, query,
                                    match_columns=match_columns)
                if esc is not None:
                    if match_columns is not None:
                        matches = index.match_ast(
                            esc, match_columns=match_columns
                        )
                    else:
                        matches = index.match_ast(esc)
        if adjuster:
            from groonga_spark.algebra import combine

            for adj in adjuster:
                if len(adj) == 3:
                    # (query, factor, match_columns): the reference's
                    # per-column adjuster element ``col @ "kw" * n`` —
                    # the boost match runs under its OWN column spec
                    adj_query, factor, adj_mc = adj
                    if not _accepts_match_columns(index):
                        raise ValueError(
                            "adjuster entry with match_columns needs a "
                            "multi-field index"
                        )
                    boost = index.match_docs(adj_query,
                                             match_columns=adj_mc)
                else:
                    adj_query, factor = adj
                    boost = index.match_docs(adj_query)
                boost = boost.withColumn(
                    "score", F.col("score") * F.lit(float(factor))
                )
                matches = combine(matches, boost, "adjust")
        df = df.join(
            matches.withColumnRenamed("doc_id", id_col).withColumnRenamed(
                "score", "_score"
            ),
            id_col,
            "inner",
        )
    else:
        df = df.withColumn("_score", F.lit(0.0))

    if filter:
        drop_flags: list[str] = []
        if "query(" in filter or "fuzzy_search(" in filter:
            if index is None:
                raise ValueError('filter contains query()/fuzzy_search() '
                                 'but index= was not provided')
            df, filter, drop_flags = _rewrite_query_calls(  # noqa: A001
                df, filter, index, id_col
            )
        df = df.filter(F.expr(script_to_sql(filter)))
        if drop_flags:
            df = df.drop(*drop_flags)

    if scorer is not None:
        # --scorer '_score = <script expr>' [G: select scorer parameter]:
        # grn_select's documented evaluation order is filter → scorer →
        # columns[filtered] → post_filter → sort/output — so a FILTER
        # referencing _score sees the ORIGINAL match score, while
        # POST_FILTER sees the scorer-updated one (SURVEY.md §3.1).
        # Reassign (or adjust, e.g. '_score = _score + n_likes') via
        # Catalyst.
        m = re.match(r"\s*_score\s*=\s*(.+)$", scorer)
        if not m:
            raise ValueError(f"scorer must look like '_score = <expr>': "
                             f"{scorer!r}")
        df = df.withColumn(
            "_score", F.expr(script_to_sql(m.group(1))).cast("double")
        )

    # -- stage: columns[filtered]
    for name, spec in (columns or {}).items():
        if spec.get("stage") == "filtered":
            df = _dynamic_column(df, name, spec)

    if post_filter:
        df = df.filter(F.expr(script_to_sql(post_filter)))

    # Cache only when >1 consumer will actually read the base plan
    # (n_hits count + drilldowns/slices/hits). Pipeline use can pass
    # need_hit_count=False to stay fully lazy — no action, no cache
    # (Groonga always reports n_hits; at 100 TB that forced count per
    # select is the wrong default for ETL).
    n_consumers = (
        (1 if need_hit_count else 0)
        + (len(drilldowns) if isinstance(drilldowns, (list, dict)) else (1 if drilldowns else 0))
        + len(slices or {})
        # a negative offset forces a count of the matched set even when
        # the caller opted out of n_hits — that count is a consumer too
        + (1 if (offset and offset < 0 and not need_hit_count) else 0)
        + 1  # hits
    )
    cached = df.cache() if n_consumers > 1 else None
    base = cached if cached is not None else df
    n_hits = base.count() if need_hit_count else -1

    dd = {}
    dd_tot = {}
    if drilldowns is not None:
        if isinstance(drilldowns, (str, list)) and not isinstance(drilldowns, dict):
            specs = drilldowns if isinstance(drilldowns, list) else [drilldowns]
            for s in specs:
                if isinstance(s, str):
                    key = s
                else:
                    ks = s["keys"]
                    # a string keys value is ONE key, not characters
                    key = ks if isinstance(ks, str) else ",".join(ks)
                dd[key] = _drilldown(base, s)
                dd_tot[key] = _drilldown(base, s, apply_limit=False)
        else:
            for label, s in drilldowns.items():
                dd[label] = _drilldown(base, s)
                dd_tot[label] = _drilldown(base, s, apply_limit=False)

    sl = {}
    sl_tot = {}
    for label, spec in (slices or {}).items():
        s = sl_tot[label] = base.filter(F.expr(script_to_sql(spec["filter"])))
        if spec.get("sort_keys"):
            s = s.orderBy(*_parse_sort_keys(spec["sort_keys"], id_col=id_col))
        if spec.get("limit") is not None:
            s = s.limit(int(spec["limit"]))
        sl[label] = s

    hits = base
    order = _parse_sort_keys(sort_keys, id_col=id_col)
    if order:
        hits = hits.orderBy(*order)
    if offset and offset < 0:
        # reference pagination: a negative offset counts from the END of
        # the matched set (offset=-1 ⇒ last record). Rewritten to a
        # count-relative positive offset; needs the hit count — when the
        # caller opted out of it (need_hit_count=False), count here.
        n = n_hits if n_hits >= 0 else base.count()
        offset = max(0, n + offset)
    if offset:
        hits = hits.offset(offset)
    if limit is not None and limit >= 0:
        hits = hits.limit(limit)

    # -- stage: columns[output] + projection
    for name, spec in (columns or {}).items():
        if spec.get("stage") == "output":
            hits = _dynamic_column(hits, name, spec)
    if output_columns:
        if isinstance(output_columns, str):
            output_columns = [c.strip() for c in output_columns.split(",")]
        if output_columns != ["*"]:
            # Groonga allows script-syntax EXPRESSIONS in output_columns
            # ("n_chars * 2", "snippet_html(...)"); plain identifiers stay
            # name-selects (keeps Catalyst column pruning obvious)
            cols = []
            for c in output_columns:
                if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c):
                    # resolved reference paths present their dotted label
                    cols.append(F.col(c).alias(alias_out.get(c, c)))
                else:
                    cols.append(F.expr(script_to_sql(c)).alias(
                        re.sub(r"\W+", "_", c).strip("_")
                    ))
            hits = hits.select(*cols)

    return SelectResult(hits=hits, n_hits=n_hits, drilldowns=dd,
                        slices=sl, drilldown_totals=dd_tot,
                        slice_totals=sl_tot,
                        _cached=cached)


def _escalate_ast(index, query: str, match_columns: str | None = None):
    """Match escalation [G: lib/expr.c/ii.c · grn_ii_select escalation]:
    when hits ≤ threshold, relax each term to an OR over lexicon terms
    sharing its prefix (EXACT → PARTIAL approximation). Uses the
    driver's pyarrow lexicon range scan — zero Spark jobs.

    Builds the relaxed query as an AST (never a string round-trip:
    expanded LEXICON terms may contain QL metacharacters — '-', '(',
    '"', a trailing '*' — which would re-lex as operators). A term with
    no prefix expansion stays as itself (exact), so the escalated query
    is never BROADER than dropping it would make it. Terms normalize
    like any query text (NFKC+lower) before the lexicon scan."""
    from groonga_spark.normalize import normalize_str
    from groonga_spark.ql import And, Not, Or, Term, parse_query

    takes_mc = match_columns is not None and _accepts_match_columns(index)

    def _expand_term(t: str):
        norm = normalize_str(t)
        expanded = (
            index._prefix_terms(norm, limit=8, match_columns=match_columns)
            if takes_mc else index._prefix_terms(norm, limit=8)
        )
        if len(expanded) > 1:
            return Or([Term(x) for x in expanded])
        if expanded:
            return Term(expanded[0])
        return Term(t)  # no expansion: keep the exact term

    # STRUCTURE-PRESERVING rewrite: escalation relaxes each positive
    # Term leaf in place — an OR stays an OR, and a NEGATED term is
    # left exact (expanding the subtracted side would remove MORE docs,
    # the opposite of relaxing). Phrase/Near/Prefix leaves pass through.
    def _walk(node, neg: bool = False):
        if node is None:
            return node
        if isinstance(node, Term):
            return node if neg else _expand_term(node.text)
        if isinstance(node, Not):
            return Not(_walk(node.child, neg=True))
        if isinstance(node, (And, Or)):
            return type(node)([_walk(c, neg) for c in node.children])
        return node

    ast = parse_query(query)
    if ast is None:
        return None
    return _walk(ast)
