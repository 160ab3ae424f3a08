"""Weighted multi-field (section) match — ``match_columns "title*10||body"``.

Re-expresses the reference's multi-column match with per-column weights
[G: select match_columns "title * 10 || body"; index WITH_SECTION —
lib/proc/proc_select.c builds one expr where each query term matches the
OR of the listed columns, per-column scores scaled by the weight].

Spark-first shape: instead of one index with section ids packed into the
postings (the reference's WITH_SECTION layout), each field gets its OWN
index under ``<path>/fields/<name>/`` — a partitioned layout, so a query
over ``title*10||body`` touches exactly those fields' postings and a
field can rebuild independently. Scoring is simple BM25F: per-field BM25
with the field's own df/avgdl, scaled by the column weight, summed —
score(d) = Σ_leaf Σ_field w_f · BM25_f(leaf, d).

Semantics match the reference's expansion: query ``a b`` over columns
(title, body) means (title@a OR body@a) AND (title@b OR body@b) — a doc
with `a` only in the title and `b` only in the body MATCHES. So the
query is scoped leaf by leaf: each leaf becomes an OR of ql.Field
leaves, one per listed column in listing order, each resolved against
that field's own lexicon (prefix ranges, ``*S`` rare terms) and weighted
by the column weight. Field i's term ids are shifted by (i + 1) << 40,
so every field's blocks share ONE frame, and the scoped query runs
through the same route and kernel as a single-field index
(search.run_query): one SegmentQueryKernel, with each field's stats and
tombstones, for match sets and pruned top-k alike — on the driver with
no Spark job, or per (segment, shard) over the union of the fields'
postings on the cluster. Every field of a layout is built with the same
segment/shard geometry, so one shard group holds every field's blocks
for its doc range; a handle refuses to open a layout whose fields
disagree.

Scale notes: the per-field layout prunes like partitions, and a weight
change recosts without touching postings.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from groonga_spark.build import build_index
from groonga_spark.ql import Field, Or, Similar, TermRange, parse_query, rewrite
from groonga_spark.search import FulltextIndex, result_frame, run_query

MANIFEST = "multifield.json"


def parse_match_columns(spec: str) -> list[tuple[str, float]]:
    """``"title * 10 || body"`` → ``[("title", 10.0), ("body", 1.0)]``."""
    out = []
    for part in spec.split("||"):
        part = part.strip()
        if not part:
            continue
        if "*" in part:
            name, w = part.split("*", 1)
            out.append((name.strip(), float(w.strip())))
        else:
            out.append((part, 1.0))
    if not out:
        raise ValueError(f"empty match_columns spec: {spec!r}")
    return out


def _shift(leaf, base: int):
    """A field-resolved leaf with its resolved term ids moved into the
    field's namespace of the pooled frame (texts stay; they are planned
    per field)."""
    if isinstance(leaf, TermRange):
        return TermRange(leaf.prefix, leaf.lo_tid + base, leaf.hi_tid + base,
                         leaf.n_terms, leaf.sum_df)
    if isinstance(leaf, Similar) and leaf.tids is not None:
        return Similar(leaf.text, tuple((t + base, df) for t, df in leaf.tids))
    return leaf


def build_multifield_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    fields: list[str],
    mode: str = "delimit",
    id_col: str = "doc_id",
    **kwargs,
) -> dict:
    """Build one index per text field of ``docs`` (WITH_SECTION analogue).

    Docs with an empty/null field still count toward that field's corpus
    stats (dl = 0) — BM25F per-field avgdl stays honest.
    """
    os.makedirs(path, exist_ok=True)
    metas = {}
    for f in fields:
        metas[f] = build_index(
            spark,
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.coalesce(F.col(f), F.lit("")).alias("text"),
            ),
            os.path.join(path, "fields", f),
            mode=mode,
            **kwargs,
        )
    manifest = {"fields": list(fields), "mode": mode}
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(path, MANIFEST))
    return {"manifest": manifest, "fields": metas}


def append_multifield(spark: SparkSession, docs: DataFrame, path: str,
                      id_col: str = "doc_id") -> dict:
    """Bring EVERY field index under ``path`` up to date with ``docs``
    (the full current table) — the repair path for the command facade's
    ``load`` → ``index_stale`` flag. Per-field streaming.append_docs
    (each field adopts its recorded tokenizer mode): each field gains one
    delta generation holding only the new docs, so a micro-batch append
    costs O(batch), not O(corpus). The delta's segment number and doc
    range follow from the recorded layout and the new high-water mark
    alone, so every field cuts the same (segment, shard) geometry. The
    append contract (new, monotonically growing doc ids) applies per
    field; open handles pick the change up via their generation check."""
    from groonga_spark.streaming import append_docs

    with open(os.path.join(path, MANIFEST)) as fh:
        man = json.load(fh)
    out = {}
    for f in man["fields"]:
        out[f] = append_docs(
            spark,
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.coalesce(F.col(f), F.lit("")).alias("text"),
            ),
            os.path.join(path, "fields", f),
            mode=None,
        )
    return out


class MultiFieldIndex:
    """Query handle over a build_multifield_index layout."""

    #: field i's term ids are shifted by (i + 1) << _FIELD_SHIFT in the
    #: pooled block frame (term ids are dense ranks, far below 2^40)
    _FIELD_SHIFT = 40

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, MANIFEST)) as fh:
            self.manifest = json.load(fh)
        self._empty_frame: DataFrame | None = None
        self._fields = {
            name: FulltextIndex(spark, os.path.join(path, "fields", name))
            for name in self.manifest["fields"]
        }
        geom = {(f.meta.get("segment_size"), f.meta.get("shard_size"))
                for f in self._fields.values()}
        if len(geom) > 1:
            raise ValueError(
                f"multi-field index {path!r}: its fields disagree on "
                f"(segment_size, shard_size) {sorted(geom, key=str)}; "
                "rebuild them with the same build options")

    def field(self, name: str) -> FulltextIndex:
        if name not in self._fields:
            raise KeyError(f"unknown field {name!r}; "
                           f"indexed: {self.manifest['fields']}")
        return self._fields[name]

    def delete_docs(self, doc_ids) -> None:
        """Tombstone doc ids in EVERY field index (a document deleted
        from the table disappears from all its section indexes at once
        [G: lib/db.c · grn_obj_remove → per-index-column hooks]).
        Accepts the same forms as FulltextIndex.delete_docs — a small
        driver-side iterable or a Spark DataFrame of ids (executor-side
        tombstone write). Either form is pinned ONCE before the
        per-field fan-out: a DataFrame is localCheckpoint'd so its
        lineage doesn't re-execute per field and a non-deterministic
        source can't tombstone DIFFERENT id sets in different section
        indexes; an iterable is materialized so generators survive."""
        if isinstance(doc_ids, DataFrame):
            doc_ids = doc_ids.localCheckpoint(eager=True)
        else:
            doc_ids = list(doc_ids)
        for name in self.manifest["fields"]:
            self.field(name).delete_docs(doc_ids)

    # -- evaluation ---------------------------------------------------------

    def _cols(self, match_columns: str | None) -> list[tuple[str, float]]:
        if match_columns is None:
            return [(f, 1.0) for f in self.manifest["fields"]]
        return parse_match_columns(match_columns)

    def _scope(self, ast, cols: list[tuple[str, float]]):
        """Plan ``ast`` over the listed columns → (scoped AST, parts,
        kernel plan) for search.run_query. Each leaf becomes an OR of
        Field leaves in listing order — the reference's (col1@t OR
        col2@t) expansion; a column's leaf is expanded against its own
        lexicon and planned by its own index, and the per-field plans
        merge into one kernel plan with term ids shifted by the field's
        base and each field's stats and tombstones in ``fields``."""
        fidxs = [self.field(name) for name, _w in cols]
        for fidx in fidxs:
            fidx._check_generation()  # before _expand_ast reads the lexicon
        local: list[list] = [[] for _ in cols]

        def scope(leaf):
            alts = []
            for fi, ((_n, w), fidx) in enumerate(zip(cols, fidxs)):
                x = fidx._expand_ast(leaf)
                local[fi].append(x)
                alts.append(Field(fi, float(w), _shift(
                    x, (fi + 1) << self._FIELD_SHIFT)))
            return alts[0] if len(alts) == 1 else Or(alts)

        scoped = rewrite(ast, scope)
        plan: dict = {"tokens_by_text": {}, "df_by_tid": {}, "fields": []}
        parts = []
        for fi, fidx in enumerate(fidxs):
            base = (fi + 1) << self._FIELD_SHIFT
            p = fidx._plan(Or(local[fi]))
            parts.append((fidx, p, base))
            plan["tokens_by_text"].update({
                (fi, text): [None if t is None else t + base for t in toks]
                for text, toks in p["tokens_by_text"].items()
            })
            plan["df_by_tid"].update(
                {t + base: df for t, df in p["df_by_tid"].items()})
            plan["fields"].append((base, fidx._stats(), p["tombstones"]))
        return scoped, parts, plan

    def _run(self, ast, match_columns: str | None, k: int | None):
        """The scoped query through search.run_query: (doc, score)
        arrays on the driver route, a DataFrame on the cluster route."""
        scoped, parts, plan = self._scope(ast, self._cols(match_columns))
        return run_query(parts, scoped, plan, plan["fields"][0][1], k)

    def _frame(self, out) -> DataFrame:
        if isinstance(out, DataFrame):
            return out
        return result_frame(self, *out)

    # -- public API ---------------------------------------------------------

    def match_docs(self, query: str,
                   match_columns: str | None = None) -> DataFrame:
        """(doc_id, score) of every match under the column spec."""
        return self._frame(self._run(parse_query(query), match_columns, None))

    def match_ast(self, ast, match_columns: str | None = None) -> DataFrame:
        """match_docs over a pre-expanded AST (select's match-escalation
        path enters here with lexicon-expanded terms that must never
        round-trip through the QL parser)."""
        return self._frame(self._run(ast, match_columns, None))

    def _prefix_terms(self, prefix: str, limit: int | None = None,
                      match_columns: str | None = None) -> list[str]:
        """Per-field escalation semantics: the prefix expands against
        the UNION of the queried fields' lexicons (each field is its own
        section index with its own vocabulary [G: WITH_SECTION]), in
        match_columns order, deduplicated; each field's scan honors
        ``limit`` and the union is re-capped to it."""
        out: list[str] = []
        seen: set[str] = set()
        for name, _w in self._cols(match_columns):
            for t in self.field(name)._prefix_terms(prefix, limit=limit):
                if t not in seen:
                    seen.add(t)
                    out.append(t)
        if limit is not None and len(out) > limit:
            out = out[:limit]
        return out

    def search(self, query: str, match_columns: str | None = None,
               k: int = 10) -> DataFrame:
        """BM25F top-k → (doc_id, score), (score desc, doc_id asc), on
        the one route every query takes (search.run_query): the pruned
        kernel where it can add scores in the exhaustive float order,
        the kernel's exhaustive eval + top-k otherwise."""
        return self._frame(self._run(parse_query(query), match_columns, k))
