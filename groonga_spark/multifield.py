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
with `a` only in the title and `b` only in the body MATCHES. That forces
leaf-level cross-field combination (an AND of per-field full-query
results would be wrong), so the AST is evaluated here with
algebra.combine over (doc_id, score) DataFrames; each leaf×field runs
the segment kernel through FulltextIndex.match_ast.

Scale notes: q leaves × F fields kernel runs, each term_id-pruned; the
combine joins are tiny (match sets). At 10^12 docs the per-field layout
is the win — fields prune like partitions, and a weight change recosts
without touching postings.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from groonga_spark.algebra import combine
from groonga_spark.build import build_index
from groonga_spark.ql import (
    And,
    Near,
    Not,
    Or,
    Phrase,
    Prefix,
    Similar,
    Term,
    parse_query,
)
from groonga_spark.search import RESULT_SCHEMA, FulltextIndex, result_frame
from groonga_spark.wand import SegmentQueryKernel

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


def _bm25f_topk(pdf: pd.DataFrame, pp: dict,
                k: int) -> tuple[np.ndarray, np.ndarray]:
    """BM25F top-k over one block frame whose term_ids are remapped into
    the field namespace (MultiFieldIndex._FIELD_SHIFT) — ONE
    interval-pruner call over the whole frame; the plan hands the kernel
    each field's term-id span, stats and tombstones, and each member
    carries its field's weight. ``pp`` is a MultiFieldIndex._pruned_plan
    dict. The driver route and the per-shard UDF both run it. A group
    whose members have no postings in the frame drops; under AND that
    empties the result."""
    empty = (np.empty(0, np.int64), np.empty(0, np.float64))
    shift = MultiFieldIndex._FIELD_SHIFT
    fields = [((fi + 1) << shift, st, pp["tombs"][fi])
              for fi, st in sorted(pp["stats_by_field"].items())]
    kern = SegmentQueryKernel(
        pdf, {"tokens_by_text": {}, "df_by_tid": pp["df_by_tid"],
              "tombstones": None, "fields": fields},
        pp["stats_by_field"][0], k)
    groups = []
    for g in pp["groups"]:
        members = [(t, w) for t, w in g["members"] if t in kern.by_tid]
        if members:
            groups.append({"kind": "or", "members": members, "post": None})
        elif pp["mode"] == "and":
            return empty
    if not groups:
        return empty
    return kern._topk_interval_pruned(groups, pp["mode"], None,
                                      pp["neg_tids"])


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
    (each field adopts its recorded tokenizer mode); only segments with
    new docs rebuild, so a micro-batch append costs O(batch), not
    O(corpus). The append contract (new, monotonically growing doc ids)
    applies per field; open handles pick the change up via their
    generation check."""
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

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, MANIFEST)) as fh:
            self.manifest = json.load(fh)
        self._fields: dict[str, FulltextIndex] = {}

    def field(self, name: str) -> FulltextIndex:
        if name not in self.manifest["fields"]:
            raise KeyError(f"unknown field {name!r}; "
                           f"indexed: {self.manifest['fields']}")
        if name not in self._fields:
            self._fields[name] = FulltextIndex(
                self.spark, os.path.join(self.path, "fields", name)
            )
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

    def _empty(self) -> DataFrame:
        return result_frame(self.spark)

    def _leaf(self, node, cols: list[tuple[str, float]]) -> DataFrame:
        """Weighted cross-field OR of one query leaf — the reference's
        (col1@t OR col2@t) expansion with weights; combine order = the
        match_columns listing (deterministic float sums)."""
        out = None
        for name, w in cols:
            fidx = self.field(name)
            fidx._check_generation()  # before _expand_ast reads the lexicon
            df = fidx.match_ast(fidx._expand_ast(node))
            if w != 1.0:
                df = df.select(
                    "doc_id", (F.col("score") * F.lit(float(w))).alias("score")
                )
            out = df if out is None else combine(out, df, "or")
        return out if out is not None else self._empty()

    def _eval(self, node, cols) -> DataFrame:
        if node is None:
            return self._empty()
        if isinstance(node, (Term, Phrase, Prefix, Near, Similar)):
            # positional/similarity leaves evaluate per field through the
            # same kernel (cross-field OR like any other leaf)
            return self._leaf(node, cols)
        if isinstance(node, And):
            pos = [c for c in node.children if not isinstance(c, Not)]
            neg = [c.child for c in node.children if isinstance(c, Not)]
            acc = None
            for c in pos:
                r = self._eval(c, cols)
                acc = r if acc is None else combine(acc, r, "and")
            if acc is None:
                return self._empty()
            for c in neg:
                acc = combine(acc, self._eval(c, cols), "and_not")
            return acc
        if isinstance(node, Or):
            acc = None
            for c in node.children:
                r = self._eval(c, cols)
                acc = r if acc is None else combine(acc, r, "or")
            return acc if acc is not None else self._empty()
        if isinstance(node, Not):
            return self._empty()  # bare NOT needs a left set
        raise TypeError(type(node))

    # -- public API ---------------------------------------------------------

    def _cols(self, match_columns: str | None) -> list[tuple[str, float]]:
        if match_columns is None:
            return [(f, 1.0) for f in self.manifest["fields"]]
        return parse_match_columns(match_columns)

    #: synthetic tid namespace: member key = (field_idx + 1) << _FIELD_SHIFT
    #: | field-local term_id (term_ids are dense ranks, far below 2^40)
    _FIELD_SHIFT = 40

    def _pruned_plan(self, ast, cols: list[tuple[str, float]]):
        """Shape/lexicon analysis shared by the driver and cluster
        pruned routes (driver-cheap: tokenize the leaves once, one pruned
        lexicon lookup per field). Returns None when the SHAPE isn't
        eligible (multi-token leaves, Prefix/Near/Similar, nested OR/AND
        mixes); "empty" when an AND leaf matches no field; else a dict:
        mode, groups/neg_tids over the mapped-tid namespace, per-mapped-
        tid df, per-field stats/tombstones, per-field raw-tid lists, and
        per-field Σdf (posting-volume estimate)."""
        from groonga_spark.normalize import normalize_str
        from groonga_spark.tokenize import tokenize_str

        if isinstance(ast, Term):
            pos, neg, mode = [ast], [], "and"
        elif isinstance(ast, And):
            pos = [c for c in ast.children if not isinstance(c, Not)]
            neg = [c.child for c in ast.children if isinstance(c, Not)]
            if not pos or not all(isinstance(c, Term) for c in pos + neg):
                return None
            mode = "and"
        elif isinstance(ast, Or):
            pos, neg, mode = list(ast.children), [], "or"
            if not pos or not all(isinstance(c, Term) for c in pos):
                return None
        else:
            return None

        tok_mode = self.manifest["mode"]
        texts = []
        for c in pos + neg:
            toks = [t for t, _ in
                    tokenize_str(normalize_str(c.text), tok_mode)]
            if len(toks) != 1:
                return None  # multi-token leaf (ngram/phrase) → exhaustive
            texts.append(toks[0])

        # Driver-mask invariant (search.FulltextIndex._plan): past
        # TOMBSTONE_DRIVER_MAX rows the driver must never materialize the
        # tombstone set. Both pruned routes carry per-field masks inside
        # the plan (the cluster route broadcasts them too), so a
        # giant pre-compaction delete makes the pruned SHAPE ineligible —
        # callers fall back to the exhaustive per-field algebra, whose
        # FulltextIndex path masks executor-side past the threshold.
        est_tombs = 0
        for name, _w in cols:
            fidx = self.field(name)
            fidx._check_generation()
            est_tombs += fidx._tombstone_rows_estimate()
        if est_tombs > FulltextIndex.TOMBSTONE_DRIVER_MAX:
            return None

        shift = 1 << self._FIELD_SHIFT
        mapped: list[dict[str, int]] = []
        df_by_tid: dict[int, float] = {}
        raw_tids: list[list[int]] = []
        stats_by_field: dict[int, dict] = {}
        tombs: dict[int, object] = {}
        field_df: list[float] = []
        for fi, (name, _w) in enumerate(cols):
            fidx = self.field(name)
            fidx._check_generation()
            rows = fidx._lexicon_lookup(sorted(set(texts)))
            tid_map = {t: (tid, df) for t, tid, df in rows}
            mapped.append(
                {t: (fi + 1) * shift + tid for t, (tid, _d) in tid_map.items()}
            )
            raw_tids.append(sorted({tid for tid, _ in tid_map.values()}))
            for _t, (tid, df) in tid_map.items():
                df_by_tid[(fi + 1) * shift + tid] = float(df)
            field_df.append(sum(float(df) for _tid, df in tid_map.values()))
            stats_by_field[fi] = fidx._stats()
            tombs[fi] = fidx.tombstones()

        groups = []
        for tok in texts[: len(pos)]:
            members = []
            for fi, (_name, w) in enumerate(cols):
                mt = mapped[fi].get(tok)
                if mt is not None:
                    members.append((mt, float(w)))
            if members:
                groups.append({"kind": "or", "members": members,
                               "post": None})
            elif mode == "and":
                return "empty"  # an AND leaf matches no field
        if not groups:
            return "empty"
        neg_tids = []
        for tok in texts[len(pos):]:
            for fi in range(len(cols)):
                mt = mapped[fi].get(tok)
                if mt is not None:
                    neg_tids.append(mt)
        return {
            "mode": mode,
            "groups": groups,
            "neg_tids": neg_tids,
            "df_by_tid": df_by_tid,
            "raw_tids": raw_tids,
            "stats_by_field": stats_by_field,
            "tombs": tombs,
            "field_df": field_df,
        }

    def _fits_driver(self, pp: dict, cols: list[tuple[str, float]]) -> bool:
        """Aggregate driver-volume gate: the SUM of every field's
        FulltextIndex._posting_bytes estimate against
        DRIVER_QUERY_MAX_BYTES — gating each field alone would let N
        fields load N× the cap onto the driver."""
        est = sum(self.field(name)._posting_bytes(pp["field_df"][fi])
                  for fi, (name, _w) in enumerate(cols))
        return est <= self.field(cols[0][0]).DRIVER_QUERY_MAX_BYTES

    def _driver_topk(self, pp, cols: list[tuple[str, float]],
                     k: int) -> tuple[np.ndarray, np.ndarray]:
        """BM25F top-k on the driver: every field's term_id-pruned blocks
        (tids remapped into the field namespace) through _bm25f_topk.
        Instead of scoring every hit of every field and sorting, one
        or-kind group per query leaf (members = (field, token) in
        match_columns order, weight w_f) bounds Σ w_f·bound_f per
        interval, so a head-term query stops once the top-k stabilizes
        exactly like the single-field path. Bit-identical to the
        exhaustive DataFrame algebra (member adds in cols order == the
        combine('or') chain; group adds in child order == the
        combine('and') chain). ``pp`` is a _pruned_plan dict or
        "empty"."""
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        if pp == "empty":
            return empty
        shift = 1 << self._FIELD_SHIFT
        parts = []
        for fi, (name, _w) in enumerate(cols):
            tids = pp["raw_tids"][fi]
            if tids:
                pdf = self.field(name)._local_blocks(tids, {}, force=True)
                parts.append(pdf.assign(
                    term_id=pdf["term_id"].astype("int64") + (fi + 1) * shift
                ))
        if not parts:
            return empty
        return _bm25f_topk(pd.concat(parts, ignore_index=True), pp, k)

    def _cluster_topk(self, pp: dict, cols: list[tuple[str, float]],
                      k: int) -> DataFrame | None:
        """BM25F top-k on the cluster: union every field's term_id-pruned
        postings (tids remapped into the field namespace), group by
        (segment, shard) — field layouts share shard boundaries (same
        segment_size/shard_size, same doc ids), so one shard group holds
        EVERY field's blocks for its doc range — and run _bm25f_topk per
        shard; the global top-k merge touches k rows per shard
        (TakeOrderedAndProject). None when the field layouts don't align
        (different shard geometry) — exhaustive fallback."""
        geom = {
            (self.field(n).meta.get("segment_size"),
             self.field(n).meta.get("shard_size"))
            for n, _ in cols
        }
        if len(geom) != 1:
            return None  # mis-aligned shard geometry → exhaustive

        shift = 1 << self._FIELD_SHIFT
        parts = []
        for fi, (name, _w) in enumerate(cols):
            tids = pp["raw_tids"][fi]
            if not tids:
                continue
            parts.append(
                self.field(name).postings
                .filter(F.col("term_id").isin([int(t) for t in tids]))
                .withColumn(
                    "term_id",
                    (F.col("term_id") + F.lit((fi + 1) * shift)).cast("long"),
                )
            )
        if not parts:
            return None
        blocks = parts[0]
        for p in parts[1:]:
            blocks = blocks.unionByName(p)
        blocks = blocks.withColumn("shard", F.shiftright("block_id", 24))
        plan_b = self.spark.sparkContext.broadcast(pp)

        def _run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            doc, score = _bm25f_topk(pdf, plan_b.value, k)
            return pd.DataFrame({"doc_id": doc, "score": score})

        per_shard = blocks.groupBy("segment", "shard").applyInPandas(
            _run, schema=RESULT_SCHEMA
        )
        return per_shard.orderBy(
            F.desc("score"), F.asc("doc_id")
        ).limit(k)

    def match_docs(self, query: str,
                   match_columns: str | None = None) -> DataFrame:
        """(doc_id, score) of every match under the column spec."""
        return self._eval(parse_query(query), self._cols(match_columns))

    def match_ast(self, ast, match_columns: str | None = None) -> DataFrame:
        """match_docs over a pre-expanded AST (select's match-escalation
        path enters here with lexicon-expanded terms that must never
        round-trip through the QL parser)."""
        return self._eval(ast, self._cols(match_columns))

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
        """BM25F top-k → (doc_id, score), (score desc, doc_id asc).

        Eligible shapes run the interval-pruned kernel — on the driver
        when the fields' summed posting volume fits the driver cap
        (_fits_driver), else per-(segment, shard) on the cluster (field
        layouts share shard boundaries, so one shard group holds every
        field's blocks for its doc range); remaining shapes fall back to
        the exhaustive leaf-level algebra + global sort."""
        ast = parse_query(query)
        cols = self._cols(match_columns)
        pp = self._pruned_plan(ast, cols)
        if pp is not None:
            if pp == "empty" or self._fits_driver(pp, cols):
                return result_frame(self.spark,
                                    *self._driver_topk(pp, cols, k))
            dist = self._cluster_topk(pp, cols, k)
            if dist is not None:
                return dist
        return (
            self.match_docs(query, match_columns)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
