"""Fulltext search API over a built index.

The distributed shape of [G: lib/proc/proc_select.c · grn_select] step 3
(selection): the driver parses the query and looks up the handful of query
terms in the lexicon (tiny, pruned scan), then ONE route (``run_query``)
runs the kernel for top-k and match-set queries alike, for a single-field
FulltextIndex and a multi-field MultiFieldIndex (whose fields' blocks
share one frame, term ids shifted per field), on one of two routes:

- driver: when no field's tombstones are past TOMBSTONE_DRIVER_MAX and
  the fields' summed posting-volume estimate fits
  DRIVER_QUERY_MAX_BYTES, the driver reads the term_id-pruned blocks
  with pyarrow and runs the kernel over them — no Spark job;
- cluster: otherwise executors each evaluate the AST over ONE (segment,
  shard)'s blocks of every field (shards partition the doc-id space, so
  every set operation is shard-local); a global ``orderBy(score desc,
  doc_id asc).limit(k)`` merges per-shard top-k — Spark's
  TakeOrderedAndProject, touching k rows per shard, not the corpus.

Callers cannot force a route; the rule above is the only one. Every
driver-side result becomes a DataFrame through ``result_frame``.

Every index is read as a list of generations (build.py: the base, then
each delta); a lone base is the one-generation case, not a second path.
Each term is looked up in every generation's lexicon, and each
generation's fetched blocks go through one relabel (``_relabel``) to
plan term ids plus the field's base, with the df summed across
generations, so the kernel and both routes see the frame a full rebuild
would give. A lone generation's map is the identity (plus the base).

Scale notes: postings are written term_id-sorted in small row groups
(build.ROW_GROUP_BYTES) and the lexicon term-sorted the same way. A
driver read consults the handle's row-group directory (per-group key
min/max, from the footers) and decodes only the groups that can hold the
query's terms — the lexicon entry pointing at a term's posting chunks
[G: lib/ii.c · grn_ii_cursor_open]; the cluster route pushes the same
predicate to the parquet / Iceberg scan. The per-segment kernel holds q
terms × that segment's blocks — bounded by segment size, independent of
corpus size.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from groonga_spark.build import (
    PREFIX_DRIVER_SCAN_MAX,
    IndexStore,
    terms_upper_bound,
)
from groonga_spark.normalize import normalize_str
from groonga_spark.ql import parse_query, query_terms
from groonga_spark.tokenize import tokenize_str
from groonga_spark.wand import SegmentQueryKernel

#: Spark schema of every query result: one row per matching doc
RESULT_SCHEMA = "doc_id long, score double"


def result_frame(handle, doc=(), score=()) -> DataFrame:
    """(doc_id, score) DataFrame around driver-side result arrays, for a
    FulltextIndex or MultiFieldIndex ``handle``. Built from a typed Arrow
    table, which Spark wraps as a local relation with no job — an empty
    pandas frame would start one with Python workers. An empty result is
    the handle's one empty frame, built on first use and handed back
    every time after: a frame already collected once skips the plan
    analysis a fresh one pays."""
    if len(doc) == 0 and handle._empty_frame is not None:
        return handle._empty_frame
    df = handle.spark.createDataFrame(pa.table({
        "doc_id": pa.array(doc, pa.int64()),
        "score": pa.array(score, pa.float64()),
    }))
    if len(doc) == 0:
        handle._empty_frame = df
    return df


def run_query(parts: list, ast, plan: dict, stats: dict, k: int | None):
    """Run a planned query — the one place that picks its route, for a
    single-field and a multi-field index alike.

    ``parts`` holds, per field of the query, (index, its own plan,
    term-id base): a single-field query is ``[(idx, plan, 0)]``; a
    multi-field one shifts field i's term ids by (i + 1) << 40 so every
    field's blocks share one frame, and ``ast``/``plan`` are in that
    namespace (Field leaves; per-field stats and tombstones in
    ``plan["fields"]``). ``k`` asks for the top-k by (score desc, doc_id
    asc); None asks for every match.

    Route: when any field's tombstones are external (past
    TOMBSTONE_DRIVER_MAX the driver never holds that mask), or the
    fields' SUMMED posting-volume estimate exceeds
    DRIVER_QUERY_MAX_BYTES, the kernel runs per (segment, shard) on the
    cluster (``_per_shard_eval``) and a DataFrame comes back. Otherwise
    the driver reads the pruned blocks and runs ONE kernel over them
    (blocks are globally doc-disjoint and ordered by (segment,
    block_id)), returning ``(doc, score)`` arrays."""
    if ast is None or not any(p["needed_tids"] or p["tid_ranges"]
                              for _i, p, _b in parts):
        return np.empty(0, np.int64), np.empty(0, np.float64)
    limit = (1 << 62) if k is None else k
    head = parts[0][0]
    external = any(p.get("tombstones_external") for _i, p, _b in parts)
    if not external and sum(
        idx._posting_bytes(p) for idx, p, _b in parts
    ) <= head.DRIVER_QUERY_MAX_BYTES:
        kernel = SegmentQueryKernel(_driver_blocks(parts), plan, stats, limit)
        return kernel.eval(ast) if k is None else kernel.run(ast)
    per_shard = head._per_shard_eval(ast, plan, stats, limit,
                                     topk=k is not None, parts=parts)
    if k is None:
        return per_shard
    return per_shard.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _driver_blocks(parts: list) -> pd.DataFrame:
    """The driver route's block frame: each field's pruned postings
    (``_local_blocks``), in the pooled frame's term ids."""
    frames = [idx._local_blocks(p["needed_tids"], p, base=base)
              for idx, p, base in parts
              if p["needed_tids"] or p["tid_ranges"]]
    return frames[0] if len(frames) == 1 else pd.concat(frames,
                                                         ignore_index=True)


def _relabel(pdf: pd.DataFrame, src: np.ndarray, maps: list) -> pd.DataFrame:
    """Apply the term-id maps of ``FulltextIndex._gen_reads`` to postings
    rows fetched by each generation's own term ids — the one relabel of
    both routes. Row i came from the read ``src[i]``, whose map
    ``maps[src[i]]`` is (field base, None) for the identity (a lone
    generation: its term ids are the plan ids), else (field base, (its
    term ids sorted, their plan ids, their summed dfs)). Sets term_id to
    the plan id + base and df to the summed df, in place."""
    tid = pdf["term_id"].to_numpy(np.int64)
    out_tid = tid.copy()
    out_df = pdf["df"].to_numpy(np.int64).copy()
    for s, (base, idmap) in enumerate(maps):
        rows = src == s
        if idmap is None:
            out_tid[rows] += base
        else:
            i = np.searchsorted(idmap[0], tid[rows])
            out_tid[rows] = idmap[1][i] + base
            out_df[rows] = idmap[2][i]
    pdf["term_id"] = out_tid
    pdf["df"] = out_df
    return pdf


def _check_run(prefix: str, lo: int, hi: int, n: int) -> None:
    """A generation's prefix run must hold contiguous term ids: dense
    ids are term ranks, so anything else is lexicon corruption, not a
    soft fallback. An explicit raise (not assert): under ``python -O``
    an assert is stripped and a corrupt lexicon would silently plan a
    range matching unrelated terms."""
    if hi - lo + 1 != n:
        raise RuntimeError(
            "lexicon corruption: dense term_id range for prefix "
            f"{prefix!r} is non-contiguous (lo={lo}, hi={hi}, n={n})")


def _prefix_upper_bound(prefix: str) -> str | None:
    """Exclusive upper bound of the prefix range [p, succ(p)): increment
    the last codepoint (codepoint order == UTF-8 byte order), SKIPPING
    the surrogate gap (U+D7FF + 1 would be a lone surrogate — pyarrow
    raises encoding it). None → no finite bound (all-U+10FFFF prefix):
    every term at or above such a prefix starts with it, so the range
    is [p, ∞)."""
    p = prefix
    while p and ord(p[-1]) >= 0x10FFFF:
        p = p[:-1]
    if not p:
        return None
    nxt = ord(p[-1]) + 1
    if 0xD800 <= nxt <= 0xDFFF:
        nxt = 0xE000
    return p[:-1] + chr(nxt)


#: key column of each table a driver read addresses by row group
_TABLE_KEYS = {"postings": "term_id", "lexicon": "term"}

#: a delta generation with at most this many postings bytes keeps its
#: lexicon and postings row groups decoded on the handle after their
#: first read. Its files never change, and a small delta is one row
#: group per table, so without it every query decodes each delta's
#: whole lexicon and postings again. Memory: at most DELTA_MAX such
#: deltas per field per handle.
DELTA_HOLD_BYTES = 1 << 20


def _data_files(root: str) -> list[str]:
    """A table directory's data files in pyarrow dataset order: recursive,
    sorted by path, skipping names that start with '.' or '_' (Spark's
    ``.crc`` files and ``_SUCCESS`` marker)."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out.extend(os.path.join(d, f) for f in files
                   if not f.startswith((".", "_")))
    return sorted(out)


class _RowGroupDirectory:
    """Where each key of one table lives: for every data file, in dataset
    order, its footer and each row group's min/max of the key column —
    the lexicon's pointer to a term's posting chunks [G: lib/pat.c ·
    grn_pat_get → lib/ii.c · grn_ii_cursor_open reads only those
    chunks]. Built from the footers alone; holds no open file. ``hold``
    keeps each row group decoded after its first read (a small delta
    generation's tables, see DELTA_HOLD_BYTES)."""

    def __init__(self, root: str, key: str, hold: bool = False):
        import pyarrow.parquet as pq

        self.key = key
        self._held: dict[int, pa.Table] | None = {} if hold else None
        self.files = []  # (path, FileMetaData)
        self.schema = None
        self.starts = [0]  # first row group of each file
        mins, maxs = [], []  # None where a group has no statistics
        for path in _data_files(root):
            md = pq.read_metadata(path)
            if self.schema is None:
                self.schema = md.schema.to_arrow_schema()
            col = md.schema.names.index(key)
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(col).statistics
                ok = (st is not None and st.has_min_max
                      and not isinstance(st.min, bytes))
                mins.append(st.min if ok else None)
                maxs.append(st.max if ok else None)
            self.files.append((path, md))
            self.starts.append(len(mins))
        self.n_rows = sum(md.num_rows for _p, md in self.files)
        self.known = np.array([m is not None for m in mins], bool)
        ints = self.schema is not None and pa.types.is_integer(
            self.schema.field(key).type)
        fill, dtype = (0, np.int64) if ints else ("", object)
        self.mins = np.array([fill if m is None else m for m in mins], dtype)
        self.maxs = np.array([fill if m is None else m for m in maxs], dtype)

    def select(self, keys, ranges) -> np.ndarray:
        """Mask of the row groups whose [min, max] holds any of ``keys``
        or overlaps any half-open range [lo, hi) (hi None = unbounded).
        A group without statistics is always selected."""
        hit = ~self.known
        if len(keys):
            k = np.sort(np.asarray(keys, self.mins.dtype))
            hit |= (np.searchsorted(k, self.mins, "left")
                    < np.searchsorted(k, self.maxs, "right"))
        for lo, hi in ranges:
            m = self.maxs >= lo
            if hi is not None:
                m &= self.mins < hi
            hit |= m
        return hit

    def _groups(self, hit: np.ndarray, cols: list[str]) -> pa.Table:
        """The selected row groups' ``cols``, in file then group order."""
        import pyarrow.parquet as pq

        parts = []
        if self._held is not None:
            for g in np.flatnonzero(hit).tolist():
                t = self._held.get(g)
                if t is None:
                    f = int(np.searchsorted(self.starts, g, "right")) - 1
                    path, md = self.files[f]
                    t = self._held[g] = pq.ParquetFile(
                        path, metadata=md).read_row_group(
                        g - self.starts[f], use_threads=False)
                parts.append(t.select(cols))
            hit = np.zeros(len(hit), bool)
        for f, (path, md) in enumerate(self.files):
            sel = np.flatnonzero(hit[self.starts[f]:self.starts[f + 1]])
            if len(sel):
                parts.append(pq.ParquetFile(path, metadata=md).read_row_groups(
                    sel.tolist(), columns=cols, use_threads=False))
        return (pa.concat_tables(parts) if parts
                else self.schema.empty_table().select(cols))

    def read(self, columns: list[str] | None, keys=(), ranges=()) -> pa.Table:
        """Rows whose key is in ``keys`` or in any [lo, hi) of ``ranges``,
        in file then row-group then row order — the rows, and the order,
        of a dataset scan with the same filter — decoding only the
        selected row groups. No keys and no ranges → no rows."""
        import pyarrow.compute as pc

        if self.schema is None:  # no data file
            return pa.table({})
        names = columns if columns is not None else self.schema.names
        cols = names if self.key in names else [*names, self.key]
        hit = (self.select(keys, ranges) if len(keys) or ranges
               else np.zeros(len(self.known), bool))
        tbl = self._groups(hit, cols)
        if not tbl.num_rows:
            return tbl.select(names)
        col = tbl.column(self.key)
        mask = (pc.is_in(col, value_set=pa.array(keys, col.type))
                if len(keys) else None)
        for lo, hi in ranges:
            m = pc.greater_equal(col, pa.scalar(lo, col.type))
            if hi is not None:
                m = pc.and_(m, pc.less(col, pa.scalar(hi, col.type)))
            mask = m if mask is None else pc.or_(mask, m)
        return tbl.filter(mask).select(names)

    def seek(self, keys: list, columns: list[str]) -> tuple[pa.Table, np.ndarray]:
        """Per key, the first row whose key is >= it, in a table sorted by
        its key (the lexicon): (rows of the groups read, each key's row
        index in them, -1 past the last row). The first such row lies in
        the first group whose max is >= the key, so only those groups are
        decoded (all of them when some group lacks statistics)."""
        ks = np.asarray(keys, self.mins.dtype)
        if self.known.all():
            g = np.searchsorted(self.maxs, ks, "left")
            hit = np.zeros(len(self.known), bool)
            hit[g[g < len(hit)]] = True
        else:
            hit = np.ones(len(self.known), bool)
        if self.schema is None:
            return pa.table({c: [] for c in columns}), np.full(len(ks), -1)
        import bisect

        tbl = self._groups(hit, columns)
        col = tbl.column(self.key).combine_chunks()
        # bisect on the Arrow column: a few scalar probes per key, where
        # converting the groups to Python objects would cost every row
        probe = _ArrowProbe(col)
        pos = [bisect.bisect_left(probe, k) for k in ks.tolist()]
        return tbl, np.array([p if p < len(col) else -1 for p in pos])


class _ArrowProbe:
    """A sorted Arrow array as a sequence of Python values, for bisect."""

    def __init__(self, arr: pa.Array):
        self.arr = arr

    def __len__(self) -> int:
        return len(self.arr)

    def __getitem__(self, i: int):
        return self.arr[i].as_py()


class _Generation:
    """One generation of an index — the base (``base/<base_id>/``) or a
    delta (``deltas/<segment>/``, build.py). Its files never change once
    meta.json lists it, so its row-group directories, its lexicon seeks
    and (``hold``) a small delta's decoded row groups live as long as
    the generation stays in the layout: an append reads only the new
    delta's footers."""

    def __init__(self, root: str, key: tuple, hold: bool = False):
        self.root = root
        self.key = key
        self.hold = hold
        self._dirs: dict[str, _RowGroupDirectory] = {}
        #: term → (lower bound, term_id or None, df): the number of this
        #: generation's terms sorting before it, and its own entry
        self._seeks: dict[str, tuple[int, int | None, float]] = {}

    def directory(self, table: str) -> _RowGroupDirectory:
        d = self._dirs.get(table)
        if d is None:
            d = self._dirs[table] = _RowGroupDirectory(
                os.path.join(self.root, table), _TABLE_KEYS[table], self.hold)
        return d

    def seek(self, terms: list[str]) -> list[tuple[int, int | None, float]]:
        """Per term, (how many of this generation's terms sort before it,
        its term_id or None, its df or 0). Dense term ids are term ranks,
        so the first term >= t has term_id = that count."""
        missing = sorted({t for t in terms if t not in self._seeks})
        if missing:
            d = self.directory("lexicon")
            tbl, pos = d.seek(missing, ["term", "term_id", "df"])
            term, tid, df = (tbl.column(c) for c in ("term", "term_id", "df"))
            for t, i in zip(missing, pos.tolist()):
                if i < 0:
                    self._seeks[t] = (d.n_rows, None, 0.0)
                    continue
                at = tid[i].as_py()
                hit = term[i].as_py() == t
                self._seeks[t] = (at, at if hit else None,
                                  float(df[i].as_py()) if hit else 0.0)
        return [self._seeks[t] for t in terms]


def _postings_pred(tids, ranges):
    """Catalyst predicate selecting postings: IN over ``tids`` + BETWEEN
    per inclusive (lo, hi) span — both push down to the parquet scan
    (term_id-sorted files → row-group pruning; the Iceberg deployment
    prunes bucket(term_id) partitions the same way)."""
    cond = F.col("term_id").isin([int(t) for t in tids]) if tids else None
    for lo, hi in ranges:
        rc = F.col("term_id").between(int(lo), int(hi))
        cond = rc if cond is None else (cond | rc)
    return cond if cond is not None else F.lit(False)


def _bounded_levenshtein(a: str, b: str, bound: int) -> int | None:
    """Edit distance if ≤ bound else None (banded DP, early exit)."""
    if abs(len(a) - len(b)) > bound:
        return None
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        row_min = i
        for j, cb in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (ca != cb))
            row_min = min(row_min, cur[j])
        if row_min > bound:
            return None
        prev = cur
    return prev[-1] if prev[-1] <= bound else None


class FulltextIndex:
    """Query handle for an index built by build.build_index."""

    #: max cached query results per handle (grn_cache default is 100)
    RESULT_CACHE_MAX = 256

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.store = IndexStore(path)
        self.meta = self.store.read_meta()
        self._postings_df: DataFrame | None = None
        self._gens: list[_Generation] = []
        self._load_generations()
        from collections import OrderedDict

        self._result_cache: OrderedDict[tuple, DataFrame] = OrderedDict()
        self._empty_frame: DataFrame | None = None
        self._generation = self._cache_generation()

    def _check_generation(self) -> tuple:
        """Detect index mutation by ANOTHER handle/process (append, rebuild,
        compaction, delete) and drop every per-handle cache — not just the
        result cache. Without this, a result-cache miss after mutation
        would recompute against a STALE lexicon / postings plan / avgdl
        and return wrong answers, not merely uncached ones."""
        gen = self._cache_generation()
        if gen != self._generation:
            self._postings_df = None
            self._tombstones = None
            self._tombstone_est = None
            self._result_cache.clear()
            self.meta = self.store.read_meta()
            self._load_generations()
            self._generation = gen
        return gen

    def _load_generations(self) -> None:
        """The generations meta.json lists — the base, then each delta —
        keeping the ones this handle already holds (their files are
        unchanged: a base lives in the directory named by the base_id
        every full finalize draws). Drops the plan-id maps, which span
        every generation."""
        held = {g.key: g for g in self._gens}
        base = self.meta.get("base_id")
        roots = [(self.store.base(meta=self.meta), ("", base), False)] + [
            (self.store.p("deltas", str(d["segment"])), (d["segment"], base),
             d["bytes_compressed"] <= DELTA_HOLD_BYTES)
            for d in self.meta.get("deltas", [])
        ]
        self._gens = [held.get(k) or _Generation(r, k, h)
                      for r, k, h in roots]
        #: plan term id → (summed df, [(generation, its term_id)])
        self._pid_gens: dict[int, tuple[int, list]] = {}
        #: plan (lo, hi) of a prefix → per generation (first term_id of
        #: its run, plan ids of the run, summed dfs of the run), from
        #: _expand_ast until _plan moves it into the query's plan (None
        #: from the Spark route, which plans only a lone generation)
        self._range_gens: dict[tuple[int, int], list | None] = {}

    @property
    def postings(self) -> DataFrame:
        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(
                os.path.join(self._gens[0].root, "postings"))
        return self._postings_df

    @property
    def lexicon(self) -> DataFrame:
        """The lexicon (term, term_id, df, cf); with deltas, (term, df,
        cf) summed over the generations — a merged view has no term ids."""
        if len(self._gens) == 1:
            return self.spark.read.parquet(
                os.path.join(self._gens[0].root, "lexicon"))
        return self._gen_tables("lexicon").groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf"))

    @property
    def doc_map(self) -> DataFrame:
        return self._gen_tables("doc_map")

    def _gen_tables(self, table: str) -> DataFrame:
        return self.spark.read.parquet(
            *[os.path.join(g.root, table) for g in self._gens])

    def _table_rows(self, table: str, columns: list[str] | None,
                    keys=(), ranges=(), gen: _Generation | None = None
                    ) -> pa.Table:
        """The one driver read of ``postings`` or ``lexicon`` rows, of one
        generation (the base by default): the rows whose key (term_id /
        term) is in ``keys`` or in a half-open [lo, hi) of ``ranges``,
        decoding only the row groups that can hold them, through the
        generation's row-group directory."""
        g = gen or self._gens[0]
        return g.directory(table).read(columns, keys, ranges)

    # ---------------------------------------------------------------------
    #
    # Plan term ids. A term's plan id is the SUM over generations of how
    # many of that generation's terms sort before it: strictly increasing
    # in term order (a term counts itself in at least one generation), so
    # a prefix's terms still form one id span and the kernel adds scores
    # in the order a rebuild's dense ids give. With one generation it is
    # the term id itself (dense ids are term ranks). Each generation's
    # blocks are fetched by its own ids and relabeled with the plan id and
    # the df summed over generations (``_gen_reads``, ``_relabel``), so
    # the kernel sees the frame a full rebuild would give it.

    def _lexicon_lookup(self, tokens: list[str]) -> list[tuple[str, int, int]]:
        """Driver-side term → (plan term id, df) lookup — the PAT-trie
        seek [G: lib/pat.c · grn_pat_get] without a Spark job: each
        generation's lexicon row-group directory picks the groups whose
        term min/max can hold a token, and only those are decoded (a
        q-term query reads at most q small groups per generation). The
        seeks are memoized per generation, which lives as long as its
        files."""
        seeks = [g.seek(tokens) for g in self._gens]
        out = []
        for i, t in enumerate(tokens):
            found = [(gi, s[i][1]) for gi, s in enumerate(seeks)
                     if s[i][1] is not None]
            if found:
                pid = sum(s[i][0] for s in seeks)
                df = sum(int(s[i][2]) for s in seeks)
                self._pid_gens[pid] = (df, found)
                out.append((t, pid, float(df)))
        return out

    #: Lexicon size above which prefix planning runs as ONE pruned Spark
    #: aggregation / scan instead of the driver's generation loop: on a
    #: 10^8–10^9-term lexicon a hot prefix can match millions of rows,
    #: and the driver must never materialize them (the contract of
    #: _prefix_tid_range is literally two ints + two scalars). Below it,
    #: the driver reads each generation's run without scheduling a Spark
    #: job (search-head latency). Class attr so tests/deployments can
    #: tune. Only a lone generation takes the Spark route: an index with
    #: deltas plans prefixes on the driver whatever this says, since its
    #: appends compact instead of taking the summed lexicon sizes past
    #: the build's bound of the same name.
    PREFIX_DRIVER_SCAN_MAX = PREFIX_DRIVER_SCAN_MAX

    #: Similar (*S) keeps only this many of the input's rarest (lowest
    #: df) known tokens — the reference's rare-term selection [G:
    #: lib/ii.c · grn_ii_similar_search], and the bound that keeps a
    #: whole-document *S input from planning hundreds of posting
    #: fetches.
    SIMILAR_MAX_TERMS = 30

    def _prefix_terms(self, prefix: str, limit: int | None = None) -> list[str]:
        """Lexicon range scan for a prefix — the PAT-trie predictive
        cursor [G: lib/pat.c · GRN_CURSOR_PREFIX]. Exact: [p, succ(p))
        where succ increments the last codepoint (codepoint order ==
        UTF-8 byte order), with a startswith post-check for the
        no-successor edge. Unbounded by default; an explicit ``limit``
        that truncates warns. Past PREFIX_DRIVER_SCAN_MAX terms the scan
        runs on the executors (StringStartsWith pushes to parquet /
        Iceberg) and only MATCHED terms transfer — with a limit, only
        limit+1 of them."""
        self._check_generation()
        if terms_upper_bound(self.meta) > self.PREFIX_DRIVER_SCAN_MAX:
            df = self.lexicon.select("term").filter(
                F.col("term").startswith(prefix)
            )
            if limit is not None:
                rows = df.orderBy("term").limit(limit + 1).collect()
            else:
                rows = df.collect()
            terms = sorted(r["term"] for r in rows)
        else:
            terms = self._prefix_terms_pyarrow(prefix)
        if limit is not None and len(terms) > limit:
            import warnings

            warnings.warn(
                f"prefix '{prefix}*' matches more than {limit} terms; "
                f"truncated to first {limit}"
            )
            terms = terms[:limit]
        return terms

    def _prefix_terms_pyarrow(self, prefix: str) -> list[str]:
        terms = self._lexicon_terms((prefix, _prefix_upper_bound(prefix)))
        return sorted(t for t in terms if t.startswith(prefix))

    def _lexicon_terms(self, rng: tuple) -> set[str]:
        """Every generation's lexicon terms in the half-open range."""
        out: set[str] = set()
        for g in self._gens:
            out.update(self._table_rows("lexicon", ["term"], ranges=[rng],
                                        gen=g).column("term").to_pylist())
        return out

    def _prefix_tid_range(self, prefix: str) -> tuple[int, int, int, float] | None:
        """(lo, hi, n_terms, sum_df) of every lexicon term with
        ``prefix``, in plan term ids; None when no term matches. Plan ids
        rise with the term, so the match set is the id span [lo, hi]
        (exactly its n ids with one generation: dense ids are term
        ranks). A prefix with no finite successor (all U+10FFFF) is the
        open range [p, ∞): every term there starts with it.

        On the driver, each generation's matching run is read (term,
        term_id, df) and must hold contiguous term ids (``_check_run``);
        the union of the runs is ranked in Arrow, and each generation's
        relabeling is kept for ``_plan`` to hand to the fetch
        (``_gen_reads``). Past PREFIX_DRIVER_SCAN_MAX lexicon terms the
        span comes from ONE Spark ``min/max/count/sum`` aggregation with
        the range predicate pushed to the parquet/Iceberg scan — a hot
        prefix over a 10^8-term lexicon never fetches matched rows to
        the driver. Only a lone generation gets there: an append that
        would take the summed lexicon sizes past the build's bound of
        the same name compacts instead."""
        import pyarrow.compute as pc

        ub = _prefix_upper_bound(prefix)
        if (len(self._gens) == 1
                and self.meta.get("n_terms", 0) > self.PREFIX_DRIVER_SCAN_MAX):
            cond = F.col("term") >= prefix
            if ub is not None:
                cond = cond & (F.col("term") < ub)
            row = (
                self.lexicon
                .filter(cond)
                .agg(
                    F.min("term_id").alias("lo"),
                    F.max("term_id").alias("hi"),
                    F.count(F.lit(1)).alias("n"),
                    F.sum("df").alias("sum_df"),
                )
                .collect()[0]
            )
            if not row["n"]:
                return None
            lo, hi, n = int(row["lo"]), int(row["hi"]), int(row["n"])
            _check_run(prefix, lo, hi, n)
            self._range_gens[(lo, hi)] = None  # the identity map
            return lo, hi, n, float(row["sum_df"])
        runs = [self._table_rows("lexicon", ["term", "term_id", "df"],
                                 ranges=[(prefix, ub)], gen=g)
                for g in self._gens]
        sizes = [t.num_rows for t in runs]
        if not sum(sizes):
            return None
        firsts = []
        for g, t in zip(self._gens, runs):
            if t.num_rows:
                lo, hi = pc.min_max(t.column("term_id")).values()
                _check_run(prefix, lo.as_py(), hi.as_py(), t.num_rows)
                firsts.append(lo.as_py())
            else:  # how many of its terms sort before the prefix
                firsts.append(g.seek([prefix])[0][0])
        # rank the union: a term's plan id is the sum of the firsts plus
        # the number of run rows (of any generation) sorting before it
        union = pa.concat_tables(runs)
        order = pc.sort_indices(union, [("term", "ascending")])
        st = union.column("term").take(order)
        new = np.ones(len(st), bool)
        new[1:] = pc.not_equal(st[1:], st[:-1]).to_numpy()
        starts = np.flatnonzero(new)
        rank = np.cumsum(new) - 1
        pid = sum(firsts) + starts
        df = np.add.reduceat(union.column("df").take(order).to_numpy()
                             .astype(np.int64), starts)
        # a generation's rows come out of the sort in its term-id order
        src = np.repeat(np.arange(len(runs)), sizes)[order.to_numpy()]
        lo, hi = int(pid[0]), int(pid[-1])
        self._range_gens[(lo, hi)] = [
            (first, pid[rank[src == gi]], df[rank[src == gi]])
            for gi, first in enumerate(firsts)]
        return lo, hi, len(starts), float(df.sum())

    def fuzzy_terms(self, term: str, max_distance: int = 1,
                    prefix_length: int = 0,
                    max_expansions: int = 64) -> list[str]:
        """Lexicon terms within edit distance ≤ max_distance of ``term``
        [G: lib/proc.c · func fuzzy_search / grn_table_fuzzy_search],
        ranked (distance asc, term asc), capped at max_expansions.

        Small lexicons scan driver-side (pyarrow + a bounded DP, zero
        Spark jobs); big ones run one Catalyst job with
        ``levenshtein(term, q) <= d`` (+ the prefix range prune)."""
        self._check_generation()
        q = normalize_str(term)  # normalize_str already lowercases
        pfx = q[:prefix_length] if prefix_length else ""
        # with deltas the summed size may overcount and pick the Spark
        # scan where a rebuild's handle would scan on the driver
        if terms_upper_bound(self.meta) <= 100_000:
            # every term is >= "": no prefix reads the whole lexicon
            rng = (pfx, _prefix_upper_bound(pfx)) if pfx else ("", None)
            cands = [
                t for t in self._lexicon_terms(rng)
                if abs(len(t) - len(q)) <= max_distance
                and (not pfx or t.startswith(pfx))
            ]
            scored = [
                (d, t) for t in cands
                if (d := _bounded_levenshtein(t, q, max_distance)) is not None
            ]
        else:
            # NOTE Spark's levenshtein counts UTF-16 code units — for
            # astral-plane terms (outside the BMP) it can differ from the
            # small-lexicon path's codepoint distance by the surrogate
            # count; documented divergence at the size boundary.
            df = self.lexicon.select("term")
            if pfx:
                df = df.filter(F.col("term").startswith(pfx))
            rows = (
                df.withColumn("_d", F.levenshtein(F.col("term"), F.lit(q)))
                .filter(F.col("_d") <= max_distance)
                # +1: detect truncation so the warning below can fire
                .orderBy("_d", "term").limit(max_expansions + 1).collect()
            )
            scored = [(r["_d"], r["term"]) for r in rows]
        scored.sort()
        out = [t for _, t in scored[:max_expansions]]
        if len(scored) > max_expansions:
            import warnings

            warnings.warn(
                f"fuzzy_search({term!r}, {max_distance}) matched more "
                f"than {max_expansions} terms; truncated"
            )
        return out

    def fuzzy_match_docs(self, term: str, max_distance: int = 1,
                         prefix_length: int = 0) -> DataFrame:
        """Docs containing any lexicon term within edit distance ≤
        max_distance (scored like the equivalent OR)."""
        from groonga_spark.ql import Or, Term

        terms = self.fuzzy_terms(term, max_distance, prefix_length)
        if not terms:
            return result_frame(self)
        ast = Or([Term(t) for t in terms]) if len(terms) > 1 else Term(terms[0])
        return self.match_ast(ast)

    def prefix_rk_terms(self, romaji: str, limit: int | None = None) -> list[str]:
        """Lexicon terms whose katakana reading starts with the romaji
        prefix [G: lib/proc.c · func prefix_rk_search] — rk_expand gives
        the kana prefixes, each resolved with the pruned lexicon range
        scan (zero Spark jobs)."""
        from groonga_spark.rk import rk_expand

        out: set[str] = set()
        for p in rk_expand(romaji):
            if p:
                out.update(self._prefix_terms(p))
        terms = sorted(out)
        if limit is not None:
            terms = terms[:limit]
        return terms

    def prefix_rk_match_docs(self, romaji: str) -> DataFrame:
        """Docs containing any term matched by the romaji prefix."""
        from groonga_spark.ql import Or, Term

        terms = self.prefix_rk_terms(romaji)
        if not terms:
            return result_frame(self)
        ast = Or([Term(t) for t in terms]) if len(terms) > 1 else Term(terms[0])
        return self.match_ast(ast)

    def _expand_ast(self, ast, expansions: dict | None = None):
        """Plan-time AST rewrites: a QL prefix leaf (``word*``) becomes a
        TermRange over the CONTIGUOUS dense-id span of matching lexicon
        terms — the PAT-trie predictive cursor [G: lib/pat.c ·
        GRN_CURSOR_PREFIX → grn_ii_select EX_PREFIX ORs the matching
        tokens' posting lists]. The driver holds (lo, hi, n), never a
        leaf per term, so a hot prefix on a 10^8-term lexicon plans in
        O(1); matched lexicon terms hit via their OWN posting lists (no
        query-side re-tokenization — on ngram indexes this is the
        reference's semantics, not a phrase over the term's ngrams).
        ``expansions`` (query_expand [G: lib/expr.c ·
        grn_expr_syntax_expand_query]) maps a term to synonym
        alternatives OR-ed with it."""
        from groonga_spark.ql import (
            Or,
            Prefix,
            Similar,
            Term,
            TermRange,
            rewrite,
        )

        if ast is None:
            return None

        def fn(leaf):
            if isinstance(leaf, Similar) and leaf.tids is None:
                # rare-term selection [G: lib/ii.c · grn_ii_similar_search
                # sorts the input's tokens by df and keeps the rarest]:
                # rank the input's distinct KNOWN tokens by (df asc, term
                # asc — deterministic) and keep SIMILAR_MAX_TERMS. Bounds
                # the plan for a long input document AND matches the
                # reference's semantics; df comes from the memoized
                # pruned lexicon lookup (driver-cheap).
                mode = self.meta["tokenizer_mode"]
                toks = sorted({
                    term for term, _ in
                    tokenize_str(normalize_str(leaf.text), mode)
                })
                rows = self._lexicon_lookup(toks)  # known tokens only
                sel = sorted(rows, key=lambda r: (r[2], r[0]))
                sel = sel[: self.SIMILAR_MAX_TERMS]
                return Similar(leaf.text, tids=tuple(
                    sorted((int(t), float(d)) for _, t, d in sel)
                ))
            if isinstance(leaf, Prefix):
                pfx = normalize_str(leaf.text)
                rng = self._prefix_tid_range(pfx)
                if rng is None:
                    return Term("\x00<no-match>")  # impossible term → ∅
                return TermRange(pfx, rng[0], rng[1], rng[2], rng[3])
            if (expansions and isinstance(leaf, Term)
                    and leaf.text in expansions):
                alts = [leaf.text, *expansions[leaf.text]]
                return Or([Term(a) for a in alts])
            return leaf

        return rewrite(ast, fn)

    def _plan(self, ast) -> dict:
        """Driver-side planning: tokenize query texts with the INDEX's own
        tokenizer, look the tokens up in the lexicon (one pruned scan).
        TermRange leaves contribute only their (lo, hi) spans — the plan
        stays O(query terms) however many lexicon terms a range covers
        (per-term df rides the posting blocks, attached at finalize)."""
        from groonga_spark.ql import collect_ranges, collect_similar_tids

        mode = self.meta["tokenizer_mode"]
        texts = sorted(set(query_terms(ast)))
        tokens_by_text: dict[str, list] = {}
        all_tokens: set[str] = set()
        for t in texts:
            toks = [term for term, _ in tokenize_str(normalize_str(t), mode)]
            tokens_by_text[t] = toks
            all_tokens.update(toks)
        rows = self._lexicon_lookup(sorted(all_tokens))
        tid = {term: t_id for term, t_id, _ in rows}
        df_by_tid = {t_id: df for _, t_id, df in rows}
        # Similar leaves carry their rare-term-selected (tid, df) pairs
        # (resolved in _expand_ast) — their texts are NOT in query_terms,
        # so the postings predicate stays bounded by the selection
        needed = set(tid.values())
        for s_tid, s_df in collect_similar_tids(ast):
            needed.add(s_tid)
            df_by_tid.setdefault(s_tid, s_df)
        ranges = collect_ranges(ast)
        spans = sorted({(r.lo_tid, r.hi_tid) for r in ranges})
        plan = {
            "tokens_by_text": {
                t: [tid.get(tok) for tok in toks]
                for t, toks in tokens_by_text.items()
            },
            "df_by_tid": df_by_tid,
            "needed_tids": sorted(needed),
            "tid_ranges": spans,
            "ranges_sum_df": float(sum(r.sum_df for r in ranges)),
        }
        # each span's relabeling moves from the handle into the plan: the
        # handle keeps none of it past the query
        prefix = {(r.lo_tid, r.hi_tid): r.prefix for r in ranges}
        plan["range_gens"] = {}
        for span in spans:
            if span not in self._range_gens:  # planned twice
                self._prefix_tid_range(prefix[span])
            plan["range_gens"][span] = self._range_gens.pop(span)
        self._range_gens.clear()
        # Small tombstone sets ride the plan as a numpy mask (cheap,
        # broadcast once per query). Past TOMBSTONE_DRIVER_MAX the
        # driver must never materialize the set — the plan carries a
        # marker instead and the distributed path cogroups each shard
        # with its range's tombstones (executor-side masking).
        if self._tombstone_rows_estimate() <= self.TOMBSTONE_DRIVER_MAX:
            plan["tombstones"] = self.tombstones()
        else:
            plan["tombstones"] = None
            plan["tombstones_external"] = True
        return plan

    # beyond this many (estimated) posting bytes, queries run distributed;
    # under it, the driver reads the pruned blocks directly (search-head
    # pattern — same kernel, no job scheduling latency)
    DRIVER_QUERY_MAX_BYTES = 128 << 20

    def _stats(self, scorer: str | None = None) -> dict:
        st = {
            "n_docs": float(self.meta["n_docs"]),
            "avgdl": float(self.meta["avgdl"]),
            "k1": float(self.meta["k1"]),
            "b": float(self.meta["b"]),
        }
        if scorer and scorer != "bm25":
            from groonga_spark.score import get_scorer

            get_scorer(scorer)  # fail fast on the driver, by name
            st["scorer"] = scorer
        return st

    # -- deletes (tombstones) ---------------------------------------------
    #
    # The reference deletes in place [G: lib/proc.c · proc_delete →
    # grn_table_delete + index hooks]. Immutable segments instead take the
    # LSM route: deleted doc ids are tombstones, masked at posting-decode
    # time; corpus stats (N, avgdl, df) intentionally drift until a
    # rebuild compacts them — standard search-engine semantics.

    def delete_docs(self, doc_ids) -> None:
        """Tombstone doc ids (append-only metadata write).

        ``doc_ids`` is either a small driver-side iterable of ints OR a
        Spark DataFrame whose first column holds the ids — the DataFrame
        form writes the tombstone files FROM THE EXECUTORS (one
        distributed parquet write), so a delete matching 10^9 rows never
        materializes its id set on the driver."""
        import shutil
        import uuid

        d = self.store.p("tombstones")
        os.makedirs(d, exist_ok=True)
        if isinstance(doc_ids, DataFrame):
            # distributed write into a staging dir, then adopt the part
            # files under the t-*.parquet naming the reader/generation
            # logic expects (no _SUCCESS marker in the live dir)
            id_col = doc_ids.columns[0]
            stage = os.path.join(d, f".stage-{uuid.uuid4().hex}")
            (doc_ids.select(F.col(id_col).cast("long").alias("doc_id"))
                    .distinct()
                    .write.mode("overwrite").parquet(stage))
            import pyarrow.parquet as pq

            staged = [os.path.join(stage, fn)
                      for fn in sorted(os.listdir(stage))
                      if fn.endswith(".parquet")]
            staged_rows = sum(
                pq.ParquetFile(f).metadata.num_rows for f in staged
            )
            if staged_rows == 0:
                staged = []  # schema-only parts: nothing tombstoned
            if 0 < staged_rows <= self.TOMBSTONE_DRIVER_MAX:
                # distinct() shuffled to spark.sql.shuffle.partitions, so
                # a SMALL delete would otherwise adopt up to that many
                # near-empty files — repeated small deletes then inflate
                # every footer scan and dataset read. Under the same
                # threshold the driver mask path already tolerates,
                # compact the staged parts into ONE file (footer-sized
                # decision; ≤1M int64 ids ≈ 8 MB). Past the threshold the
                # part files are adopted as-is — the 10^9-row delete
                # never touches the driver.
                import pyarrow as pa
                import pyarrow.dataset as ds

                ids = ds.dataset(staged, format="parquet").to_table()
                final = os.path.join(d, f"t-{uuid.uuid4().hex}.parquet")
                pq.write_table(
                    pa.table({"doc_id": ids.column("doc_id")}),
                    final + ".tmp",
                )
                os.replace(final + ".tmp", final)
                n = 1
            elif staged:
                # adopt the WHOLE stage in one atomic rename: a per-file
                # move loop could crash midway and leave a partial delete
                # permanently applied with no marker or retry path, and
                # concurrent readers could observe a half-applied delete.
                # A directory rename is all-or-nothing; every reader
                # (pyarrow dataset, the recursive Spark read, the footer
                # estimate) recurses into t-* directories, and the
                # dot-prefixed stage dir is invisible until renamed.
                # (`elif staged`: a zero-row delete must NOT adopt its
                # schema-only parts as a junk live dir.)
                os.replace(stage, os.path.join(d, f"t-{uuid.uuid4().hex}"))
                n = len(staged)
            else:
                n = 0
            shutil.rmtree(stage, ignore_errors=True)
            if n == 0:  # empty result set: nothing tombstoned
                self._tombstones = None
                self._tombstone_est = None
                return
        else:
            import pyarrow as pa
            import pyarrow.parquet as pq

            table = pa.table({
                "doc_id": pa.array(sorted(set(int(x) for x in doc_ids)),
                                   type=pa.int64())
            })
            final = os.path.join(d, f"t-{uuid.uuid4().hex}.parquet")
            pq.write_table(table, final + ".tmp")
            os.replace(final + ".tmp", final)
        self._tombstones = None  # invalidate caches (mask + row estimate)
        self._tombstone_est = None

    def tombstones(self) -> np.ndarray:
        if getattr(self, "_tombstones", None) is None:
            d = self.store.p("tombstones")
            if not os.path.isdir(d):
                self._tombstones = np.empty(0, np.int64)
            else:
                import pyarrow.dataset as ds

                tbl = ds.dataset(d, format="parquet").to_table()
                self._tombstones = np.unique(
                    np.asarray(tbl.column("doc_id").to_pylist(), np.int64)
                )
        return self._tombstones

    #: beyond this many tombstoned ids the driver stops materializing the
    #: mask: queries route to the cluster, where each (segment, shard)
    #: group receives ONLY its doc-range's tombstones via a cogroup (the
    #: range assignment is a broadcast join against O(shards) ranges).
    #: Under it, the mask is a small numpy array inside the query plan.
    TOMBSTONE_DRIVER_MAX = 1_000_000

    def _tombstone_rows_estimate(self) -> int:
        """Upper bound on tombstoned ids from parquet FOOTERS only —
        O(files) metadata reads, never the data pages. Duplicates across
        files make this an overestimate, which only errs toward the
        (safe) executor-side path. Cached per handle (this runs on EVERY
        query plan) and invalidated exactly where the mask cache is:
        local deletes and generation changes."""
        est = getattr(self, "_tombstone_est", None)
        if est is not None:
            return est
        d = self.store.p("tombstones")
        if not os.path.isdir(d):
            self._tombstone_est = 0
            return 0
        import pyarrow.parquet as pq

        total = 0
        for root, dirs, files in os.walk(d):
            # in-flight staging dirs (dot-prefixed) are not yet adopted
            dirs[:] = [x for x in dirs if not x.startswith(".")]
            for fn in files:
                if fn.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(root, fn)
                    ).metadata.num_rows
        self._tombstone_est = total
        return total

    def _posting_bytes(self, plan: dict) -> float:
        """Estimated driver bytes to fetch and decode the postings of a
        plan's looked-up terms and TermRange spans in this index: bytes
        per stored posting × 2. The route (``run_query``) sums it over a
        query's fields and compares it to DRIVER_QUERY_MAX_BYTES."""
        sum_df = (sum(plan["df_by_tid"].get(t, 0.0)
                      for t in plan["needed_tids"])
                  + plan.get("ranges_sum_df", 0.0))
        meta = self.meta
        bpp = (
            meta["bytes_compressed"] / meta["postings_total"]
            if meta.get("postings_total")
            else 8.0
        )
        return sum_df * bpp * 2.0

    def _local_blocks(self, tids: list[int], plan: dict,
                      force: bool = True, base: int = 0):
        """The postings rows of ``tids`` and of the plan's TermRange spans
        on the driver, in plan term ids plus the field ``base``: each
        generation's rows (``_gen_reads``) go through its map
        (``_relabel``). Only the row groups whose term_id min/max can
        hold them are decoded (postings files are term_id-sorted); a span
        selects groups as a range, never as an IN list. The route has
        already chosen the driver (``run_query``); ``force`` is accepted
        for callers that fetch outside it, and the read is the same."""
        reads = self._gen_reads(tids, plan, base)
        if not reads:
            return self._table_rows("postings", None).to_pandas()
        tbls = [self._table_rows("postings", None, keys, ranges, gen=g)
                for g, keys, ranges, _m in reads]
        src = np.repeat(np.arange(len(tbls)), [t.num_rows for t in tbls])
        return _relabel(pa.concat_tables(tbls).to_pandas(), src,
                        [m for *_r, m in reads])

    def _gen_reads(self, tids: list[int], plan: dict,
                   base: int = 0) -> list[tuple]:
        """Per generation holding any of the plan's terms: (generation,
        its term ids to read, its [lo, hi) term-id runs to read, its map
        for ``_relabel``: generation term id → plan id + field ``base``,
        with the summed df). A term id appears once in a map however many
        of the plan's terms and spans cover it, so each block is read and
        relabeled once. A lone generation's plan ids are its term ids:
        it reads the plan's ids and spans as they are, and its map is the
        identity — so a plan with no per-generation runs (a hand-built
        ``{"tid_ranges": ...}``) reads a one-generation index too."""
        spans = plan.get("tid_ranges") or []
        if len(self._gens) == 1:
            return [(self._gens[0], list(tids),
                     [(lo, hi + 1) for lo, hi in spans], (base, None))]
        runs = [plan["range_gens"][r] for r in spans]
        out = []
        for gi, g in enumerate(self._gens):
            keys, src, pid, df = [], [], [], []
            for t in tids:
                t_df, found = self._pid_gens[t]
                for gj, tid in found:
                    if gj == gi:
                        keys.append(tid)
                        src.append([tid])
                        pid.append([t])
                        df.append([t_df])
            ranges = []
            for run in runs:
                first, r_pid, r_df = run[gi]
                if len(r_pid):
                    ranges.append((first, first + len(r_pid)))
                    src.append(np.arange(first, first + len(r_pid)))
                    pid.append(r_pid)
                    df.append(r_df)
            if src:
                src, o = np.unique(np.concatenate(src).astype(np.int64),
                                   return_index=True)
                out.append((g, keys, ranges, (base, (
                    src, np.concatenate(pid).astype(np.int64)[o],
                    np.concatenate(df).astype(np.int64)[o]))))
        return out

    def _cluster_postings(self, reads: list) -> DataFrame:
        """The cluster route's postings of ``reads`` (``_gen_reads`` of
        any fields and generations): each generation's scan pushes its
        own term-id predicate down, and its rows carry ``_src``, the
        read's position, for the per-shard UDF to apply that read's map
        (``_relabel``)."""
        blocks = None
        for i, (g, keys, ranges, _m) in enumerate(reads):
            b = (self.spark.read.parquet(os.path.join(g.root, "postings"))
                 .filter(_postings_pred(keys, [(a, z - 1) for a, z in ranges]))
                 .withColumn("_src", F.lit(i)))
            blocks = b if blocks is None else blocks.unionByName(b)
        return blocks

    # -- query result cache -------------------------------------------------
    #
    # The reference caches whole select outputs keyed by the request and
    # clears the cache on table update [G: lib/cache.c · grn_cache_fetch /
    # grn_cache_expire]. Here: an LRU of driver-route TOP-K result frames
    # per handle — the (doc_id, score) DataFrame built on the miss, handed
    # back as is on every hit, so a hit builds no frame and re-collects a
    # plan Spark has already analyzed. Frames are local relations, never
    # persisted. Keyed by the query plus the index generation (meta
    # mtime + tombstone file count — two stat calls), so deletes and
    # compaction invalidate naturally; a generation change also drops the
    # old entries so they stop pinning JVM plans. match_docs results are
    # unbounded and never cached.

    def _cache_generation(self) -> tuple:
        gen_meta = os.path.getmtime(self.store.meta_path)
        d = self.store.p("tombstones")
        # count only LIVE entries: an in-flight `.stage-*` dir must not
        # pre-count — a handle that computed its generation during the
        # staging window would otherwise see the SAME count after the
        # t-<uuid> adoption rename and keep serving deleted docs from
        # its result cache
        n_tomb = (len([e for e in os.listdir(d) if not e.startswith(".")])
                  if os.path.isdir(d) else 0)
        return (gen_meta, n_tomb)

    def _result_cache_get(self, key: tuple) -> DataFrame | None:
        got = self._result_cache.get(key)
        if got is not None:
            self._result_cache.move_to_end(key)
        return got

    def _result_cache_put(self, key: tuple, frame: DataFrame) -> None:
        self._result_cache[key] = frame
        self._result_cache.move_to_end(key)
        while len(self._result_cache) > self.RESULT_CACHE_MAX:
            self._result_cache.popitem(last=False)

    def search(self, query: str, k: int = 10,
               expansions: dict | None = None,
               use_cache: bool = True,
               scorer: str | None = None) -> DataFrame:
        """Top-k for a Groonga-QL query → DataFrame(doc_id, score),
        ordered by (score desc, doc_id asc).

        The route (driver or cluster) is ``run_query``'s. ``expansions`` =
        synonym map (query_expand). Driver-route results are served from
        the per-handle result cache unless ``use_cache=False``
        (invalidated by deletes/compaction). ``scorer`` picks a
        registered scorer (score.register_scorer — the reference's
        pluggable scorers [G: lib/scorer.c]); default BM25."""
        gen = self._check_generation()
        cache_key = None
        if use_cache:
            exp_key = (tuple(sorted((t, tuple(v)) for t, v in
                                    expansions.items()))
                       if expansions else None)
            cache_key = (query, k, exp_key, gen, scorer)
            hit = self._result_cache_get(cache_key)
            if hit is not None:
                return hit
        ast = self._expand_ast(parse_query(query), expansions)
        plan = self._plan(ast)
        out = run_query([(self, plan, 0)], ast, plan, self._stats(scorer), k)
        if isinstance(out, DataFrame):
            return out
        frame = result_frame(self, *out)
        if cache_key is not None:
            self._result_cache_put(cache_key, frame)
        return frame

    def _per_shard_eval(self, ast, plan: dict, stats: dict, k: int,
                        topk: bool, parts: list) -> DataFrame:
        """The cluster leg of ``run_query``: fan the kernel out per
        (segment, shard) over the pruned postings of every generation of
        ``parts``' fields — each (index, its plan, term-id base) of the
        query's fields (``_cluster_postings``); the UDF relabels each
        group's rows into the pooled frame's term ids from the broadcast
        maps (``_relabel``). Shards are doc-disjoint and the fields of
        one layout share their shard geometry, so one group holds every
        field's blocks for its doc range and the kernel is exact per
        group; parallelism = live shards, not segments.

        A field whose plan marks its tombstones external (set too big
        for the driver) has them COGROUPED with each shard: its
        tombstone table is range-assigned to shards via a broadcast join
        against the O(shards) range frame and tagged with the field, so
        the full set is never materialized on the driver nor shipped
        whole to any executor."""
        spark = self.spark
        reads = [r for fidx, p, base in parts
                 if p["needed_tids"] or p["tid_ranges"]
                 for r in fidx._gen_reads(p["needed_tids"], p, base)]
        bplan = spark.sparkContext.broadcast(plan)
        ast_b = spark.sparkContext.broadcast(ast)
        maps_b = spark.sparkContext.broadcast([m for *_r, m in reads])
        blocks = self._cluster_postings(reads).withColumn(
            "shard", F.shiftright("block_id", 24))

        external = [(fi, fidx) for fi, (fidx, p, _b) in enumerate(parts)
                    if p.get("tombstones_external")]
        if not external:
            def _run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
                kernel = SegmentQueryKernel(
                    _relabel(pdf.drop(columns="_src"), pdf["_src"].to_numpy(),
                             maps_b.value), bplan.value, stats, k)
                doc, score = (kernel.run(ast_b.value) if topk
                              else kernel.eval(ast_b.value))
                return pd.DataFrame({"doc_id": doc, "score": score})

            return blocks.groupBy("segment", "shard").applyInPandas(
                _run, schema=RESULT_SCHEMA
            )

        # recursiveFileLookup: big deletes are adopted as whole t-<uuid>
        # DIRECTORIES (atomic rename); Spark's listing skips the
        # dot/underscore-prefixed staging dirs and _SUCCESS markers
        tomb = None
        for fi, fidx in external:
            t = (spark.read.option("recursiveFileLookup", "true")
                      .parquet(fidx.store.p("tombstones"))
                      .select("doc_id", F.lit(fi).alias("field")))
            tomb = t if tomb is None else tomb.unionByName(t)
        # fresh column names break the shared lineage with `blocks`
        # (the cogroup below would otherwise trip Spark's ambiguous
        # self-join analysis — both sides descend from the same scan)
        ranges = blocks.groupBy("segment", "shard").agg(
            F.min("min_doc_id").alias("_lo"),
            F.max("max_doc_id").alias("_hi"),
        ).select(
            F.col("segment").alias("_seg"),
            F.col("shard").alias("_shd"),
            "_lo", "_hi",
        )
        assign = tomb.join(
            F.broadcast(ranges),
            (tomb["doc_id"] >= F.col("_lo"))
            & (tomb["doc_id"] <= F.col("_hi")),
        ).select(
            F.col("_seg").alias("segment"),
            F.col("_shd").alias("shard"),
            "doc_id", "field",
        )

        def _run_t(key, bpdf: pd.DataFrame,
                   tpdf: pd.DataFrame) -> pd.DataFrame:
            p = dict(bplan.value)
            fields = list(p.get("fields")
                          or [(0, stats, p.get("tombstones"))])
            for fi, g in tpdf.groupby("field"):
                base, st, _t = fields[int(fi)]
                fields[int(fi)] = (base, st,
                                   np.unique(g["doc_id"].to_numpy(np.int64)))
            p["fields"] = fields
            kernel = SegmentQueryKernel(
                _relabel(bpdf.drop(columns="_src"), bpdf["_src"].to_numpy(),
                         maps_b.value), p, stats, k)
            doc, score = (kernel.run(ast_b.value) if topk
                          else kernel.eval(ast_b.value))
            return pd.DataFrame({"doc_id": doc, "score": score})

        return blocks.groupBy("segment", "shard").cogroup(
            assign.groupBy("segment", "shard")
        ).applyInPandas(_run_t, schema=RESULT_SCHEMA)

    def match_docs(self, query: str,
                   expansions: dict | None = None,
                   scorer: str | None = None) -> DataFrame:
        """All matching doc ids (no top-k) — the COUNT/filter path."""
        self._check_generation()  # before _expand_ast reads the lexicon
        ast = self._expand_ast(parse_query(query), expansions)
        return self.match_ast(ast, scorer=scorer)

    def match_ast(self, ast, scorer: str | None = None) -> DataFrame:
        """match_docs over a pre-expanded AST (select's match escalation
        and other composers enter here)."""
        self._check_generation()
        plan = self._plan(ast)
        out = run_query([(self, plan, 0)], ast, plan, self._stats(scorer),
                      None)
        if isinstance(out, DataFrame):
            return out
        return result_frame(self, *out)
