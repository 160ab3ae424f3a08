"""The two workloads. Each is a closed loop with one client: the next op
is sent only after the previous reply has been collected.

Both name the op class behind each end-to-end metric (the ``read``,
``cached_or_fresh`` and ``prefix_or_write`` keys they return), so every
run reports every end-to-end metric:

* ``read_cpu_p50_ms``, ``read_cpu_p75_ms``: uncached non-prefix reads
  that find docs, on both;
* ``cached_or_fresh_read_cpu_p50_ms``: result-cache hits on ``query``,
  the first read after a write on ``ingest``;
* ``prefix_or_write_cpu_p50_ms``: prefix reads on ``query``, one
  ``append_docs`` batch on ``ingest``;
* ``empty_read_cpu_p50_ms``: reads that find no doc, on both.

Per-op records name the op class: ``read``, ``prefix``, ``cached``,
``empty``, ``write``, ``delete``, ``fresh``, and, in the traced select
probe, ``select`` and ``select_dd``.

The traffic mix (one op in four a result-cache hit, rounds of two of
each plain shape, four prefixes and one empty read, 18 searches per
append on ``ingest``) is an assumption: the repository has no query log
to take it from. Each end-to-end metric is a percentile of one op class,
so none of them depends on the mix.
"""

from __future__ import annotations

import math
import os

import numpy as np

import gen
from oracle import Bm25Oracle, match_mask

K = 10

# -- sizes ------------------------------------------------------------------
# A run measures a fixed number of ops, set by --seconds through a nominal
# rate, so the same arguments always measure the same ops, however fast
# the host runs them.
QUERY_DOCS = 10_000
QUERY_OPS_PER_S = 15     # nominal: --seconds 10 measures 150 ops
QUERY_HOT = 32           # repeated queries, served from the result cache
HOT_EVERY = 4            # every 4th measured op repeats a hot query
# distinct queries per round: prefix costs vary most from query to query,
# so they get twice the share of a plain shape; an empty read costs as
# much wall time as six others, so it gets half
QUERY_ROUND = {"term": 2, "and2": 2, "or2": 2, "not": 2, "phrase": 2,
               "prefix": 4, "empty": 1}

INGEST_BASE_DOCS = 5_000
INGEST_BATCH = 500
INGEST_DELETES = 20
# per cycle, after the two fresh reads: 3 cycles give 42 plain reads, so
# read_cpu_p75_ms has at least 10 samples beyond it
INGEST_PLAIN_READS = 14
INGEST_EMPTY_READS = 2   # per cycle, among the plain ones
INGEST_CYCLE_S = 4.0     # nominal: --seconds 10 measures 3 cycles
READ_SHAPES = ("term", "and2", "or2", "not", "phrase")

SELECT_PROBE_OPS = 6     # traced runs of `query` only
SELECT_SORTS = ["-_score,doc_id", "-n_chars,doc_id", "doc_id",
                "lang,-n_chars"]
SELECT_FILTERS = ["n_chars > {t}", 'lang == "{lang}"',
                  'n_chars < {t} && source == "{src}"',
                  'lang == "{lang}" || n_chars > {t}']


def query_ops(seconds: float) -> int:
    # at least one full round of distinct queries, so every class is there
    return max(2 * sum(QUERY_ROUND.values()),
               round(seconds * QUERY_OPS_PER_S))


def ingest_cycles(seconds: float) -> int:
    return max(2, math.ceil(seconds / INGEST_CYCLE_S))


def kind_of(q) -> str:
    """The op class a distinct query's timing goes to."""
    return q.shape if q.shape in ("prefix", "empty") else "read"


def _search(b, idx, q: str, k: int = K):
    """One search: the handle call, then collecting the rows (the second
    half of the result frame)."""
    df = idx.search(q, k=k)
    with b.tracer.span("session.collect"):
        return df.collect()


# ---------------------------------------------------------------------------
# query
# ---------------------------------------------------------------------------

def prepare_query(seed: int, work: str, seconds: float) -> dict:
    import pandas as pd

    cdf, vocab = gen.zipf_cdf(), gen.make_vocab(seed)
    corpus = gen.make_corpus(seed, "query", 0, QUERY_DOCS, cdf)
    path = os.path.join(work, "corpus.parquet")
    props = gen.write_corpus(corpus, vocab, path)
    qm = gen.QueryMaker(seed, "query", vocab, corpus, cdf)
    warm = qm.interleave(dict.fromkeys(gen.SHAPES, 1), 1)
    hot = qm.interleave(dict.fromkeys(READ_SHAPES, 1),
                        -(-QUERY_HOT // len(READ_SHAPES)))[:QUERY_HOT]
    n_ops = query_ops(seconds)
    n_distinct = n_ops - n_ops // HOT_EVERY
    distinct = qm.interleave(QUERY_ROUND, -(-n_distinct // sum(
        QUERY_ROUND.values())))[:n_distinct]
    # every HOT_EVERY-th op repeats a hot query, the hot set cycled in a
    # seeded order; the others are distinct
    hot_order = [hot[i] for i in gen._rng(seed, "query:hot").permutation(
        len(hot))]
    ops, dist = [], iter(distinct)
    for i in range(n_ops):
        if i % HOT_EVERY == HOT_EVERY - 1:
            ops.append(("cached", hot_order[(i // HOT_EVERY) % len(hot)]))
        else:
            q = next(dist)
            ops.append((kind_of(q), q))
    sel = qm.interleave({"term": 1, "and2": 1}, SELECT_PROBE_OPS)
    gen.write_queries(warm + hot + [q for _, q in ops] + sel,
                      os.path.join(work, "queries.jsonl"))
    prefixes = [q.prefix_terms for q in distinct if q.shape == "prefix"]
    props.update({
        "ops": n_ops, "queries_hot": len(hot), "hot_share": 1 / HOT_EVERY,
        "ops_by_class": {k: sum(1 for kk, _ in ops if kk == k)
                         for k in ("read", "prefix", "empty", "cached")},
        "prefix_terms_min": min(prefixes), "prefix_terms_max": max(prefixes),
        "prefix_terms_median": float(np.median(prefixes)),
    })
    attrs = pd.read_parquet(path, columns=["lang", "source", "n_chars"])
    return {"corpus": corpus, "vocab": vocab, "paths": [path],
            "props": props, "warm": warm + hot, "ops": ops,
            "hot_prefix": qm.hot_prefix(), "attrs": attrs,
            "select_ops": select_ops(seed, sel[:SELECT_PROBE_OPS + 1])}


def run_query(b, inp: dict) -> dict:
    idx = b.setup(inp["paths"], inp["props"]["text_bytes"])
    for q in inp["warm"]:
        _search(b, idx, q.text)
    results = []
    b.start_loop()
    for i, (kind, q) in enumerate(inp["ops"]):
        traced = b.traced_op(i, HOT_EVERY)  # hot ops get traced too
        with b.tracer.op(kind, traced), b.timed(kind, traced):
            try:
                rows = _search(b, idx, q.text)
                got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
                err = ""
            except Exception as e:  # noqa: BLE001 - an op failure is data
                got, err = None, f"{q.text!r}: {type(e).__name__}: {e}"
        results.append((q, got, err))
        b.between_ops()
    b.end_loop()
    # the correctness gate runs after the loop, so the oracle's memory
    # is never in a PSS sample
    oracle = Bm25Oracle(inp["corpus"], inp["vocab"])
    for q, got, err in results:
        b.check(err or oracle.check_topk(q, got, K))
    if b.tracer_installed:
        select_probe(b, inp, idx)
    return {"read": "read", "cached_or_fresh": "cached",
            "prefix_or_write": "prefix", "index": idx,
            "hot_prefix": inp["hot_prefix"]}


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def marker(cycle: int) -> str:
    """A token no vocabulary word can be (the vocabulary has no digits)."""
    return f"zzmark{cycle:04d}"


def prepare_ingest(seed: int, work: str, seconds: float) -> dict:
    cdf, vocab = gen.zipf_cdf(), gen.make_vocab(seed)
    base = gen.make_corpus(seed, "ingest", 0, INGEST_BASE_DOCS, cdf)
    paths = [os.path.join(work, "base.parquet")]
    props = gen.write_corpus(base, vocab, paths[0])
    cycles = ingest_cycles(seconds)
    batches, batch_bytes, later = [], [], []
    for c in range(cycles):
        bt = gen.make_corpus(seed, f"ingest-batch{c}", INGEST_BASE_DOCS
                             + c * INGEST_BATCH, INGEST_BATCH, cdf)
        bt.extra = {int(d): marker(c) for d in bt.doc_ids}
        p = os.path.join(work, f"batch{c:04d}.parquet")
        batch_bytes.append(gen.write_corpus(bt, vocab, p)["text_bytes"])
        batches.append((p, bt.doc_ids))
        later.append(bt)
    qm = gen.QueryMaker(seed, "ingest", vocab, base, cdf, later)
    # per cycle: two fresh reads, then the plain and empty reads in a
    # seeded order; the last cycle's reads warm up
    rng = gen._rng(seed, "ingest:order")
    n_plain = (cycles + 1) * (INGEST_PLAIN_READS + 2)
    plain = iter(qm.interleave(dict.fromkeys(READ_SHAPES, 1),
                               -(-n_plain // len(READ_SHAPES))))
    empty = iter(qm.make("empty", (cycles + 1) * INGEST_EMPTY_READS))
    reads = []
    for _ in range(cycles + 1):
        rest = [("read", next(plain)) for _ in range(INGEST_PLAIN_READS)] \
            + [("empty", next(empty)) for _ in range(INGEST_EMPTY_READS)]
        reads.append([("fresh", next(plain)), ("fresh", next(plain))]
                     + [rest[i] for i in rng.permutation(len(rest))])
    deletes = []
    live = np.arange(INGEST_BASE_DOCS, dtype=np.int64)
    for _, ids in batches:
        old = rng.choice(live, INGEST_DELETES * 3 // 4, replace=False)
        new = rng.choice(ids, INGEST_DELETES - len(old), replace=False)
        deletes.append(np.sort(np.concatenate([old, new])))
        live = np.setdiff1d(np.concatenate([live, ids]), deletes[-1])
    gen.write_queries([q for cyc in reads for _, q in cyc],
                      os.path.join(work, "queries.jsonl"))
    props.update({"cycles": cycles, "batch_docs": INGEST_BATCH,
                  "deletes_per_cycle": INGEST_DELETES,
                  "reads_per_cycle": 2 + INGEST_PLAIN_READS
                  + INGEST_EMPTY_READS,
                  "batch_text_bytes_mean": float(np.mean(batch_bytes))})
    return {"corpus": base, "vocab": vocab, "paths": paths, "props": props,
            "batches": batches, "batch_bytes": batch_bytes,
            "reads": reads, "deletes": deletes,
            "hot_prefix": qm.hot_prefix()}


def run_ingest(b, inp: dict) -> dict:
    from groonga_spark.streaming import append_docs

    idx = b.setup(inp["paths"], inp["props"]["text_bytes"])
    spark = b.spark
    *reads, warm = inp["reads"]
    for _, q in warm:
        _search(b, idx, q.text)
    deleted: set[int] = set()
    files = list(inp["paths"])
    b.start_loop()
    for cycle, (path, new_ids) in enumerate(inp["batches"]):
        traced = b.traced_op(cycle)  # whole cycles alternate
        (_, fresh1), (_, fresh2), *rest = reads[cycle]
        files.append(path)
        all_docs = spark.read.parquet(*files)
        with b.tracer.op("write", traced):
            before = b.file_sizes() if traced else None
            jobs0 = b.job_count() if traced else 0
            with b.timed("write", traced):
                try:
                    append_docs(spark, all_docs, b.index_path)
                    err = ""
                except Exception as e:  # noqa: BLE001
                    err = f"append {cycle}: {type(e).__name__}: {e}"
            if traced:
                b.note_build(jobs0, before, len(new_ids),
                             inp["batch_bytes"][cycle])
        b.check(err)
        b.final_text_bytes += inp["batch_bytes"][cycle]
        b.between_ops()
        _ingest_read(b, idx, fresh1, "fresh", traced, deleted)
        dels = inp["deletes"][cycle]
        with b.tracer.op("delete", traced), b.timed("delete", traced):
            try:
                idx.delete_docs([int(d) for d in dels])
                err = ""
            except Exception as e:  # noqa: BLE001
                err = f"delete {cycle}: {type(e).__name__}: {e}"
        b.check(err)
        deleted.update(int(d) for d in dels)
        b.between_ops()
        _ingest_read(b, idx, fresh2, "fresh", traced, deleted)
        for kind, q in rest:
            _ingest_read(b, idx, q, kind, traced, deleted)
        b.pause_loop()
        b.check(_check_marker(idx, cycle, new_ids, deleted), standalone=True)
        b.resume_loop()
    b.end_loop()
    return {"read": "read", "cached_or_fresh": "fresh",
            "prefix_or_write": "write", "index": idx,
            "hot_prefix": inp["hot_prefix"]}


def _ingest_read(b, idx, q, kind: str, traced: bool, deleted: set) -> None:
    with b.tracer.op(kind, traced), b.timed(kind, traced):
        try:
            rows = _search(b, idx, q.text)
            bad = deleted.intersection(int(x["doc_id"]) for x in rows)
            err = f"{q.text!r} returned deleted ids {sorted(bad)}" \
                if bad else ""
            if kind == "empty" and rows and not err:
                err = f"{q.text!r}: {len(rows)} rows, expected none"
        except Exception as e:  # noqa: BLE001
            err = f"{q.text!r}: {type(e).__name__}: {e}"
    b.check(err)
    b.between_ops()


def _check_marker(idx, cycle, new_ids, deleted) -> str:
    """The batch's marker term finds exactly the batch's live docs."""
    want = {int(d) for d in new_ids} - deleted
    try:
        rows = idx.search(marker(cycle), k=len(new_ids) + 10).collect()
    except Exception as e:  # noqa: BLE001
        return f"marker {cycle}: {type(e).__name__}: {e}"
    got = {int(r["doc_id"]) for r in rows}
    if got != want:
        return (f"marker {cycle}: {len(got - want)} unexpected, "
                f"{len(want - got)} missing docs")
    return ""


# ---------------------------------------------------------------------------
# select probe (traced runs of `query`): the commands / select layers
# ---------------------------------------------------------------------------

def select_ops(seed: int, queries) -> list[dict]:
    """``execute("select")`` arguments; queries alternate plain and
    ``drilldown=lang``."""
    rng = gen._rng(seed, "select:ops")
    ops = []
    for i, q in enumerate(queries):
        flt = SELECT_FILTERS[i % len(SELECT_FILTERS)].format(
            lang=rng.choice(gen.LANGS, p=gen.LANG_P),
            src=rng.choice(gen.SOURCES), t=int(rng.integers(150, 900)))
        ops.append({"query": q, "filter": flt,
                    "sort_keys": SELECT_SORTS[int(rng.integers(0, 4))],
                    "limit": int(rng.choice([5, 10, 20])),
                    "drilldown": i % 2 == 1})
    return ops


def select_probe(b, inp: dict, idx) -> None:
    from groonga_spark.commands import CommandContext, execute

    ctx = CommandContext(b.spark)
    ctx.register("Docs", b.spark.read.parquet(*inp["paths"]), index=idx)

    def call(op):
        kw = {"table": "Docs", "query": op["query"].text,
              "filter": op["filter"], "sort_keys": op["sort_keys"],
              "limit": op["limit"]}
        if op["drilldown"]:
            kw["drilldown"] = "lang"
        return execute(ctx, "select", **kw)

    first, *ops = inp["select_ops"]
    call(first)  # warm-up
    for op in ops:
        kind = "select_dd" if op["drilldown"] else "select"
        with b.tracer.op(kind, True):
            jobs0 = b.job_count()
            with b.timed(kind, True, loop=False):
                try:
                    with b.tracer.span("commands.execute"):
                        body = call(op)
                except Exception as e:  # noqa: BLE001
                    body, err = None, f"select: {type(e).__name__}: {e}"
            if body is not None:
                err = check_select(inp["attrs"], inp["corpus"], op, body)
            b.tracer.count("commands.spark_jobs", b.job_count() - jobs0)
        b.check(err)


def check_select(attrs, corpus, op, body) -> str:
    """``n_hits`` equals a pandas count; drilldown groups equal pandas
    value counts."""
    # the Groonga script filters used here are pandas expressions once
    # && and || are spelled & and |
    expr = op["filter"].replace("&&", "&").replace("||", "|")
    m = match_mask(corpus, op["query"]) & attrs.eval(expr).to_numpy()
    want = int(m.sum())
    got = body[0][0][0]
    if got != want:
        return f"select {op['query'].text!r} {op['filter']!r}: " \
               f"n_hits {got}, pandas count {want}"
    if len(body[0]) - 2 != min(op["limit"], want):
        return f"select {op['query'].text!r}: {len(body[0]) - 2} rows"
    if op["drilldown"]:
        counts = attrs.lang[m].value_counts().to_dict()
        got_dd = {r[0]: r[1] for r in body[1][2:]}
        if got_dd != counts:
            return f"select {op['query'].text!r}: drilldown {got_dd} " \
                   f"!= pandas {counts}"
    return ""
