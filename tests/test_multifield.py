"""Weighted multi-field match (match_columns / BM25F) vs a brute-force
python oracle: leaf-level cross-field OR semantics, per-field BM25 with
own stats, column weights — and the one query route (search.run_query)
every multi-field shape takes: pruned top-k ≡ the kernel's exhaustive
eval bit for bit, driver ≡ cluster, no Spark job under the driver cap."""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from groonga_spark.multifield import (
    MultiFieldIndex,
    build_multifield_index,
    parse_match_columns,
)
from groonga_spark.normalize import normalize_str
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
from oracle import OracleIndex


class MultiFieldOracle:
    """Per-field OracleIndex; leaf = Σ_f w_f·leaf_f; same AND/OR/NOT
    combinators as the engine. A prefix leaf is the OR of the field's
    terms with that prefix, in term order. ``dead`` doc ids (tombstones)
    drop from every result while corpus stats stay as built."""

    def __init__(self, rows, fields, mode="delimit", dead=()):
        # rows: list of (doc_id, {field: text})
        self.oracles = {
            f: OracleIndex([(d, vals.get(f, "")) for d, vals in rows], mode)
            for f in fields
        }
        self.dead = set(dead)

    def _field_leaf(self, o, node):
        if isinstance(node, Prefix):
            pfx = normalize_str(node.text)
            acc = defaultdict(float)
            for t in sorted(x for x in o.postings if x.startswith(pfx)):
                for d, s in o.score_term(t).items():
                    acc[d] += s
            return dict(acc)
        return o.eval(node)

    def _leaf(self, node, cols):
        acc = defaultdict(float)
        for name, w in cols:
            for d, s in self._field_leaf(self.oracles[name], node).items():
                if d not in self.dead:
                    acc[d] += w * s
        return dict(acc)

    def eval(self, node, cols):
        if node is None:
            return {}
        if isinstance(node, (Term, Phrase, Near, Similar, Prefix)):
            return self._leaf(node, cols)
        if isinstance(node, And):
            pos = [c for c in node.children if not isinstance(c, Not)]
            neg = [c.child for c in node.children if isinstance(c, Not)]
            acc = None
            for c in pos:
                r = self.eval(c, cols)
                acc = r if acc is None else {
                    d: acc[d] + r[d] for d in acc.keys() & r.keys()
                }
            acc = acc or {}
            for c in neg:
                bad = self.eval(c, cols).keys()
                acc = {d: s for d, s in acc.items() if d not in bad}
            return acc
        if isinstance(node, Or):
            acc = defaultdict(float)
            for c in node.children:
                for d, s in self.eval(c, cols).items():
                    acc[d] += s
            return dict(acc)
        if isinstance(node, Not):
            return {}
        raise TypeError(type(node))

    def search(self, query, match_columns, k=10):
        cols = parse_match_columns(match_columns)
        scores = self.eval(parse_query(query), cols)
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@pytest.fixture(scope="module")
def corpus(spark):
    import random

    rng = random.Random(13)
    vocab = ["spark", "merge", "table", "scan", "stream", "window",
             "fast", "slow", "index", "query", "vector", "join"]
    rows = []
    for d in range(400):
        title = " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 5)))
        body = " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 40)))
        if d % 17 == 0:
            body = ""  # empty-field docs keep dl=0 stats honest
        rows.append((d, {"title": title, "body": body}))
    df = spark.createDataFrame(
        [(d, v["title"], v["body"]) for d, v in rows],
        "doc_id long, title string, body string",
    )
    return rows, df


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    rows, df = corpus
    path = str(tmp_path_factory.mktemp("mf") / "mf_idx")
    build_multifield_index(spark, df, path, ["title", "body"],
                           mode="delimit", segment_size=100)
    return MultiFieldIndex(spark, path)


@pytest.fixture(scope="module")
def oracle(corpus):
    rows, _ = corpus
    return MultiFieldOracle(rows, ["title", "body"])


def test_parse_match_columns():
    assert parse_match_columns("title * 10 || body") == [
        ("title", 10.0), ("body", 1.0)]
    assert parse_match_columns("body") == [("body", 1.0)]


@pytest.mark.parametrize("q", [
    "spark",
    "spark merge",          # cross-field AND: title-spark + body-merge docs
    "spark OR stream",
    "spark -slow",
    '"spark fast"',
])
@pytest.mark.parametrize("mc", ["title*10||body", "title||body", "title"])
def test_multifield_rank_identity(q, mc, built, oracle):
    got = [(r["doc_id"], r["score"])
           for r in built.search(q, match_columns=mc, k=10).collect()]
    want = oracle.search(q, mc, 10)
    assert [d for d, _ in got] == [d for d, _ in want], (q, mc, got, want)
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-6, (q, mc)


def test_cross_field_and_semantics(built, oracle, corpus):
    """A doc with 'spark' only in title and 'merge' only in body MUST
    match 'spark merge' over title||body (the reference expansion)."""
    rows, _ = corpus
    only_cross = [
        d for d, v in rows
        if "spark" in v["title"].split() and "spark" not in v["body"].split()
        and "merge" in v["body"].split() and "merge" not in v["title"].split()
    ]
    if not only_cross:
        pytest.skip("fixture produced no cross-field doc")
    got = {r["doc_id"] for r in
           built.match_docs("spark merge", "title||body").collect()}
    assert set(only_cross) <= got


def test_select_with_match_columns(spark, built, corpus):
    from groonga_spark.select import select

    rows, df = corpus
    with select(df, index=built, query="spark merge",
                match_columns="title*10||body",
                sort_keys="-_score,doc_id", limit=5,
                output_columns=["doc_id", "_score"]) as res:
        hits = res.hits.collect()
    assert res.n_hits == len(
        built.match_docs("spark merge", "title*10||body").collect())
    assert len(hits) == min(5, res.n_hits)


def test_multifield_near_and_prefix_leaves(built, oracle, corpus):
    """Near/prefix leaves evaluate per field and OR across fields."""
    rows, _ = corpus
    got = {r["doc_id"] for r in
           built.match_docs('*N4"spark merge"', "title||body").collect()}
    # oracle: near within one field, any field
    import re

    def near_in(text, a, b, n):
        w = text.split()
        pa = [i for i, x in enumerate(w) if x == a]
        pb = [i for i, x in enumerate(w) if x == b]
        return any(abs(i - j) <= n for i in pa for j in pb)

    want = {d for d, v in rows
            if near_in(v["title"], "spark", "merge", 4)
            or near_in(v["body"], "spark", "merge", 4)}
    assert got == want
    # prefix leaf
    gp = {r["doc_id"] for r in
          built.match_docs("sp*", "title||body").collect()}
    wp = {d for d, v in rows
          if any(t.startswith("sp")
                 for t in (v["title"] + " " + v["body"]).split())}
    assert gp == wp and gp


def _kernel_paths(mf, q, mc, k=10):
    """The driver route's kernel on (q, mc), over one block frame: run
    (pruned top-k, the pruner forced on whatever the index size),
    _topk(eval) (exhaustive), and whether the pruner took the shape
    (None when no field's lexicon holds a query term)."""
    from groonga_spark.search import _driver_blocks
    from groonga_spark.wand import SegmentQueryKernel, _topk

    scoped, parts, plan = mf._scope(parse_query(q), mf._cols(mc))
    if scoped is None or not any(p["needed_tids"] or p["tid_ranges"]
                                 for _f, p, _b in parts):
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        return empty, empty, None  # no field knows a term: nothing runs
    pdf = _driver_blocks(parts)

    def kernel():
        kern = SegmentQueryKernel(pdf, plan, plan["fields"][0][1], k)
        kern.PRUNE_MIN_BLOCKS = 0
        return kern

    pruned = kernel()._pruned_multi(scoped) is not None
    return kernel().run(scoped), _topk(*kernel().eval(scoped), k), pruned


def _pairs(res) -> list:
    """(doc, score) arrays or a result DataFrame → [(doc_id, score)]."""
    if isinstance(res, DataFrame):
        return [(r["doc_id"], r["score"]) for r in res.collect()]
    return list(zip(res[0].tolist(), res[1].tolist()))


@pytest.mark.parametrize("q,mc", [
    ("spark", "title*10||body"),
    ("spark merge", "title*10||body"),
    ("spark merge table", "title||body"),
    ("spark OR stream OR slow", "title*3||body"),
    ("spark -slow", "title*10||body"),
    ("spark merge -slow -window", "title||body"),
    ("spark", "title"),
])
def test_multifield_pruned_topk_bit_identity(q, mc, built):
    """The interval-pruned BM25F top-k must equal the kernel's
    exhaustive eval BIT-for-bit (same float sequences), ties and all —
    the pruner must take these shapes, and search() must return exactly
    that top-k."""
    run, exhaustive, pruned = _kernel_paths(built, q, mc)
    assert pruned, (q, mc)
    assert _pairs(run) == _pairs(exhaustive), (q, mc)
    assert _pairs(built.search(q, match_columns=mc, k=10)) == \
        _pairs(exhaustive), (q, mc)


def test_multifield_pruned_ineligible_shapes(built):
    """Shapes the pruner cannot add in the exhaustive float order — a
    weighted multi-token leaf (w·(a + b) is not w·a + w·b in floats),
    an OR of scoped leaves under an AND — run the kernel's eval + top-k
    inside the same route; unit-weight phrases and nears prune. Either
    way search() answers exactly."""
    for q, mc, want_pruned in [
        ('"spark fast"', "title*10||body", False),
        ('*N3"spark merge"', "title*10||body", False),
        ("(spark OR merge) table", "title||body", False),
        ('"spark fast"', "title||body", True),
        ('*N3"spark merge"', "title||body", True),
    ]:
        run, exhaustive, pruned = _kernel_paths(built, q, mc)
        assert pruned == want_pruned, (q, mc)
        assert _pairs(run) == _pairs(exhaustive), (q, mc)
        assert _pairs(built.search(q, match_columns=mc, k=10)) == \
            _pairs(exhaustive), (q, mc)


@pytest.mark.parametrize("q,mc", [
    ("spark merge", "title*10||body"),
    ("spark -slow", "title||body"),
    ("spark OR stream", "title*3||body"),
])
def test_multifield_pruned_distributed_matches_local(q, mc, built,
                                                     monkeypatch):
    """The cluster route (per-(segment, shard) kernels over the union of
    the fields' postings + global top-k merge) must equal the driver
    route exactly — shards partition doc space, so per-shard scores are
    the global scores restricted to the range. The cluster route is
    forced on a fresh handle by a zero driver cap."""
    from groonga_spark.search import FulltextIndex

    local = built._run(parse_query(q), mc, 10)
    assert isinstance(local, tuple) and len(local[0])
    monkeypatch.setattr(FulltextIndex, "DRIVER_QUERY_MAX_BYTES", 0)
    dist = MultiFieldIndex(built.spark, built.path)._run(
        parse_query(q), mc, 10)
    assert isinstance(dist, DataFrame)
    assert _pairs(dist) == _pairs(local), (q, mc)


def test_multifield_pruned_fuzz(built):
    """Fuzz: random flat Term AND/OR/NOT shapes × random column specs —
    the pruned BM25F kernel must take every one and match the kernel's
    exhaustive eval bit-for-bit every time."""
    import random

    rng = random.Random(23)
    vocab = ["spark", "merge", "table", "scan", "stream", "window",
             "fast", "slow", "index", "query", "vector", "join",
             "zzznope"]
    specs = ["title*10||body", "title||body", "title*3||body",
             "body", "title", "body*2||title"]
    checked = 0
    for _ in range(40):
        n = rng.randrange(1, 4)
        parts = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.5 and n > 1:
            q = " OR ".join(parts)
        else:
            q = " ".join(parts)
            if rng.random() < 0.4:
                q += f" -{rng.choice(vocab)}"
        mc = rng.choice(specs)
        run, exh, pruned = _kernel_paths(built, q, mc)
        assert pruned is not False, (q, mc)
        assert _pairs(run) == _pairs(exh), (q, mc)
        checked += 1
    assert checked == 40


def _route_fuzz_cases(seed: int, per_shape: int) -> list[tuple[str, str]]:
    """(query, match_columns) cases covering every shape that used to
    leave the pruned BM25F path: prefix, phrase, near, *S, an OR under
    an AND, prefix AND-NOT, multi-token leaves mixed with terms."""
    import random

    rng = random.Random(seed)
    vocab = ["spark", "merge", "table", "scan", "stream", "window",
             "fast", "slow", "index", "query", "vector", "join",
             "zzznope"]
    pfx = ["s", "sp", "st", "m", "w", "in", "q", "zz", "t"]
    specs = ["title*10||body", "title||body", "title*3||body", "body",
             "title", "body*2||title", "title*0.7||body*1.3"]

    def w():
        return rng.choice(vocab)

    def p():
        return rng.choice(pfx)

    shapes = [
        lambda: f"{p()}*",
        lambda: f'"{w()} {w()}"',
        lambda: f'*N{rng.randrange(1, 6)}"{w()} {w()}"',
        lambda: f'*S"{w()} {w()} {w()}"',
        lambda: f"({w()} OR {w()}) {w()}",
        lambda: f"{p()}* -{w()}",
        lambda: f'{w()} "{w()} {w()}"',
        lambda: f'"{w()} {w()}" OR {p()}*',
        lambda: f"({p()}* OR {w()}) -{w()}",
        lambda: f'*N3"{w()} {w()}" {w()} -{w()}',
        lambda: f"{w()} {w()} OR {w()}",
    ]
    return [(shape(), rng.choice(specs))
            for _ in range(per_shape) for shape in shapes]


def _check_route(spark, path, cases, cols_oracle, monkeypatch, spark_jobs,
                 dead=()):
    """Every case on the driver route (top-k ≡ _topk(eval) bit for bit,
    no Spark job for search or match_docs, results within 1e-9 of the
    oracle), then on the cluster route forced on a fresh handle by a
    zero DRIVER_QUERY_MAX_BYTES and, separately, a zero
    TOMBSTONE_DRIVER_MAX (cluster only when something is tombstoned):
    bit-identical to the driver route."""
    from groonga_spark.search import FulltextIndex

    mf = MultiFieldIndex(spark, path)
    want = {}
    n_pruned = 0
    for q, mc in cases:
        run, exh, pruned = _kernel_paths(mf, q, mc)
        n_pruned += bool(pruned)
        assert _pairs(run) == _pairs(exh), (q, mc)
        top, match = [], []
        assert spark_jobs(lambda: top.extend(
            mf.search(q, match_columns=mc, k=10).collect())) == [], (q, mc)
        assert spark_jobs(lambda: match.extend(
            mf.match_docs(q, match_columns=mc).collect())) == [], (q, mc)
        top = [(r["doc_id"], r["score"]) for r in top]
        match = sorted((r["doc_id"], r["score"]) for r in match)
        assert top == _pairs(exh), (q, mc)
        o = cols_oracle.eval(parse_query(q), parse_match_columns(mc))
        assert [d for d, _ in match] == sorted(o), (q, mc)
        for d, s in match:
            assert abs(s - o[d]) <= 1e-9, (q, mc, d)
        ranked = sorted(o.items(), key=lambda kv: (-kv[1], kv[0]))
        assert len(top) == min(10, len(ranked)), (q, mc)
        if top:
            kth = top[-1][1]
            assert {d for d, s in ranked if s > kth + 1e-9} <= \
                {d for d, _ in top}, (q, mc)
        want[(q, mc)] = (top, match)
    assert n_pruned, "no case took the pruner"

    for attr in ("DRIVER_QUERY_MAX_BYTES", "TOMBSTONE_DRIVER_MAX"):
        with monkeypatch.context() as m:
            m.setattr(FulltextIndex, attr, 0)
            fresh = MultiFieldIndex(spark, path)
            cluster = attr == "DRIVER_QUERY_MAX_BYTES" or bool(dead)
            for q, mc in cases:
                top, match = want[(q, mc)]
                out = fresh._run(parse_query(q), mc, 10)
                if match:
                    assert isinstance(out, DataFrame) == cluster, (q, mc, attr)
                assert _pairs(out) == top, (q, mc, attr)
                got = sorted(_pairs(fresh.match_docs(q, match_columns=mc)))
                assert got == match, (q, mc, attr)


def test_multifield_route_fuzz_all_shapes(spark, corpus, tmp_path,
                                          monkeypatch, spark_jobs):
    """Prefix, phrase, near, *S, (a OR b) c, p* -x and multi-token
    leaves over a two-field index, with and without tombstones: one
    route, one kernel, driver ≡ cluster ≡ oracle."""
    import shutil

    rows, df = corpus
    path = str(tmp_path / "mf_fuzz")
    build_multifield_index(spark, df, path, ["title", "body"],
                           mode="delimit", segment_size=100)
    tomb_path = str(tmp_path / "mf_fuzz_tomb")
    shutil.copytree(path, tomb_path)
    dead = [d for d, _ in rows if d % 7 == 3]
    MultiFieldIndex(spark, tomb_path).delete_docs(dead)
    cases = _route_fuzz_cases(31, 2)
    _check_route(spark, path, cases, MultiFieldOracle(rows, ["title", "body"]),
                 monkeypatch, spark_jobs)
    _check_route(spark, tomb_path, cases,
                 MultiFieldOracle(rows, ["title", "body"], dead=dead),
                 monkeypatch, spark_jobs, dead=dead)


def test_multifield_route_fuzz_bigram(spark, corpus, tmp_path, monkeypatch,
                                      spark_jobs):
    """The same checks on a bigram index, where every word of the fuzz
    vocabulary is a multi-token leaf (positional adjacency per field)."""
    rows, df = corpus
    path = str(tmp_path / "mf_fuzz_bigram")
    build_multifield_index(spark, df, path, ["title", "body"],
                           mode="bigram", segment_size=100)
    cases = [("spark", "title*10||body"), ("spark merge", "title||body"),
             ("table OR scan", "title*3||body"), ("sp*", "title||body"),
             ('"fast slow"', "body*2||title"), ("index -query", "title"),
             ("(spark OR merge) table", "title*10||body")]
    _check_route(spark, path, cases,
                 MultiFieldOracle(rows, ["title", "body"], mode="bigram"),
                 monkeypatch, spark_jobs)


def test_multifield_search_routes_distributed(built, monkeypatch):
    """When posting volume exceeds the driver cap, search() routes to the
    per-shard cluster kernel and still returns the exact pruned answer."""
    from groonga_spark.search import FulltextIndex

    want = [(r["doc_id"], r["score"]) for r in
            built.search("spark merge", match_columns="title*10||body",
                         k=10).collect()]
    monkeypatch.setattr(FulltextIndex, "DRIVER_QUERY_MAX_BYTES", 1)
    got = [(r["doc_id"], r["score"]) for r in
           built.search("spark merge", match_columns="title*10||body",
                        k=10).collect()]
    assert got == want


def test_append_multifield(spark, tmp_path):
    """Incremental multifield maintenance: append new docs → per-field
    segment appends; an OPEN handle sees the new docs (generation check)
    and results equal a from-scratch rebuild bit-for-bit."""
    from groonga_spark.multifield import append_multifield

    rows0 = [(i, f"alpha w{i % 5}", f"beta alpha z{i % 3}")
             for i in range(120)]
    df0 = spark.createDataFrame(rows0, "doc_id long, title string, body string")
    path = str(tmp_path / "mf_app")
    build_multifield_index(spark, df0, path, ["title", "body"],
                           mode="delimit", segment_size=64)
    handle = MultiFieldIndex(spark, path)
    before = {r["doc_id"] for r in
              handle.match_docs("alpha", match_columns="title||body")
              .collect()}
    assert before == set(range(120))

    rows1 = rows0 + [(i, f"gamma w{i % 5}", f"alpha delta z{i % 3}")
                     for i in range(120, 160)]
    df1 = spark.createDataFrame(rows1, "doc_id long, title string, body string")
    append_multifield(spark, df1, path)

    got = [(r["doc_id"], r["score"]) for r in
           handle.search("alpha", match_columns="title*2||body", k=200)
           .collect()]
    fresh_path = str(tmp_path / "mf_fresh")
    build_multifield_index(spark, df1, fresh_path, ["title", "body"],
                           mode="delimit", segment_size=64)
    want = [(r["doc_id"], r["score"]) for r in
            MultiFieldIndex(spark, fresh_path)
            .search("alpha", match_columns="title*2||body", k=200)
            .collect()]
    assert got == want
    assert {d for d, _ in got} == set(range(160))


def test_multifield_aggregate_driver_cap(built, monkeypatch):
    """DRIVER_QUERY_MAX_BYTES must gate the SUM of all fields' posting
    volume, not each field individually — N fields each just under the
    cap would otherwise load N× the cap onto the driver."""
    from groonga_spark.search import FulltextIndex

    ast = parse_query("spark merge")
    _scoped, parts, _plan = built._scope(ast, built._cols("title||body"))
    per_field = []
    for fidx, p, _base in parts:
        m = fidx.meta
        bpp = (m["bytes_compressed"] / m["postings_total"]
               if m.get("postings_total") else 8.0)
        sdf = sum(p["df_by_tid"][t] for t in p["needed_tids"])
        assert fidx._posting_bytes(p) == sdf * bpp * 2.0
        per_field.append(sdf * bpp * 2.0)
    agg = sum(per_field)
    assert max(per_field) < agg
    # a cap every field passes individually but the aggregate exceeds
    monkeypatch.setattr(FulltextIndex, "DRIVER_QUERY_MAX_BYTES",
                        (max(per_field) + agg) / 2)
    assert isinstance(built._run(ast, "title||body", 10), DataFrame)
    monkeypatch.setattr(FulltextIndex, "DRIVER_QUERY_MAX_BYTES", agg)
    assert isinstance(built._run(ast, "title||body", 10), tuple)


def test_multifield_escalation_per_field(spark, built, corpus, oracle):
    """Escalation over a 2-field index: the prefix relaxes against the
    UNION of the queried fields' lexicons and re-matches under the same
    match_columns weights."""
    from groonga_spark.ql import Or, Term
    from groonga_spark.select import select

    rows, df = corpus
    # "que" matches nothing exactly; escalation expands it to que* terms
    # from the title+body lexicons ("query")
    exp = built._prefix_terms("que", limit=8,
                              match_columns="title*10||body")
    assert "query" in exp
    with select(df, index=built, query="que",
                match_columns="title*10||body",
                match_escalation_threshold=0,
                sort_keys="-_score,doc_id", limit=10,
                output_columns=["doc_id", "_score"]) as res:
        got = [(r["doc_id"], r["_score"]) for r in res.hits.collect()]
    want = sorted(
        oracle.eval(Or([Term(t) for t in exp]) if len(exp) > 1
                    else Term(exp[0]),
                    parse_match_columns("title*10||body")).items(),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-9)


def test_multifield_adjuster_match_columns(spark, built, corpus, oracle,
                                          tmp_path):
    """3-tuple adjuster entries run the boost under their OWN column
    spec (the reference's per-column ``col @ "kw" * n`` element)."""
    from groonga_spark.ql import Term
    from groonga_spark.select import select

    rows, df = corpus
    mc = "title||body"
    with select(df, index=built, query="spark", match_columns=mc,
                adjuster=[("merge", 3.0, "title")],
                sort_keys="-_score,doc_id", limit=10,
                output_columns=["doc_id", "_score"]) as res:
        got = {r["doc_id"]: r["_score"] for r in res.hits.collect()}
    base = oracle.eval(Term("spark"), parse_match_columns(mc))
    boost = oracle.eval(Term("merge"), parse_match_columns("title"))
    want = {d: s + 3.0 * boost.get(d, 0.0) for d, s in base.items()}
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert list(got) == [d for d, _ in top]
    for d, s in top:
        assert got[d] == pytest.approx(s, abs=1e-9)
    # a 3-tuple against a single-field index is a hard error
    from groonga_spark.build import build_index
    from groonga_spark.search import FulltextIndex

    sf_path = str(tmp_path / "adj1f")
    build_index(spark, df.select("doc_id", F.col("body").alias("text")),
                sf_path, mode="delimit")
    single = FulltextIndex(spark, sf_path)
    with pytest.raises(ValueError, match="multi-field"):
        select(df, index=single, query="spark",
               adjuster=[("merge", 2.0, "title")], limit=5)


def test_pruned_ineligible_past_tombstone_cap(spark, tmp_path, monkeypatch):
    """Past TOMBSTONE_DRIVER_MAX the driver must never materialize the
    tombstone set on the MULTIFIELD route either: the query goes to the
    cluster, where each shard is cogrouped with its range of every
    field's tombstones (tagged with the field) and masks them
    executor-side — same answers as the driver-masked route."""
    from groonga_spark.search import FulltextIndex

    df = spark.createDataFrame(
        [(d, "spark merge" if d % 2 else "table scan",
          "stream window " * (1 + d % 3)) for d in range(60)],
        "doc_id long, title string, body string",
    )
    path = str(tmp_path / "mf_tomb")
    build_multifield_index(spark, df, path, ["title", "body"],
                           mode="delimit", segment_size=30)
    mf = MultiFieldIndex(spark, path)
    doomed = [d for d in range(60) if d % 6 == 1]
    mf.delete_docs(doomed)

    want = {(r["doc_id"], round(r["score"], 9))
            for r in mf.search("spark stream", "title*2||body", k=10)
            .collect()}
    assert want and not ({d for d, _ in want} & set(doomed))
    want_all = sorted(_pairs(mf.match_docs("spark OR stream",
                                           "title*2||body")))

    monkeypatch.setattr(FulltextIndex, "TOMBSTONE_DRIVER_MAX", 0)
    mf2 = MultiFieldIndex(spark, path)

    # PROVE the driver never materializes the set under the cap
    def boom(self):
        raise AssertionError("driver materialized the tombstone set")

    monkeypatch.setattr(FulltextIndex, "tombstones", boom)
    out = mf2._run(parse_query("spark stream"), "title*2||body", 10)
    assert isinstance(out, DataFrame)  # the cluster route
    got = {(d, round(s, 9)) for d, s in _pairs(out)}
    assert got == want
    assert sorted(_pairs(mf2.match_docs("spark OR stream",
                                        "title*2||body"))) == want_all


def _tiny_multifield(spark, path):
    rows = [(0, "alpha beta", "beta"), (1, "gamma", "delta gamma"),
            (2, "alpha", "beta beta")]
    df = spark.createDataFrame(rows, "doc_id long, title string, body string")
    build_multifield_index(spark, df, path, ["title", "body"],
                           mode="delimit", segment_size=64)
    return MultiFieldIndex(spark, path)


def test_multifield_driver_route_starts_no_spark_job(spark, tmp_path,
                                                     spark_jobs):
    """A driver-routed BM25F search starts no Spark job: with hits, with
    an AND of two known terms that share no doc, and with a term no
    field's lexicon holds."""
    mf = _tiny_multifield(spark, str(tmp_path / "mf_jobs"))
    for q, want in [("alpha", {0, 2}), ("alpha gamma", set()),
                    ("zzznope", set())]:
        got = []
        assert spark_jobs(lambda: got.extend(
            mf.search(q, match_columns="title*2||body").collect())) == [], q
        assert {r["doc_id"] for r in got} == want, q


def test_misaligned_field_geometry_refuses_to_open(spark, tmp_path):
    """One shard group must hold every field's blocks for its doc range,
    so a layout whose fields disagree on segment/shard geometry raises
    when the handle opens."""
    from groonga_spark.build import IndexStore

    path = str(tmp_path / "mf_geom")
    _tiny_multifield(spark, path)
    store = IndexStore(f"{path}/fields/body")
    meta = store.read_meta()
    meta["shard_size"] = meta["shard_size"] // 2
    store.write_meta(meta)
    with pytest.raises(ValueError, match="shard_size"):
        MultiFieldIndex(spark, path)


def test_grouped_map_udfs_declare_their_eval_type(spark, tmp_path,
                                                  monkeypatch, spark_jobs):
    """Every grouped-map UDF is annotated, so pyspark never warns that it
    cannot infer the eval type: the build's shard encoder, the
    single-field per-shard kernel and the BM25F per-shard kernel (both
    forced onto the cluster by a zero driver cap)."""
    import warnings

    from groonga_spark.search import FulltextIndex

    path = str(tmp_path / "mf_warn")
    got = []
    with warnings.catch_warnings():
        warnings.filterwarnings("error", message="Cannot infer the eval type",
                                category=UserWarning)
        mf = _tiny_multifield(spark, path)
        monkeypatch.setattr(FulltextIndex, "DRIVER_QUERY_MAX_BYTES", 0)
        single = FulltextIndex(spark, f"{path}/fields/title")
        assert spark_jobs(lambda: got.append(
            single.search("alpha").collect())) != []
        assert spark_jobs(lambda: got.append(
            mf.search("alpha beta", match_columns="title||body")
            .collect())) != []
    assert [{r["doc_id"] for r in rows} for rows in got] == [{0, 2}, {0, 2}]
