"""Rank-equality: distributed WAND/codec path == brute-force oracle
(SURVEY.md §5.2.1; BASELINE.md row 3) + merge determinism + resume."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest

from groonga_spark.build import IndexStore, build_index
from groonga_spark.search import FulltextIndex
from oracle import OracleIndex

QUERIES = os.path.join(os.path.dirname(__file__), "queries.jsonl")
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _queries():
    with open(QUERIES) as f:
        return [json.loads(line) for line in f if line.strip()]


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = docs.select("doc_id", "text").collect()
    return docs, [(r["doc_id"], r["text"]) for r in rows]


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx") / "documents_idx")
    docs, _ = corpus
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    return FulltextIndex(spark, path)


def _cluster_handle(spark, path):
    """A fresh handle whose driver cap sends every query to the cluster."""
    idx = FulltextIndex(spark, path)
    idx.DRIVER_QUERY_MAX_BYTES = 0
    return idx


@pytest.fixture(scope="module")
def oracle(corpus):
    _, rows = corpus
    return OracleIndex(rows, mode="delimit")


@pytest.mark.parametrize("case", _queries(), ids=lambda c: c["qid"])
def test_rank_identity(case, built, oracle):
    k = case["k"]
    got = [(r["doc_id"], r["score"]) for r in built.search(case["query"], k).collect()]
    want = oracle.search(case["query"], k)
    assert [d for d, _ in got] == [d for d, _ in want], (
        case["query"],
        got,
        want,
    )
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-6, (case["query"], gs, ws)


@pytest.mark.parametrize(
    "q", ["spark", "spark window", "spark OR stream", "table -scan"]
)
def test_match_counts(q, built, oracle):
    assert built.match_docs(q).count() == oracle.match_count(q)


def test_driver_route_starts_no_spark_job(spark, tmp_path, spark_jobs):
    """A driver-routed query starts no Spark job, whatever it returns:
    hits, an AND of two known terms that share no doc, and a term the
    lexicon lacks."""
    rows = [(0, "alpha beta"), (1, "gamma delta"), (2, "alpha alpha")]
    path = str(tmp_path / "idx_jobs")
    build_index(spark, spark.createDataFrame(rows, "doc_id long, text string"),
                path, mode="delimit", segment_size=200)
    idx = FulltextIndex(spark, path)
    for q, want in [("alpha", {0, 2}), ("alpha gamma", set()),
                    ("zzznope", set())]:
        got = []
        assert spark_jobs(lambda: got.append(
            idx.search(q, 10, use_cache=False).collect())) == [], q
        assert spark_jobs(lambda: got.append(
            idx.match_docs(q).collect())) == [], q
        assert [{r["doc_id"] for r in g} for g in got] == [want, want], q


@pytest.mark.parametrize("q", ["spark merge", '"spark fast"', "table -scan",
                               '*N3"spark merge"', "(table OR merge) -slow"])
def test_local_and_distributed_paths_identical(q, spark, built):
    """The driver-local search-head path and the per-(segment, shard)
    cluster path run the same kernel — results must be identical."""
    cluster = _cluster_handle(spark, built.store.path)
    loc = [(r["doc_id"], r["score"]) for r in
           built.search(q, 10).collect()]
    dist = [(r["doc_id"], r["score"]) for r in
            cluster.search(q, 10).collect()]
    assert loc == dist
    lc = {r["doc_id"] for r in built.match_docs(q).collect()}
    dc = {r["doc_id"] for r in cluster.match_docs(q).collect()}
    assert lc == dc


def test_bigram_index_with_cjk_and_phrases(spark, tmp_path):
    """End-to-end over the pages-shaped corpus: html extraction + bigram
    tokenization + phrase adjacency (the reference's ngram query mode)."""
    from gen_pages import gen_pages
    from groonga_spark.build import prepare_pages

    pages = gen_pages(400, seed=42)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    pdf = spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"]) for p in pages],
        schema,
    ).repartition(4)
    docs = prepare_pages(pdf)
    path = str(tmp_path / "pages_idx")
    build_index(spark, docs, path, mode="bigram", segment_size=150)
    idx = FulltextIndex(spark, path)

    # oracle over the SAME deduped docs (latest per url)
    rows = docs.select("doc_id", "text").collect()
    orc = OracleIndex([(r["doc_id"], r["text"]) for r in rows], mode="bigram")

    # pick live terms from the corpus: one zipf word + a CJK bigram phrase
    some_text = " ".join(t for _, t in [(r["doc_id"], r["text"]) for r in rows][:50])
    zipf_terms = [w for w in some_text.split() if w.startswith("w")][:3]
    queries = zipf_terms + ["日本語", '"処理 検索"', f"{zipf_terms[0]} OR {zipf_terms[1]}"]
    for q in queries:
        got = [(r["doc_id"], r["score"]) for r in idx.search(q, 10).collect()]
        want = orc.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], (q, got, want)
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-6


def test_blockmax_pruning_identical_and_effective(spark, corpus, tmp_path):
    """The block-max WAND path must equal the exhaustive path exactly,
    and must actually skip blocks once top-k stabilizes."""
    from groonga_spark.codec import delta_decode, vb_decode
    from groonga_spark.ql import parse_query
    from groonga_spark.score import bm25 as _bm
    from groonga_spark.wand import SegmentQueryKernel, _topk
    from scripts.benchlib import spy_decodes

    docs, _ = corpus
    path = str(tmp_path / "idx_bm")
    # tiny shards → many blocks per term → pruning has room to act: the
    # single-term loop decodes 64 blocks per step, so a term needs more
    # than 64 blocks before a skip can show (shard_size=4 → ~125 here)
    build_index(spark, docs, path, mode="delimit", segment_size=1 << 20,
                shard_size=4)
    idx = FulltextIndex(spark, path)
    st = idx._stats()

    skipped = []
    for q in ["spark", "the", "vector"]:
        plan = idx._plan(idx._expand_ast(parse_query(q)))
        pdf = idx._local_blocks(plan["needed_tids"], plan, force=True)
        tid = plan["needed_tids"][0]
        pruned, n_decoded = spy_decodes(
            lambda: SegmentQueryKernel(pdf, plan, st, 3)
            ._topk_single_pruned(tid))

        # exhaustive reference, decoded block by block from the term's
        # rows of the frame and scored here, apart from the kernel
        blk = pdf[pdf["term_id"] == tid]
        doc = np.concatenate([delta_decode(vb_decode(b))
                              for b in blk["doc_deltas"]])
        tf = np.concatenate([vb_decode(b) for b in blk["tfs"]])
        dl = np.concatenate([vb_decode(b) for b in blk["dls"]])
        full = _bm(tf, dl, plan["df_by_tid"][tid], st["n_docs"], st["avgdl"],
                   st["k1"], st["b"])
        want = _topk(doc, full, 3)
        assert pruned[0].tolist() == want[0].tolist(), q
        assert pruned[1].tolist() == want[1].tolist(), q  # bit-identical
        assert 0 < n_decoded <= len(blk), q
        skipped.append(n_decoded < len(blk))
    assert any(skipped), "no query skipped a block"


def test_prefix_search_matches_expanded_or(built):
    """`sp*` ≡ OR over every lexicon term starting with 'sp' (the
    PAT-trie predictive cursor as a plan-time rewrite)."""
    import pyarrow.dataset as ds

    terms = sorted(
        ds.dataset(built.store.base("lexicon"), format="parquet")
        .to_table(columns=["term"]).column("term").to_pylist()
    )
    sp = [t for t in terms if t.startswith("s")]
    assert len(sp) >= 2
    got = [(r["doc_id"], r["score"]) for r in built.search("s*", 10).collect()]
    want = [(r["doc_id"], r["score"]) for r in
            built.search(" OR ".join(sp), 10).collect()]
    assert got == want
    assert built.match_docs("zzzznope*").count() == 0


def test_query_expansion(built):
    """query_expand: term → OR(term, synonyms...)."""
    got = built.search("spark", 10, expansions={"spark": ["merge"]}).collect()
    want = built.search("spark OR merge", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_delete_tombstones(spark, corpus, tmp_path):
    """delete → tombstoned docs vanish from all query paths; surviving
    docs keep their as-built scores (LSM semantics: stats drift until
    compaction)."""
    docs, _ = corpus
    path = str(tmp_path / "idx_del")
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    idx = FulltextIndex(spark, path)

    before = [(r["doc_id"], r["score"]) for r in idx.search("spark merge", 10).collect()]
    victims = [before[0][0], before[3][0]]
    n_before = idx.match_docs("spark").count()

    idx.delete_docs(victims)
    after = [(r["doc_id"], r["score"]) for r in idx.search("spark merge", 10).collect()]
    assert victims[0] not in [d for d, _ in after]
    assert victims[1] not in [d for d, _ in after]
    # survivors keep identical scores and relative order
    want = [x for x in before if x[0] not in victims]
    assert after[: len(want)] == want

    assert idx.match_docs("spark").count() <= n_before
    # distributed path honors tombstones too
    dd = {r["doc_id"] for r in
          _cluster_handle(spark, path).search("spark merge", 10).collect()}
    assert not (set(victims) & dd)

    # a fresh handle sees the tombstones (metadata is durable)
    idx2 = FulltextIndex(spark, path)
    assert victims[0] not in {
        r["doc_id"] for r in idx2.search("spark merge", 10).collect()
    }


def test_merge_determinism_across_parallelism(spark, corpus, tmp_path):
    """Same input + same config at different parallelism ⇒ byte-identical
    postings, lexicon, and doc_map (SURVEY.md §5.2.1)."""
    docs, _ = corpus
    outs = []
    for n, reparts in (("a", 2), ("b", 16)):
        path = str(tmp_path / f"idx_{n}")
        build_index(
            spark,
            docs.repartition(reparts),
            path,
            mode="delimit",
            segment_size=200,
        )
        store = IndexStore(path)
        post = (
            spark.read.parquet(store.base("postings"))
            .orderBy("term_id", "segment", "block_id")
            .collect()
        )
        lex = spark.read.parquet(store.base("lexicon")).orderBy("term_id").collect()
        outs.append((post, lex))
    (p1, l1), (p2, l2) = outs
    assert l1 == l2
    assert len(p1) == len(p2)
    for r1, r2 in zip(p1, p2):
        assert r1 == r2


def test_resume_after_failure(spark, corpus, tmp_path):
    """Kill mid-build → rerun completes; committed segments not recomputed;
    final index equals the uninterrupted build (BASELINE.md row 6)."""
    docs, _ = corpus
    path = str(tmp_path / "idx_resume")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            spark, docs, path, mode="delimit", segment_size=200,
            fail_after_segments=1,
        )
    store = IndexStore(path)
    committed_before = store.committed_segments(spark)
    assert len(committed_before) == 1
    lineage_files_before = set(os.listdir(store.p("lineage")))

    build_index(spark, docs, path, mode="delimit", segment_size=200)
    # committed segment was not rebuilt: its lineage rows are unchanged
    import pyspark.sql.functions as F

    lineage = spark.read.parquet(store.p("lineage"))
    per_seg = lineage.groupBy("segment").count().collect()
    assert all(r["count"] == 1 for r in per_seg)

    # equality with an uninterrupted build
    path2 = str(tmp_path / "idx_clean")
    build_index(spark, docs, path2, mode="delimit", segment_size=200)
    a = (
        spark.read.parquet(store.base("postings"))
        .orderBy("term_id", "segment", "block_id")
        .collect()
    )
    b = (
        spark.read.parquet(IndexStore(path2).base("postings"))
        .orderBy("term_id", "segment", "block_id")
        .collect()
    )
    assert a == b


def _mk_skewed_corpus(spark, n=3000, seed=7):
    """Corpus with heavy tf/doclen skew so block bounds differ enough
    for interval pruning to engage."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(n):
        words = []
        # zipf-ish: few docs get huge tf of hot terms
        for w in ("alpha", "beta", "gamma"):
            tf = int(rng.paretovariate(1.2)) if rng.random() < 0.4 else 0
            words += [w] * min(tf, 50)
        words += [rng.choice(vocab) for _ in range(rng.randrange(3, 60))]
        rng.shuffle(words)
        rows.append((d, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


MULTI_QUERIES = [
    "alpha OR beta",
    "alpha OR beta OR gamma",
    "alpha OR alpha",                  # duplicate member: summed twice
    "alpha beta",
    "alpha beta gamma",
    "alpha -beta",
    "alpha beta -gamma",
    "alpha OR w1 OR w2 OR w3",
    "w0 w1",
    "(alpha OR beta) -gamma",          # OR-group AND child with NOT
    "(alpha OR beta) gamma",           # mixed term + OR-group
    "(alpha OR beta) (gamma OR w1)",   # two OR groups
    "(alpha OR beta) w0 -w1",
]

PHRASE_NEAR_QUERIES = [
    '"alpha beta"', '*N3"alpha beta"', '*N6"alpha gamma"',
    # phrase/near as AND children and OR members (grouped pruning)
    '"alpha beta" gamma', '"alpha beta" -gamma', '*N4"alpha beta" w0',
    '"alpha beta" OR gamma', '"alpha beta" OR "beta gamma"',
    '(w0 OR w1) "alpha beta"',
]


def test_multiterm_blockmax_rank_identity(spark, tmp_path):
    """Interval block-max pruned AND/OR top-k must equal the exhaustive
    path bit-for-bit (docs AND scores), for every query shape and k."""
    from groonga_spark.ql import parse_query
    from groonga_spark.wand import SegmentQueryKernel, _topk

    docs = _mk_skewed_corpus(spark)
    path = str(tmp_path / "idx_mt")
    build_index(spark, docs, path, mode="delimit", segment_size=1 << 20,
                shard_size=64)
    idx = FulltextIndex(spark, path)
    for q in MULTI_QUERIES + PHRASE_NEAR_QUERIES:
        ast = idx._expand_ast(parse_query(q))
        plan = idx._plan(ast)
        pdf = idx._local_blocks(plan["needed_tids"], plan, force=True)
        for k in (1, 3, 10, 100):
            kern = SegmentQueryKernel(pdf, plan, idx._stats(), k)
            kern.PRUNE_MIN_BLOCKS = 0  # force the pruned path (test corpus
            # is below the small-index crossover threshold)
            pr = kern._pruned_multi(ast)
            assert pr is not None, q  # these shapes must take the pruned path
            kern2 = SegmentQueryKernel(pdf, plan, idx._stats(), k)
            d, s = kern2.eval(ast)
            want = _topk(d, s, k)
            assert (pr[0] == want[0]).all(), (q, k, pr, want)
            assert (pr[1] == want[1]).all(), (q, k)  # bit-identical floats


def test_spy_decodes_nests_and_restores():
    """The bench's decode counter: a nested call counts into its own
    total and the enclosing one, and the kernel's decode is restored
    afterwards, also when ``fn`` raises."""
    import pandas as pd

    from groonga_spark.codec import vb_encode
    from groonga_spark.ql import Term
    from groonga_spark.wand import SegmentQueryKernel
    from scripts.benchlib import spy_decodes

    def enc(*v):
        return vb_encode(np.asarray(v, np.uint64))

    # one term, three blocks of two docs (doc deltas reset per block)
    blocks = pd.DataFrame({
        "term_id": [0, 0, 0], "segment": [0, 0, 0], "block_id": [0, 1, 2],
        "n_docs": [2, 2, 2], "min_doc_id": [0, 2, 4], "max_doc_id": [1, 3, 5],
        "doc_deltas": [enc(0, 1), enc(2, 1), enc(4, 1)],
        "tfs": [enc(1, 2)] * 3, "dls": [enc(5, 5)] * 3,
        "max_tf": [2.0] * 3, "min_dl": [5.0] * 3, "df": [6.0] * 3,
    })
    plan = {"tokens_by_text": {"a": [0]}, "df_by_tid": {0: 6.0}}
    stats = {"n_docs": 10, "avgdl": 5.0, "k1": 1.2, "b": 0.75}
    orig = SegmentQueryKernel._decode_rows

    def run():
        return SegmentQueryKernel(blocks, plan, stats, 10).eval(Term("a"))

    def twice():
        run()
        return spy_decodes(run)

    ((doc, _score), inner), outer = spy_decodes(twice)
    assert doc.tolist() == [0, 1, 2, 3, 4, 5]
    assert (inner, outer) == (3, 6)
    assert SegmentQueryKernel._decode_rows is orig
    with pytest.raises(ZeroDivisionError):
        spy_decodes(lambda: 1 / 0)
    assert SegmentQueryKernel._decode_rows is orig


def test_multiterm_blockmax_actually_prunes(spark, tmp_path):
    """On the skewed corpus, small-k AND/OR queries must decode fewer
    blocks than the exhaustive path — counted by the decode spy the
    benchmarks read, which sees the pooled pruner's decodes too."""
    from groonga_spark.ql import parse_query
    from groonga_spark.wand import SegmentQueryKernel
    from scripts.benchlib import spy_decodes

    # block-max pruning needs bounds that VARY BY DOC RANGE (clustered
    # tf), not randomly-scattered heavy docs — cluster the heavy hitters
    # in the low doc ids
    import random

    rng = random.Random(11)
    rows = []
    for d in range(6000):
        hot_tf = 30 if d < 150 else 1
        words = ["alpha"] * (hot_tf if rng.random() < 0.6 else 0)
        words += ["beta"] * (hot_tf if rng.random() < 0.6 else 0)
        words += [f"w{rng.randrange(40)}" for _ in range(10)]
        rng.shuffle(words)
        rows.append((d, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_mtp")
    build_index(spark, docs, path, mode="delimit", segment_size=1 << 20,
                shard_size=32)
    idx = FulltextIndex(spark, path)
    pruned_any = False
    for q in ["alpha OR beta", "alpha beta"]:
        ast = idx._expand_ast(parse_query(q))
        plan = idx._plan(ast)
        pdf = idx._local_blocks(plan["needed_tids"], plan, force=True)
        kern = SegmentQueryKernel(pdf, plan, idx._stats(), 3)
        kern.PRUNE_MIN_BLOCKS = 0
        got, n_decoded = spy_decodes(lambda: kern._pruned_multi(ast))
        assert got is not None and len(got[0]) == 3, q
        assert 0 < n_decoded <= len(pdf), q
        if n_decoded < len(pdf):
            pruned_any = True
    assert pruned_any, "no multi-term query pruned any block"


def test_multiterm_pruned_via_search_api(spark, tmp_path):
    """End-to-end: search() results for multi-term queries unchanged and
    tombstones still honored on the pruned path."""
    docs = _mk_skewed_corpus(spark, n=1500)
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    path = str(tmp_path / "idx_mts")
    build_index(spark, docs, path, mode="delimit", segment_size=400,
                shard_size=64)
    idx = FulltextIndex(spark, path)
    orc = OracleIndex(rows, mode="delimit")
    for q in MULTI_QUERIES:
        got = [(r["doc_id"], r["score"]) for r in idx.search(q, 10).collect()]
        want = orc.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-6, q
    # tombstones on the pruned path
    top = [r["doc_id"] for r in idx.search("alpha OR beta", 5).collect()]
    idx.delete_docs(top[:2])
    after = [r["doc_id"] for r in idx.search("alpha OR beta", 5).collect()]
    assert not (set(top[:2]) & set(after))


def test_filtered_mode_index_rank_identity(spark, corpus, tmp_path):
    """Index built with token filters (stop+stem): query-side uses the
    same frozen mode string; results match the brute-force oracle."""
    docs, rows = corpus
    mode = "delimit|stop:the,a,of,and,to,in,is,it|stem"
    path = str(tmp_path / "idx_filt")
    build_index(spark, docs, path, mode=mode, segment_size=200)
    idx = FulltextIndex(spark, path)
    assert idx.meta["tokenizer_mode"] == mode
    orc = OracleIndex(rows, mode=mode)
    for q in ["spark merge", "tables", "merged OR windowing", "scan -table"]:
        got = [(r["doc_id"], r["score"]) for r in idx.search(q, 10).collect()]
        want = orc.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], (q, got, want)
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-6
    # stop words are unmatchable (dropped at both index and query time)
    assert idx.match_docs("the").count() == 0


def test_near_operator(spark, tmp_path):
    """*N"a b": all words present with position span <= max interval."""
    rows = [
        (0, "alpha x x x beta"),            # span 4
        (1, "alpha x x x x x x x x x x beta"),  # span 11
        (2, "beta x alpha"),                # span 2 (order-free)
        (3, "alpha only here"),
        (4, "beta only here"),
        (5, "alpha beta adjacent"),
        (6, "alpha x beta x gamma"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_near")
    build_index(spark, docs, path, mode="delimit", segment_size=100)
    idx = FulltextIndex(spark, path)

    got = {r["doc_id"] for r in idx.match_docs('*N4"alpha beta"').collect()}
    assert got == {0, 2, 5, 6}
    got10 = {r["doc_id"] for r in idx.match_docs('*N"alpha beta"').collect()}
    assert got10 == {0, 2, 5, 6}          # default 10 < span 11
    got11 = {r["doc_id"] for r in idx.match_docs('*N11"alpha beta"').collect()}
    assert got11 == {0, 1, 2, 5, 6}
    got3 = {r["doc_id"] for r in idx.match_docs('*N2"alpha beta gamma"').collect()}
    assert got3 == set()                  # span(alpha..gamma)=4 in doc 6
    got4 = {r["doc_id"] for r in idx.match_docs('*N4"alpha beta gamma"').collect()}
    assert got4 == {6}
    # composes with boolean algebra
    gotb = {r["doc_id"] for r in
            idx.match_docs('*N4"alpha beta" -gamma').collect()}
    assert gotb == {0, 2, 5}


def test_near_and_similar_vs_oracle(spark, corpus, tmp_path):
    """Random-corpus near/similar vs the brute-force oracle."""
    docs, rows = corpus
    path = str(tmp_path / "idx_near_o")
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    idx = FulltextIndex(spark, path)
    orc = OracleIndex(rows, mode="delimit")
    for q in ['*N"spark merge"', '*N3"spark merge"', '*N5"table scan"',
              '*S"spark merge window"',
              # degenerate near: one distinct token repeated — window is
              # trivially satisfied; score = count × BM25 (the duplicate-
              # occurrence algebra, same as the oracle's _near)
              '*N"spark spark"', '*N3"spark spark spark"']:
        got = [(r["doc_id"], r["score"]) for r in idx.search(q, 10).collect()]
        want = orc.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], (q, got, want)
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-6, q


def test_query_result_cache(spark, corpus, tmp_path, spark_jobs,
                            frames_built):
    """Driver-local top-k results come from the per-handle LRU on repeat:
    a hit hands back the frame the miss built, so it builds no frame and
    starts no Spark job; deletes invalidate via the tombstone generation
    (grn_cache model) and drop the stale entries."""
    from groonga_spark.wand import SegmentQueryKernel

    docs, _ = corpus
    path = str(tmp_path / "idx_qc")
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    idx = FulltextIndex(spark, path)

    calls = {"n": 0}
    orig = SegmentQueryKernel.run

    def spy(self, ast, _o=orig, _c=calls):
        _c["n"] += 1
        return _o(self, ast)

    SegmentQueryKernel.run = spy
    try:
        a = [(r["doc_id"], r["score"]) for r in idx.search("spark merge", 10).collect()]
        n1 = calls["n"]
        hit, jobs = [], []
        assert frames_built(lambda: jobs.extend(spark_jobs(lambda: hit.extend(
            idx.search("spark merge", 10).collect())))) == 0
        assert jobs == []
        b = [(r["doc_id"], r["score"]) for r in hit]
        assert calls["n"] == n1          # second call served from cache
        assert a == b
        c = [(r["doc_id"], r["score"]) for r in
             idx.search("spark merge", 10, use_cache=False).collect()]
        assert calls["n"] == n1 + 1 and c == a
        idx.delete_docs([a[0][0]])
        d = [(r["doc_id"], r["score"]) for r in idx.search("spark merge", 10).collect()]
        assert calls["n"] == n1 + 2      # generation changed → recompute
        assert a[0][0] not in [x for x, _ in d]
        assert len(idx._result_cache) == 1   # only the new generation's
    finally:
        SegmentQueryKernel.run = orig


def _tiny_indexes(spark, tmp_path):
    """A single-field index over ``title`` and a two-field index over
    (title, body), on the same three docs."""
    from groonga_spark.multifield import MultiFieldIndex, build_multifield_index

    df = spark.createDataFrame(
        [(0, "alpha beta", "beta"), (1, "gamma", "delta gamma"),
         (2, "alpha", "beta beta")],
        "doc_id long, title string, body string")
    build_index(spark, df.selectExpr("doc_id", "title AS text"),
                str(tmp_path / "one"), mode="delimit", segment_size=64)
    build_multifield_index(spark, df, str(tmp_path / "two"),
                           ["title", "body"], mode="delimit", segment_size=64)
    return (FulltextIndex(spark, str(tmp_path / "one")),
            MultiFieldIndex(spark, str(tmp_path / "two")))


def test_empty_results_share_one_frame_per_handle(spark, tmp_path,
                                                  frames_built):
    """Every empty driver-route result of a handle is the same frame,
    built on the first one, for both index types: a missing term, an
    AND of known terms with no doc in common, match sets, and the fuzzy
    and romaji-prefix early returns. It holds no rows and keeps the
    result schema."""
    idx, mf = _tiny_indexes(spark, tmp_path)
    for handle, calls in [
        (idx, [lambda: idx.search("zzznope", 10),
               lambda: idx.search("alpha gamma", 10),
               lambda: idx.match_docs("zzznope"),
               lambda: idx.match_docs("alpha gamma"),
               lambda: idx.fuzzy_match_docs("qqqqqqq", 1),
               lambda: idx.prefix_rk_match_docs("xyz")]),
        (mf, [lambda: mf.search("zzznope", match_columns="title*2||body"),
              lambda: mf.search("alpha delta"),
              lambda: mf.match_docs("zzznope"),
              lambda: mf.match_docs("alpha delta", "title||body")]),
    ]:
        frames = []
        assert frames_built(
            lambda: frames.extend(call() for call in calls)) == 1
        assert all(f is frames[0] for f in frames)
        assert frames[0].collect() == []
        assert frames[0].schema.simpleString() == \
            "struct<doc_id:bigint,score:double>"


def test_shared_frames_combine_with_themselves(spark, tmp_path):
    """A shared frame (the handle's empty frame, a cached hit) used on
    both sides of a set operation or a join still answers correctly."""
    from groonga_spark.algebra import combine

    idx, _mf = _tiny_indexes(spark, tmp_path)
    e = idx.search("zzznope", 10)
    assert combine(e, e, "adjust").collect() == []
    a, b = idx.search("alpha", 10), idx.search("alpha", 10)
    assert a is b
    rows = a.join(b, a["doc_id"] == b["doc_id"]).collect()
    assert sorted(r[0] for r in rows) == [0, 2]


def test_fuzzy_search(spark, corpus, tmp_path):
    """fuzzy_search: lexicon terms within bounded edit distance expand
    to an OR; select-filter form composes with Catalyst."""
    from groonga_spark.select import select

    docs, rows = corpus
    path = str(tmp_path / "idx_fz")
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    idx = FulltextIndex(spark, path)

    assert idx.fuzzy_terms("sparc", 1) == ["spark"]
    t2 = idx.fuzzy_terms("tabel", 2)
    assert "table" in t2
    # prefix_length prunes the scan without changing covered results
    assert idx.fuzzy_terms("sparc", 1, prefix_length=2) == ["spark"]

    got = {r["doc_id"] for r in idx.fuzzy_match_docs("sparc", 1).collect()}
    want = {d for d, t in rows if "spark" in t.split()}
    assert got == want

    # driver-side DP agrees with Spark's levenshtein
    from groonga_spark.search import _bounded_levenshtein

    for a, b, d in [("spark", "sparc", 1), ("table", "tabel", 2),
                    ("abc", "xyz", None), ("", "ab", 2), ("same", "same", 0)]:
        assert _bounded_levenshtein(a, b, 2) == d, (a, b)

    with select(docs, index=idx,
                filter='fuzzy_search(text, "sparc", 1) && n_chars > 300',
                limit=-1) as res:
        got2 = {r["doc_id"] for r in res.hits.collect()}
    big = {r["doc_id"] for r in docs.filter("n_chars > 300").collect()}
    assert got2 == (want & big) and got2


def test_prefix_rk_search(spark, tmp_path):
    """Romaji prefix → katakana lexicon terms (completion surface)."""
    from groonga_spark.rk import rk_expand

    assert rk_expand("ni") == ["ニ"]
    assert rk_expand("niho") == ["ニホ"]
    assert set(rk_expand("h")) == {"ハ", "ヒ", "フ", "ヘ", "ホ"}
    assert rk_expand("kitte") == ["キッテ"]
    assert "ニホン" in rk_expand("nihon")  # plus ナ-row continuations

    rows = [
        (0, "ニホン カタカナ"),
        (1, "ニシ ヒガシ"),
        (2, "ハナ ミズ"),
        (3, "ニホンゴ ベンキョウ"),
        (4, "alpha beta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_rk")
    build_index(spark, docs, path, mode="delimit", segment_size=100)
    idx = FulltextIndex(spark, path)

    assert idx.prefix_rk_terms("ni") == ["ニシ", "ニホン", "ニホンゴ"]
    assert idx.prefix_rk_terms("nihon") == ["ニホン", "ニホンゴ"]
    assert idx.prefix_rk_terms("ha") == ["ハナ"]
    assert idx.prefix_rk_terms("h") == ["ハナ", "ヒガシ"]
    got = {r["doc_id"] for r in idx.prefix_rk_match_docs("niho").collect()}
    assert got == {0, 3}


def test_pruned_path_fuzz_random_queries(spark, tmp_path):
    """Fuzz: 120 random query ASTs (terms/phrases/nears, nested OR/AND,
    NOTs, duplicates, unknown tokens) × random k — the pruned path must
    be bit-identical to the exhaustive evaluator on a skewed corpus."""
    import random

    from groonga_spark.ql import parse_query
    from groonga_spark.wand import SegmentQueryKernel, _topk

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(12)] + ["alpha", "beta", "gamma"]
    rows = []
    for d in range(4000):
        words = []
        if rng.random() < 0.5:
            words += ["alpha"] * (25 if d < 120 else 1)
        if rng.random() < 0.4:
            words += ["beta"] * (18 if 200 <= d < 320 else 1)
        words += [rng.choice(vocab) for _ in range(rng.randrange(4, 30))]
        rng.shuffle(words)
        rows.append((d, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_fuzz")
    build_index(spark, docs, path, mode="delimit", segment_size=1 << 20,
                shard_size=48)
    idx = FulltextIndex(spark, path)

    def rand_leaf():
        r = rng.random()
        t = rng.choice(vocab + ["zzznope"])
        if r < 0.4:
            return t
        if r < 0.52:
            return f'"{t} {rng.choice(vocab)}"'
        if r < 0.64:
            return f'*N{rng.randrange(1, 8)}"{t} {rng.choice(vocab)}"'
        if r < 0.76:
            return f"({t} OR {rng.choice(vocab)})"
        # phrase/near INSIDE an OR (disjunct groups under an AND parent)
        if r < 0.84:
            return f'({t} OR "{rng.choice(vocab)} {rng.choice(vocab)}")'
        if r < 0.92:
            return (f'({t} OR *N{rng.randrange(2, 6)}'
                    f'"{rng.choice(vocab)} {rng.choice(vocab)}")')
        # QL prefix → TermRange leaf (one pooled range member)
        return t[: rng.randrange(1, 3)] + "*"

    def rand_query():
        n = rng.randrange(1, 4)
        parts = [rand_leaf() for _ in range(n)]
        if rng.random() < 0.4:
            parts.append(f"-{rng.choice(vocab)}")
        q = " ".join(parts)
        if rng.random() < 0.3:
            q = f"{q} OR {rand_leaf()}"
        return q

    checked = pruned_used = disjunct_pruned = 0
    for _ in range(120):
        q = rand_query()
        ast = idx._expand_ast(parse_query(q))
        plan = idx._plan(ast)
        pdf = idx._local_blocks(plan["needed_tids"], plan, force=True)
        if pdf is None or not (plan["needed_tids"] or plan["tid_ranges"]):
            continue
        k = rng.choice([1, 3, 10, 50])
        kern = SegmentQueryKernel(pdf, plan, idx._stats(), k)
        kern.PRUNE_MIN_BLOCKS = 0
        pr = kern._pruned_multi(ast)
        kern2 = SegmentQueryKernel(pdf, plan, idx._stats(), k)
        want = _topk(*kern2.eval(ast), k)
        if pr is None:
            continue  # legitimately unpruneable shape
        pruned_used += 1
        if 'OR "' in q or "OR *N" in q:
            disjunct_pruned += 1  # phrase/near-inside-OR took pruned path
        assert (pr[0] == want[0]).all(), (q, k, pr, want)
        assert (pr[1] == want[1]).all(), (q, k)
        checked += 1
    assert pruned_used >= 60, pruned_used  # the fuzzer exercises the pruner
    assert disjunct_pruned >= 8, disjunct_pruned  # incl. disjunct groups


def test_pruned_path_fuzz_bigram_cjk(spark, tmp_path):
    """Bigram-mode fuzz: CJK words make every multi-char Term leaf a
    positional phrase — pruned vs exhaustive must stay bit-identical."""
    import random

    from groonga_spark.ql import parse_query
    from groonga_spark.wand import SegmentQueryKernel, _topk

    rng = random.Random(7)

    def word():
        n = rng.randrange(2, 5)
        return "".join(chr(0x4E00 + rng.randrange(40)) for _ in range(n))

    vocab = [word() for _ in range(30)]
    rows = [(d, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(3, 15))))
            for d in range(2500)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_cjk_fuzz")
    build_index(spark, docs, path, mode="bigram", segment_size=1 << 20,
                shard_size=48)
    idx = FulltextIndex(spark, path)

    checked = 0
    for _ in range(40):
        parts = [rng.choice(vocab) for _ in range(rng.randrange(1, 3))]
        if rng.random() < 0.4:
            parts = [parts[0], "OR", rng.choice(vocab)]
        if rng.random() < 0.3:
            parts.append(f"-{rng.choice(vocab)}")
        q = " ".join(parts)
        ast = idx._expand_ast(parse_query(q))
        plan = idx._plan(ast)
        pdf = idx._local_blocks(plan["needed_tids"], plan, force=True)
        if pdf is None or not (plan["needed_tids"] or plan["tid_ranges"]):
            continue
        k = rng.choice([1, 5, 20])
        kern = SegmentQueryKernel(pdf, plan, idx._stats(), k)
        kern.PRUNE_MIN_BLOCKS = 0
        pr = kern._pruned_multi(ast)
        want = _topk(*SegmentQueryKernel(pdf, plan, idx._stats(), k)
                     .eval(ast), k)
        if pr is None:
            continue
        assert (pr[0] == want[0]).all(), (q, k)
        assert (pr[1] == want[1]).all(), (q, k)
        checked += 1
    assert checked >= 20, checked


def test_handle_invalidation_on_external_mutation(spark, tmp_path):
    """A handle whose index was rebuilt by ANOTHER handle/process must not
    answer from its stale lexicon/postings/meta caches — generation change
    (meta mtime + tombstone count) drops them all, so the recompute uses
    the NEW index, not just a fresh result-cache entry."""
    import time as _t

    path = str(tmp_path / "idx_gen")
    docs1 = spark.createDataFrame(
        [(0, "apple banana"), (1, "apple cherry"), (2, "banana cherry")],
        "doc_id long, text string",
    )
    build_index(spark, docs1, path, mode="delimit", segment_size=100)
    handle = FulltextIndex(spark, path)
    got1 = {r["doc_id"] for r in handle.search("apple", 10).collect()}
    assert got1 == {0, 1}
    assert "apple" in handle._lex_cache  # the memo we must invalidate

    _t.sleep(0.02)  # ensure a distinct meta mtime
    docs2 = spark.createDataFrame(
        [(0, "durian elderberry"), (1, "apple durian"),
         (2, "apple apple fig"), (3, "fig elderberry")],
        "doc_id long, text string",
    )
    build_index(spark, docs2, path, mode="delimit", segment_size=100,
                resume=False)

    got2 = {r["doc_id"] for r in handle.search("apple", 10).collect()}
    fresh = FulltextIndex(spark, path)
    want2 = {r["doc_id"] for r in fresh.search("apple", 10).collect()}
    assert got2 == want2 == {1, 2}
    # scores also match the fresh handle bit-for-bit (stats refreshed)
    s_handle = sorted((r["doc_id"], r["score"])
                      for r in handle.search("apple", 10).collect())
    s_fresh = sorted((r["doc_id"], r["score"])
                     for r in fresh.search("apple", 10).collect())
    assert s_handle == s_fresh


def test_prefix_is_term_id_range(spark, tmp_path):
    """A prefix plans as ONE TermRange over the contiguous dense-id span:
    no per-term AST leaves, no giant IN list — and results are
    bit-identical to the explicitly enumerated OR query."""
    from groonga_spark.ql import Or as QOr
    from groonga_spark.ql import TermRange

    rows = [(i, f"t{i:03d} shared w{i % 5}") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_rng")
    build_index(spark, docs, path, mode="delimit", segment_size=1000)
    idx = FulltextIndex(spark, path)

    ast = idx._expand_ast(__import__("groonga_spark.ql",
                                     fromlist=["parse_query"])
                          .parse_query("t0*"))
    assert isinstance(ast, TermRange)
    assert ast.n_terms == 100 and ast.hi_tid - ast.lo_tid + 1 == 100
    plan = idx._plan(ast)
    assert plan["needed_tids"] == []          # nothing enumerated
    assert plan["tid_ranges"] == [(ast.lo_tid, ast.hi_tid)]

    got = [(r["doc_id"], r["score"])
           for r in idx.search("t0*", 15, use_cache=False).collect()]
    enum_q = " OR ".join(f"t{i:03d}" for i in range(100))
    want = [(r["doc_id"], r["score"])
            for r in idx.search(enum_q, 15, use_cache=False).collect()]
    assert got == want
    # membership too
    gm = {r["doc_id"] for r in idx.match_docs("t0*").collect()}
    assert gm == set(range(100))
    # compound shapes route through the same plan machinery
    g2 = {r["doc_id"] for r in idx.match_docs("t0* shared").collect()}
    assert g2 == set(range(100))
    g3 = {r["doc_id"] for r in idx.match_docs("shared -t0*").collect()}
    assert g3 == set(range(100, 200))
    # explicit enumerated Or must not have been built anywhere
    assert not isinstance(ast, QOr)


def test_hot_prefix_scales_without_leaves(spark, tmp_path):
    """≥10k matching terms: the plan stays O(1) — two ints, zero
    enumerated term ids — and the pruned top-k equals the exhaustive
    evaluation bit-for-bit."""
    import numpy as np

    from groonga_spark.ql import TermRange, parse_query
    from groonga_spark.wand import SegmentQueryKernel, _topk

    n = 12_000
    rows = [(i, f"p{i:05d} filler{i % 11}") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_hot")
    build_index(spark, docs, path, mode="delimit", segment_size=1 << 20,
                shard_size=256)
    idx = FulltextIndex(spark, path)

    ast = idx._expand_ast(parse_query("p*"))
    assert isinstance(ast, TermRange) and ast.n_terms == n
    plan = idx._plan(ast)
    assert plan["needed_tids"] == [] and len(plan["tid_ranges"]) == 1
    # df_by_tid is empty — per-term df rides the posting blocks
    assert plan["df_by_tid"] == {}

    pdf = idx._local_blocks([], plan, force=True)
    kern = SegmentQueryKernel(pdf, plan, idx._stats(), 10)
    kern.PRUNE_MIN_BLOCKS = 0
    pruned = kern._pruned_multi(ast)
    assert pruned is not None
    want = _topk(*SegmentQueryKernel(pdf, plan, idx._stats(), 10).eval(ast),
                 10)
    assert (pruned[0] == want[0]).all()
    assert (pruned[1] == want[1]).all()
    # the public API agrees
    got = [(r["doc_id"], r["score"]) for r in
           idx.search("p*", 10, use_cache=False).collect()]
    assert [d for d, _ in got] == want[0].tolist()
    assert np.asarray([s for _, s in got]).tolist() == want[1].tolist()


def test_prefix_on_ngram_index_is_lexicon_or(spark, tmp_path):
    """On a bigram index a prefix matches docs holding ANY lexicon term
    with that prefix via the term's OWN posting list (grn_ii_select
    EX_PREFIX) — no query-side re-tokenization into phrases."""
    rows = [
        (0, "日本語の文書"),
        (1, "日本の検索"),
        (2, "検索だけの文書"),
        (3, "日曜日です"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_cjk_pfx")
    build_index(spark, docs, path, mode="bigram", segment_size=100)
    idx = FulltextIndex(spark, path)

    import pyarrow.dataset as ds

    lex = sorted(
        ds.dataset(idx.store.base("lexicon"), format="parquet")
        .to_table(columns=["term"]).column("term").to_pylist()
    )
    pfx_terms = [t for t in lex if t.startswith("日")]
    assert len(pfx_terms) >= 2  # 日本, 日曜 (at least)
    got = {r["doc_id"] for r in idx.match_docs("日*").collect()}
    # brute force over the corpus' own bigram token streams
    from groonga_spark.normalize import normalize_str
    from groonga_spark.tokenize import tokenize_str

    want = {
        d for d, t in rows
        if any(tok in pfx_terms
               for tok, _ in tokenize_str(normalize_str(t), "bigram"))
    }
    assert got == want and got == {0, 1, 3}


def test_prefix_range_respects_tombstones(spark, tmp_path):
    """Deleted docs must vanish from TermRange results on BOTH pooled
    paths (exhaustive _eval_range and the pruned top-k) — the pooled
    decode masks tombstones without per-term frames."""
    rows = [(i, f"q{i:03d} shared") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_rng_tomb")
    build_index(spark, docs, path, mode="delimit", segment_size=1000,
                shard_size=64)
    idx = FulltextIndex(spark, path)
    before = {r["doc_id"] for r in idx.match_docs("q0*").collect()}
    assert before == set(range(100))
    idx.delete_docs([3, 7, 42, 99])

    after = {r["doc_id"] for r in idx.match_docs("q0*").collect()}
    assert after == before - {3, 7, 42, 99}
    topk = [r["doc_id"] for r in
            idx.search("q0*", 300, use_cache=False).collect()]
    assert set(topk) == after
    # pruned kernel agrees with the exhaustive kernel under tombstones
    from groonga_spark.ql import parse_query
    from groonga_spark.wand import SegmentQueryKernel, _topk

    ast = idx._expand_ast(parse_query("q0*"))
    plan = idx._plan(ast)
    pdf = idx._local_blocks([], plan, force=True)
    kern = SegmentQueryKernel(pdf, plan, idx._stats(), 20)
    kern.PRUNE_MIN_BLOCKS = 0
    pr = kern._pruned_multi(ast)
    want = _topk(*SegmentQueryKernel(pdf, plan, idx._stats(), 20).eval(ast),
                 20)
    assert pr is not None
    assert (pr[0] == want[0]).all() and (pr[1] == want[1]).all()
    assert not set(pr[0].tolist()) & {3, 7, 42, 99}


def test_prefix_children_prune_past_256_terms(spark, tmp_path):
    """A prefix matching more than 256 terms, as a child of an OR, of an
    AND, and of an OR under an AND, takes the pruned path bit-identically
    to the exhaustive path — with and without tombstones."""
    import random

    from groonga_spark.ql import TermRange, parse_query
    from groonga_spark.wand import SegmentQueryKernel, _topk

    rng = random.Random(31)
    rows = []
    for d in range(3000):
        words = [f"p{rng.randrange(400):03d}"
                 for _ in range(rng.randrange(1, 4))]
        if rng.random() < 0.5:
            words += ["x"] * (12 if d < 100 else 1)
        if rng.random() < 0.3:
            words.append("y")
        words += [f"f{rng.randrange(20)}" for _ in range(rng.randrange(2, 12))]
        rng.shuffle(words)
        rows.append((d, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_pfx_cap")
    build_index(spark, docs, path, mode="delimit", segment_size=1 << 20,
                shard_size=64)
    idx = FulltextIndex(spark, path)
    rng_ast = idx._expand_ast(parse_query("p*"))
    assert isinstance(rng_ast, TermRange) and rng_ast.n_terms > 256

    def check() -> set:
        seen = set()
        for q in ["p* OR x", "p* x", "(p* OR x) -y"]:
            ast = idx._expand_ast(parse_query(q))
            plan = idx._plan(ast)
            pdf = idx._local_blocks(plan["needed_tids"], plan, force=True)
            for k in (1, 10, 50):
                kern = SegmentQueryKernel(pdf, plan, idx._stats(), k)
                kern.PRUNE_MIN_BLOCKS = 0
                pr = kern._pruned_multi(ast)
                assert pr is not None, (q, k)
                want = _topk(*SegmentQueryKernel(pdf, plan, idx._stats(), k)
                             .eval(ast), k)
                assert len(want[0]) == k, (q, k)
                assert pr[0].tolist() == want[0].tolist(), (q, k)
                assert pr[1].tolist() == want[1].tolist(), (q, k)
                seen |= set(pr[0].tolist())
        return seen

    # every 3rd hit, plus the first three 64-doc shards whole: blocks
    # whose docs are all deleted decode to nothing
    victims = sorted(check())[::3] + list(range(192))
    idx.delete_docs(victims)
    assert not check() & set(victims)


def test_pruned_path_skips_blocks_emptied_by_deletes(spark, tmp_path):
    """Blocks whose every doc is tombstoned decode to nothing; the
    pruned path must step over them (a whole chunk of such blocks
    included) and stay bit-identical to the exhaustive path."""
    import random

    from groonga_spark.ql import parse_query
    from groonga_spark.wand import SegmentQueryKernel, _topk

    rng = random.Random(5)
    vocab = ([f"{c}{i}" for c in "pqr" for i in range(60)]
             + ["alpha", "beta", "gamma"])
    rows = []
    for d in range(4000):
        words = []
        if rng.random() < 0.5:
            words += ["alpha"] * (20 if d < 100 else 1)
        if rng.random() < 0.4:
            words += ["beta"] * (15 if 1000 <= d < 1100 else 1)
        words += [rng.choice(vocab) for _ in range(rng.randrange(3, 25))]
        rng.shuffle(words)
        rows.append((d, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_emptied")
    build_index(spark, docs, path, mode="delimit", segment_size=1 << 20,
                shard_size=48)
    idx = FulltextIndex(spark, path)
    idx.delete_docs(list(range(0, 4000, 7)))
    for q in ["q*", "q20 OR q*", "q* alpha", "(q* OR alpha) -beta"]:
        ast = idx._expand_ast(parse_query(q))
        plan = idx._plan(ast)
        pdf = idx._local_blocks(plan["needed_tids"], plan, force=True)
        for scorer in (None, "tf_idf"):
            st = idx._stats(scorer)
            for k in (1, 10, 50):
                kern = SegmentQueryKernel(pdf, plan, st, k)
                kern.PRUNE_MIN_BLOCKS = 0
                pr = kern._pruned_multi(ast)
                want = _topk(*SegmentQueryKernel(pdf, plan, st, k).eval(ast),
                             k)
                assert pr is not None, (q, k, scorer)
                assert pr[0].tolist() == want[0].tolist(), (q, k, scorer)
                assert pr[1].tolist() == want[1].tolist(), (q, k, scorer)


def test_external_tombstones_executor_side(spark, corpus, tmp_path):
    """Past TOMBSTONE_DRIVER_MAX the driver must never materialize the
    tombstone set: the plan carries a marker, queries auto-route to the
    cluster, and each (segment, shard) is cogrouped with only its doc
    range's tombstones. Results must equal the driver-mask path."""
    docs, rows = corpus
    path = str(tmp_path / "tomb_idx")
    build_index(spark, docs, path, mode="delimit", segment_size=200)

    idx = FulltextIndex(spark, path)
    doomed = sorted(d for d, _ in rows)[::3][:150]  # every 3rd doc
    # DataFrame form: tombstones written from the executors
    idx.delete_docs(spark.createDataFrame([(int(d),) for d in doomed],
                                          "doc_id long"))

    queries = ["spark", "spark merge", "spark OR stream", "table -scan",
               '"spark fast"']
    # baseline: the small-set driver-mask path
    want = {q: [(r["doc_id"], r["score"])
                for r in idx.search(q, 10, use_cache=False).collect()]
            for q in queries}
    want_match = {q: {r["doc_id"] for r in idx.match_docs(q).collect()}
                  for q in queries}
    for q in queries:
        assert not (set(d for d, _ in want[q]) & set(doomed))

    # force the external path on a FRESH handle and PROVE the driver
    # never materializes the set: tombstones() raises if called
    idx2 = FulltextIndex(spark, path)
    idx2.TOMBSTONE_DRIVER_MAX = 0

    def boom():
        raise AssertionError("driver materialized the tombstone set")

    idx2.tombstones = boom
    for q in queries:
        got = [(r["doc_id"], r["score"])
               for r in idx2.search(q, 10, use_cache=False).collect()]
        assert got == want[q], q
        gm = {r["doc_id"] for r in idx2.match_docs(q).collect()}
        assert gm == want_match[q], q


def test_lexicon_driver_path_matches_distributed(spark, corpus, tmp_path,
                                                 monkeypatch):
    """The driver-side lexicon fast path (duckdb merge-sort of stage-1
    vocab partials + arange ids) must be bit-identical to the
    distributed assign_dense_ids path — including non-ASCII terms, where
    a collation mismatch (duckdb ORDER BY vs Spark's unsigned UTF-8 byte
    sort) would silently permute term_ids."""
    import groonga_spark.build as B

    docs, rows = corpus
    extra = spark.createDataFrame(
        [
            (max(r[0] for r in rows) + 1, "東京 データ 検索 naïve café"),
            (max(r[0] for r in rows) + 2, "Åpple zebra ημέρα 東京 café"),
        ],
        "doc_id long, text string",
    )
    full = docs.select("doc_id", "text").unionByName(extra)

    outs = {}
    for name, cap in (("driver", B.LEXICON_DRIVER_MAX), ("dist", 0)):
        monkeypatch.setattr(B, "LEXICON_DRIVER_MAX", cap)
        path = str(tmp_path / f"idx_{name}")
        build_index(spark, full, path, mode="delimit", segment_size=200)
        store = IndexStore(path)
        lex = [
            tuple(r)
            for r in spark.read.parquet(store.base("lexicon"))
            .select("term", "term_id", "df", "cf").orderBy("term_id")
            .collect()
        ]
        post = [
            tuple(r)
            for r in spark.read.parquet(store.base("postings"))
            .orderBy("term_id", "segment", "block_id").collect()
        ]
        outs[name] = (lex, post)
    assert outs["driver"][0] == outs["dist"][0]
    assert outs["driver"][1] == outs["dist"][1]


def test_lexicon_falls_back_without_vocab_partials(spark, corpus, tmp_path):
    """A pre-upgrade index (no stage-1 vocab partials) must finalize via
    the block-scan fallback and produce the identical lexicon."""
    import groonga_spark.build as B

    docs, _ = corpus
    path = str(tmp_path / "idx_novocab")
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    store = IndexStore(path)
    before = [
        tuple(r)
        for r in spark.read.parquet(store.base("lexicon"))
        .select("term", "term_id", "df", "cf").orderBy("term_id").collect()
    ]
    shutil.rmtree(store.p("vocab"))
    B.finalize_index(spark, store, "delimit", segment_size=200)
    after = [
        tuple(r)
        for r in spark.read.parquet(store.base("lexicon"))
        .select("term", "term_id", "df", "cf").orderBy("term_id").collect()
    ]
    assert before == after


def test_empty_vocabulary_build(spark, tmp_path, monkeypatch):
    """A corpus whose documents tokenize to ZERO terms (all-whitespace
    text) must build a valid empty index on BOTH lexicon routes — the
    driver fast path used to crash on empty-schema inference after the
    lexicon dir was already swapped in."""
    import groonga_spark.build as B

    docs = spark.createDataFrame(
        [(0, "   "), (1, ""), (2, " \t ")], "doc_id long, text string"
    )
    for name, cap in (("driver", B.LEXICON_DRIVER_MAX), ("dist", 0)):
        monkeypatch.setattr(B, "LEXICON_DRIVER_MAX", cap)
        path = str(tmp_path / f"empty_{name}")
        build_index(spark, docs, path, mode="delimit", segment_size=10)
        store = IndexStore(path)
        assert spark.read.parquet(store.base("lexicon")).count() == 0
        idx = FulltextIndex(spark, path)
        assert idx.meta["n_docs"] == 3
        assert idx.search("anything", 10, use_cache=False).count() == 0


def test_dataframe_delete_compacts_small_sets(spark, corpus, tmp_path):
    """A small DataFrame-form delete must adopt ONE tombstone file, not
    one near-empty part per shuffle partition (repeated small deletes
    would otherwise inflate every per-query footer scan), and the
    per-plan row estimate must be cached between queries."""
    docs, rows = corpus
    path = str(tmp_path / "compact_idx")
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    idx = FulltextIndex(spark, path)

    doomed = sorted(d for d, _ in rows)[:40]
    idx.delete_docs(spark.createDataFrame([(int(d),) for d in doomed],
                                          "doc_id long"))
    d = idx.store.p("tombstones")
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) == 1, files

    got = {r["doc_id"] for r in idx.match_docs("spark").collect()}
    assert not (got & set(doomed))

    # estimate caching: first call computes, second must not re-open
    # footers (delete_docs/generation changes invalidate the cache)
    assert idx._tombstone_rows_estimate() == 40
    import pyarrow.parquet as pq

    def boom(*a, **k):
        raise AssertionError("footer re-opened despite cache")

    import unittest.mock as mock

    with mock.patch.object(pq, "ParquetFile", boom):
        assert idx._tombstone_rows_estimate() == 40
    idx.delete_docs([10**9])  # invalidates; next call recomputes
    assert idx._tombstone_rows_estimate() == 41


def test_rk_expand_hepburn_n_apostrophe_and_tch(spark):
    """Standard Hepburn inputs the table used to dead-end on: n' (the
    explicit syllabic ン before a vowel) and the tch sokuon spelling."""
    from groonga_spark.rk import rk_expand

    assert rk_expand("kon'na") == ["コンナ"]
    assert rk_expand("matchi") == ["マッチ"]
    assert rk_expand("matcha") == ["マッチャ"]
    assert "マッチ" in rk_expand("matc")


def test_similar_tolerates_oov_tokens(spark, corpus, built, oracle):
    """*S similar-search is an OR over the text's tokens: an
    out-of-vocabulary token contributes NOTHING (a phrase's unknown
    token empties the leaf; similar must not) — engine ≡ oracle."""
    got = {(r["doc_id"], round(r["score"], 9))
           for r in built.match_docs('*S"spark qqqzzzunknown"').collect()}
    want_docs = {r["doc_id"] for r in built.match_docs("spark").collect()}
    assert {d for d, _ in got} == want_docs and got
    o = oracle._similar("spark qqqzzzunknown")
    assert {d for d, _ in got} == set(o)
    # all-unknown text still yields empty
    assert built.match_docs('*S"qqq zzz www9x"').count() == 0


def test_positional_queries_on_huge_sparse_doc_ids(spark, tmp_path):
    """Snowflake-scale doc ids: the builder enumerates only OCCUPIED
    segments (never range(max_id // size)), and the phrase/near
    checkers pack candidate ORDINALS — raw ids of any magnitude can't
    wrap the int64 (doc, pos) key."""
    big = 1 << 50
    docs = spark.createDataFrame(
        [(big, "spark fast engine"), (big + 10**9, "spark slow"),
         (big + 2 * 10**9, "fast spark reversed")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "big_id_idx")
    build_index(spark, docs, path, mode="delimit", segment_size=1 << 20)
    idx = FulltextIndex(spark, path)
    assert {r["doc_id"] for r in idx.match_docs("spark").collect()} == \
        {big, big + 10**9, big + 2 * 10**9}
    # phrase adjacency must be exact at this magnitude
    assert [r["doc_id"] for r in
            idx.match_docs('"spark fast"').collect()] == [big]
    assert idx.match_docs('*N2"spark engine"').count() == 1
    # absurd geometry still refuses loudly instead of overflowing shards
    with pytest.raises(ValueError, match="int32"):
        build_index(spark, docs, str(tmp_path / "bad_geom"),
                    mode="delimit", segment_size=1 << 45)


def test_fuzz_random_queries_vs_python_oracle(built, oracle):
    """Independent-implementation fuzz: 80 random QL queries (terms,
    phrases, nears, similars, ORs, NOTs, unknown tokens) — the engine's
    doc set AND scores must match the pure-Python oracle to 1e-6. Unlike
    the pruned≡exhaustive fuzzers, the two sides here share NO kernel
    code (this guards e.g. the positional checkers' key packing)."""
    import random

    from groonga_spark.ql import parse_query

    rng = random.Random(4242)
    vocab = ["spark", "merge", "table", "scan", "stream", "window",
             "fast", "slow", "index", "query", "vector", "join", "zzznope"]

    def leaf():
        r = rng.random()
        t = rng.choice(vocab)
        if r < 0.45:
            return t
        if r < 0.60:
            return f'"{t} {rng.choice(vocab)}"'
        if r < 0.72:
            return f'*N{rng.randrange(1, 6)}"{t} {rng.choice(vocab)}"'
        if r < 0.86:
            return f"({t} OR {rng.choice(vocab)})"
        return f'*S"{t} {rng.choice(vocab)}"'

    nonempty = 0
    for _ in range(80):
        parts = [leaf() for _ in range(rng.randrange(1, 3))]
        if rng.random() < 0.4:
            parts.append(f"-{rng.choice(vocab)}")
        q = " ".join(parts)
        want = oracle.eval(parse_query(q))
        got = {r["doc_id"]: r["score"]
               for r in built.match_docs(q).collect()}
        assert set(got) == set(want), q
        for d, s in got.items():
            assert abs(s - want[d]) <= 1e-6, (q, d, s, want[d])
        nonempty += bool(got)
    assert nonempty >= 40  # the fuzz actually exercises matches


def test_segment_numbering_exact_past_2_53(spark, tmp_path):
    """Occupied-segment enumeration must use INTEGER division: Spark's
    `/` on bigint returns double, and above 2^53 a doc just below a
    segment boundary rounds into the NEXT segment number while
    build_segment's range filter uses exact int64 bounds — the doc's
    true segment is never listed and the doc silently vanishes."""
    seg = 1 << 23
    k = (1 << 31) - 1           # max int32 segment number
    boundary_id = k * seg - 1   # = 2^54 - 2^23 - 1: double rounds UP to k*seg
    assert float(boundary_id) == float(k * seg)  # the trap is real
    docs = spark.createDataFrame(
        [(0, "alpha common"), (boundary_id, "zzzunique common")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx_2p53")
    build_index(spark, docs, path, mode="delimit",
                segment_size=seg, shard_size=seg)
    idx = FulltextIndex(spark, path)
    assert idx.meta["n_docs"] == 2
    got = {r["doc_id"] for r in idx.match_docs("zzzunique").collect()}
    assert got == {boundary_id}
    assert {r["doc_id"] for r in idx.match_docs("common").collect()} == \
        {0, boundary_id}


def test_big_dataframe_delete_adopts_stage_atomically(spark, corpus,
                                                      tmp_path):
    """Past TOMBSTONE_DRIVER_MAX the staged executor-written tombstone
    parts are adopted as ONE t-<uuid> directory rename (all-or-nothing,
    never a per-file loop a crash could leave half-applied); every
    reader recurses into t-* dirs."""
    docs, rows = corpus
    path = str(tmp_path / "tomb_atomic_idx")
    build_index(spark, docs, path, mode="delimit", segment_size=200)

    idx = FulltextIndex(spark, path)
    idx.TOMBSTONE_DRIVER_MAX = 0   # force the adopt-as-is branch
    doomed = sorted(d for d, _ in rows)[::5][:60]
    idx.delete_docs(spark.createDataFrame([(int(d),) for d in doomed],
                                          "doc_id long"))

    tomb_dir = IndexStore(path).p("tombstones")
    entries = [e for e in os.listdir(tomb_dir) if e.startswith("t-")]
    assert entries and all(
        os.path.isdir(os.path.join(tomb_dir, e)) for e in entries
    )
    # no stray root-level part files, no leftover staging dirs
    assert not any(e.endswith(".parquet") for e in os.listdir(tomb_dir))
    assert not any(e.startswith(".stage") for e in os.listdir(tomb_dir))

    # all three readers see through the directory
    fresh = FulltextIndex(spark, path)
    assert set(fresh.tombstones().tolist()) == set(doomed)
    assert fresh._tombstone_rows_estimate() == len(doomed)
    hits = {r["doc_id"] for r in fresh.match_docs("spark").collect()}
    assert not hits & set(doomed)
    # and the distributed (executor-masked) path reads it via Spark
    fresh2 = FulltextIndex(spark, path)
    fresh2.TOMBSTONE_DRIVER_MAX = 0
    got = {r["doc_id"]
           for r in fresh2.match_docs("spark").collect()}
    assert got == hits


def test_prefix_prod_path_never_materializes_matched_rows(spark, tmp_path):
    """Past PREFIX_DRIVER_SCAN_MAX lexicon terms, prefix planning must
    run as ONE Spark min/max/count/sum aggregation (range predicate
    pushed to the scan) — a hot prefix over a huge lexicon never fetches
    the matched (term_id, df) rows to the driver — and the returned
    range, term list, and search results must be identical to the
    driver pyarrow path."""
    import pyarrow.dataset as pds
    import pytest as _pytest

    rows = [(i, f"pre{i:04d} common filler{i % 7}") for i in range(400)]
    rows += [(400 + i, f"zother{i} common") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_hotprefix")
    build_index(spark, docs, path, mode="delimit", segment_size=200)

    idx = FulltextIndex(spark, path)
    want_range = idx._prefix_tid_range("pre")
    want_terms = idx._prefix_terms("pre")
    want_hits = [(r["doc_id"], r["score"])
                 for r in idx.search("pre* common", 15).collect()]
    assert want_range is not None and want_range[2] == 400

    idx2 = FulltextIndex(spark, path)
    idx2.PREFIX_DRIVER_SCAN_MAX = 0  # force the prod branch

    def boom(*a, **k):
        raise AssertionError("driver materialized lexicon rows via pyarrow")

    with _pytest.MonkeyPatch.context() as mp:
        # the Spark branch must not open the lexicon with pyarrow at all:
        # neither as a dataset nor through the row-group reader every
        # driver read of the lexicon goes through
        mp.setattr(pds, "dataset", boom)
        mp.setattr(FulltextIndex, "_table_rows", boom)
        got_range = idx2._prefix_tid_range("pre")
        assert got_range == want_range
        assert idx2._prefix_tid_range("nosuchprefix") is None

    idx2._prefix_terms_pyarrow = boom
    assert idx2._prefix_terms("pre") == want_terms
    with _pytest.warns(UserWarning, match="matches more than 5"):
        assert idx2._prefix_terms("pre", limit=5) == want_terms[:5]

    got_hits = [(r["doc_id"], r["score"])
                for r in idx2.search("pre* common", 15,
                                     use_cache=False).collect()]
    assert got_hits == want_hits


def test_prefix_expansion_never_enumerates(spark, tmp_path, monkeypatch):
    """A prefix leaf always plans as a TermRange — a prefix with no
    finite successor (all U+10FFFF) included, as the open range [p, ∞)
    — so planning never enumerates lexicon terms through _prefix_terms,
    on either lexicon branch."""
    top = "\U0010FFFF"
    rows = [(0, f"{top}a common"), (1, f"{top}b common"),
            (2, "zeta common"), (3, f"{top}{top}c"), (4, "prefab common")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_open_prefix")
    build_index(spark, docs, path, mode="delimit", segment_size=200)

    def boom(*a, **k):
        raise AssertionError("prefix planning enumerated lexicon terms")

    monkeypatch.setattr(FulltextIndex, "_prefix_terms", boom)
    for scan_max in (FulltextIndex.PREFIX_DRIVER_SCAN_MAX, 0):
        idx = FulltextIndex(spark, path)
        idx.PREFIX_DRIVER_SCAN_MAX = scan_max
        for q, want in [(f"{top}*", {0, 1, 3}), (f"{top}{top}*", {3}),
                        ("pre*", {4}), ("nosuch*", set())]:
            got = {r["doc_id"] for r in idx.match_docs(q).collect()}
            assert got == want, (scan_max, q)
            top_k = {r["doc_id"] for r in
                     idx.search(f"{q} OR zeta", 10).collect()}
            assert top_k == want | {2}, (scan_max, q)


def test_similar_rare_term_selection_bounds_the_plan(spark, corpus, built,
                                                     oracle):
    """*S on a LONG input must plan a bounded leaf set: the expand-time
    rewrite keeps only the SIMILAR_MAX_TERMS rarest (df asc, term asc)
    known tokens [G: grn_ii_similar_search rare-term selection], the
    plan's postings predicate covers exactly those tids, and results
    match the oracle's identically-selected token set."""
    from groonga_spark.ql import Similar, parse_query

    docs, rows = corpus
    # a long input: several whole documents concatenated
    long_text = " ".join(t for _, t in rows[:20])
    n_distinct = len(set(long_text.split()))
    assert n_distinct > 5

    built.SIMILAR_MAX_TERMS = 5
    oracle.SIMILAR_MAX_TERMS = 5
    try:
        ast = built._expand_ast(parse_query(f'*S"{long_text}"'))
        assert isinstance(ast, Similar)
        assert ast.tids is not None and len(ast.tids) == 5
        plan = built._plan(ast)
        assert len(plan["needed_tids"]) == 5  # postings fetch is bounded

        # selection = 5 rarest by (df asc, term asc), from the oracle's
        # own df table
        want_terms = sorted(
            {t for t in set(long_text.split()) if t in oracle.postings},
            key=lambda t: (len(oracle.postings[t]), t),
        )[:5]
        lex = {r["term_id"]: r["term"] for r in built.lexicon.collect()}
        assert sorted(lex[t] for t, _ in ast.tids) == sorted(want_terms)

        got = [(r["doc_id"], r["score"])
               for r in built.search(f'*S"{long_text}"', 10,
                                     use_cache=False).collect()]
        want = oracle.search(f'*S"{long_text}"', 10)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-6
    finally:
        del built.SIMILAR_MAX_TERMS
        oracle.SIMILAR_MAX_TERMS = 30


def test_tf_idf_scorer_rank_identity(spark, corpus, built):
    """The registered tf_idf scorer [G: lib/scorer.c · scorer_tf_idf]
    must match a brute-force tf×idf oracle rank- and score-identically
    on BOTH the driver-local and the distributed path; the default
    stays BM25."""
    docs, rows = corpus
    o = OracleIndex(rows, mode="delimit", scorer="tf_idf")
    queries = ["spark", "spark merge", "spark OR stream", "table -scan",
               '"spark fast"', '*N4"spark merge"']
    for q in queries:
        got = [(r["doc_id"], r["score"])
               for r in built.search(q, 10, scorer="tf_idf",
                                     use_cache=False).collect()]
        want = o.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], (q, got, want)
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-6, q
    # distributed ≡ local under the non-default scorer
    dist = [(r["doc_id"], round(r["score"], 9)) for r in
            _cluster_handle(spark, built.store.path)
            .search("spark merge", 10, scorer="tf_idf",
                    use_cache=False).collect()]
    loc = [(r["doc_id"], round(r["score"], 9)) for r in
           built.search("spark merge", 10, scorer="tf_idf",
                        use_cache=False).collect()]
    assert dist == loc
    # default stays BM25: same index, different scorer → different scores
    bm = [(r["doc_id"], r["score"])
          for r in built.search("spark", 10, use_cache=False).collect()]
    ti = [(r["doc_id"], r["score"])
          for r in built.search("spark", 10, scorer="tf_idf",
                                use_cache=False).collect()]
    assert bm != ti
    import pytest as _pytest

    with _pytest.raises(KeyError, match="unknown scorer"):
        built.search("spark", 10, scorer="nope", use_cache=False)


def test_pruned_path_fuzz_tf_idf_scorer(spark, tmp_path):
    """Pruned ≡ exhaustive, bit-identical, under the NON-DEFAULT scorer:
    the scorer's block bound is threaded through all three kernels
    (single-term WAND, interval pruner, pooled TermRange)."""
    import random

    from groonga_spark.ql import parse_query
    from groonga_spark.wand import SegmentQueryKernel, _topk

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(10)] + ["alpha", "beta"]
    rows = []
    for d in range(2500):
        words = ["alpha"] * (20 if d < 80 else 1) if rng.random() < 0.5 \
            else []
        words += [rng.choice(vocab) for _ in range(rng.randrange(4, 24))]
        rng.shuffle(words)
        rows.append((d, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_fuzz_tfidf")
    build_index(spark, docs, path, mode="delimit", segment_size=1 << 20,
                shard_size=40)
    idx = FulltextIndex(spark, path)
    stats = idx._stats("tf_idf")
    assert stats["scorer"] == "tf_idf"

    def rand_query():
        t = rng.choice(vocab + ["zzznope"])
        r = rng.random()
        if r < 0.25:
            return t
        if r < 0.45:
            return f"{t} {rng.choice(vocab)}"
        if r < 0.6:
            return f"({t} OR {rng.choice(vocab)}) {rng.choice(vocab)}"
        if r < 0.75:
            return f'"{t} {rng.choice(vocab)}" OR {rng.choice(vocab)}'
        if r < 0.9:
            return t[: rng.randrange(1, 2)] + "*"  # TermRange pooled
        return f"{t} -{rng.choice(vocab)}"

    pruned_used = 0
    for _ in range(60):
        q = rand_query()
        ast = idx._expand_ast(parse_query(q))
        plan = idx._plan(ast)
        if not (plan["needed_tids"] or plan["tid_ranges"]):
            continue
        pdf = idx._local_blocks(plan["needed_tids"], plan, force=True)
        if pdf is None:
            continue
        k = rng.choice([1, 5, 20])
        kern = SegmentQueryKernel(pdf, plan, stats, k)
        kern.PRUNE_MIN_BLOCKS = 0
        pr = kern._pruned_multi(ast)
        want = _topk(*SegmentQueryKernel(pdf, plan, stats, k).eval(ast), k)
        if pr is None:
            continue
        pruned_used += 1
        assert (pr[0] == want[0]).all(), (q, k)
        assert (pr[1] == want[1]).all(), (q, k)
    assert pruned_used >= 30, pruned_used


def test_register_custom_scorer(spark, corpus, built):
    """register_scorer is the §2.11 extension point: a user scorer
    (score fn + strict block bound) drives the pruned kernels through
    search(scorer=name)."""
    import numpy as np

    from groonga_spark.score import SCORERS, register_scorer

    def tf_only(tf, dl, idf_el, avgdl, k1, b):
        return np.asarray(tf).astype(np.float64)

    def tf_only_bound(max_tf, min_dl, idf_el, avgdl, k1, b):
        return np.asarray(max_tf, np.float64)

    register_scorer("tf_only", tf_only, tf_only_bound,
                    idf_fn=lambda df, n: 1.0)
    try:
        docs, rows = corpus
        got = [(r["doc_id"], r["score"])
               for r in built.search("spark", 5, scorer="tf_only",
                                     use_cache=False).collect()]
        # brute force: tf of 'spark' per doc, top-5 (score desc, id asc)
        tfs = [(d, float(t.split().count("spark")))
               for d, t in rows if "spark" in t.split()]
        want = sorted(tfs, key=lambda kv: (-kv[1], kv[0]))[:5]
        assert got == want
    finally:
        SCORERS.pop("tf_only", None)


def test_pattern_tokenized_index_rank_identity(spark, corpus, tmp_path):
    """End-to-end index + search under the pattern-extraction tokenizer
    (mode pattern:[a-z]{3,}): rank/score identity vs the oracle running
    the SAME mode, and phrase adjacency follows the pattern token
    stream (short words never enter it)."""
    docs, rows = corpus
    path = str(tmp_path / "idx_pattern")
    mode = "pattern:[a-z]{3,}"
    build_index(spark, docs, path, mode=mode, segment_size=200)
    idx = FulltextIndex(spark, path)
    assert idx.meta["tokenizer_mode"] == mode
    o = OracleIndex(rows, mode=mode)

    for q in ["spark", "spark merge", '"spark merge"', "table -scan"]:
        got = [(r["doc_id"], r["score"])
               for r in idx.search(q, 10, use_cache=False).collect()]
        want = o.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-6, q

    # the 1-char/2-char words never became terms
    lex_terms = {r["term"] for r in idx.lexicon.collect()}
    assert "a" not in lex_terms
    assert all(len(t) >= 3 for t in lex_terms)


def test_split_tokenized_index(spark, tmp_path):
    """Regex-DELIMITED tokenizer (split:<regex>): tokens are the gaps
    between delimiter matches — CSV-ish fields, phrases included."""
    rows = [(0, "alpha,beta;;gamma delta"), (1, "beta,alpha"),
            (2, "gamma delta,alpha")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_split")
    build_index(spark, docs, path, mode="split:[,;]+", segment_size=10)
    idx = FulltextIndex(spark, path)
    assert {r["term"] for r in idx.lexicon.collect()} == {
        "alpha", "beta", "gamma delta"}
    assert {r["doc_id"] for r in idx.match_docs("alpha").collect()} == \
        {0, 1, 2}
    # a multi-word FIELD is one token: quoted phrase query tokenizes to
    # that single token under the same mode
    assert {r["doc_id"]
            for r in idx.match_docs('"gamma delta"').collect()} == {0, 2}


def test_zero_row_dataframe_delete_leaves_no_tombstones(spark, corpus,
                                                        tmp_path):
    """A DataFrame delete matching ZERO rows must not adopt its
    schema-only staged parts as a live t-* entry (junk files + spurious
    cache-generation bumps)."""
    docs, _ = corpus
    path = str(tmp_path / "tomb_zero_idx")
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    idx = FulltextIndex(spark, path)
    gen0 = idx._cache_generation()
    idx.TOMBSTONE_DRIVER_MAX = 0  # even on the adopt-as-is branch
    idx.delete_docs(spark.createDataFrame([(10**12,)], "doc_id long")
                    .filter("doc_id < 0"))  # empty set
    d = IndexStore(path).p("tombstones")
    assert not os.path.isdir(d) or not os.listdir(d)
    assert idx._cache_generation() == gen0
    assert idx._tombstone_rows_estimate() == 0


def test_cache_generation_ignores_staging_dirs(spark, corpus, tmp_path):
    """The generation's tombstone count must see only LIVE entries: an
    in-flight dot-stage dir is invisible, so the later t-<uuid>
    adoption rename still bumps the count by one (a handle that read
    the generation mid-stage can't keep serving deleted docs)."""
    docs, _ = corpus
    path = str(tmp_path / "tomb_gen_idx")
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    idx = FulltextIndex(spark, path)
    d = IndexStore(path).p("tombstones")
    os.makedirs(os.path.join(d, ".stage-abc"))
    gen_staging = idx._cache_generation()
    os.replace(os.path.join(d, ".stage-abc"), os.path.join(d, "t-abc"))
    assert idx._cache_generation() != gen_staging


def test_similar_rides_the_pruned_kernel(spark, tmp_path):
    """Rare-term-bounded *S is an or-kind group in the interval pruner
    (ascending-tid member order == the exhaustive _union_add sequence):
    root Similar, Similar inside OR, and Similar as an AND child all
    prune bit-identically instead of falling back to exhaustive."""
    import random

    from groonga_spark.ql import parse_query
    from groonga_spark.wand import SegmentQueryKernel, _topk

    rng = random.Random(4242)
    vocab = [f"w{i}" for i in range(14)] + ["alpha", "beta"]
    rows = []
    for d in range(3000):
        words = ["alpha"] * (22 if d < 90 else 1) if rng.random() < 0.5 \
            else []
        words += [rng.choice(vocab) for _ in range(rng.randrange(4, 26))]
        rng.shuffle(words)
        rows.append((d, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx_sim_pruned")
    build_index(spark, docs, path, mode="delimit", segment_size=1 << 20,
                shard_size=48)
    idx = FulltextIndex(spark, path)

    def sim(n_toks):
        toks = [rng.choice(vocab + ["zzznope"]) for _ in range(n_toks)]
        return '*S"' + " ".join(toks) + '"'

    pruned_used = 0
    for _ in range(40):
        shape = rng.randrange(3)
        if shape == 0:
            q = sim(rng.randrange(2, 10))
        elif shape == 1:
            q = f"{sim(rng.randrange(2, 6))} OR {rng.choice(vocab)}"
        else:
            q = f"{sim(rng.randrange(2, 6))} {rng.choice(vocab)}"
        ast = idx._expand_ast(parse_query(q))
        plan = idx._plan(ast)
        if not plan["needed_tids"]:
            continue
        pdf = idx._local_blocks(plan["needed_tids"], plan, force=True)
        k = rng.choice([1, 5, 20])
        kern = SegmentQueryKernel(pdf, plan, idx._stats(), k)
        kern.PRUNE_MIN_BLOCKS = 0
        pr = kern._pruned_multi(ast)
        assert pr is not None, q  # *S shapes must take the pruned path
        want = _topk(*SegmentQueryKernel(pdf, plan, idx._stats(), k)
                     .eval(ast), k)
        assert (pr[0] == want[0]).all(), (q, k)
        assert (pr[1] == want[1]).all(), (q, k)
        pruned_used += 1
    assert pruned_used >= 30
