"""Appends as delta generations (build.py module docstring): a seeded
append-then-query ≡ rebuild fuzzer on both routes, and crash safety of
an append between its segment commit and its meta.json commit."""

from __future__ import annotations

import json
import os
import random
import shutil

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from groonga_spark import build
from groonga_spark.build import (
    DELTA_MAX,
    IndexStore,
    build_index,
    compact_index,
)
from groonga_spark.multifield import (
    MultiFieldIndex,
    append_multifield,
    build_multifield_index,
)
from groonga_spark.search import FulltextIndex
from groonga_spark.streaming import append_docs

SCHEMA = "doc_id long, title string, body string"
BASE_DOCS, BATCH_DOCS = 96, 24
VOCAB = ["spark", "merge", "table", "scan", "stream", "window", "fast",
         "slow", "index", "query", "vector", "join"]


def _rows(seed: int, n: int) -> list[tuple]:
    """Docs over a small vocabulary plus a rare word per batch, so that
    later batches bring terms the base lexicon does not have."""
    rng = random.Random(seed)
    out = []
    for d in range(n):
        words = VOCAB + [f"rare{d // BATCH_DOCS}"]
        title = " ".join(rng.choice(words) for _ in range(rng.randrange(1, 4)))
        body = " ".join(rng.choice(words) for _ in range(rng.randrange(3, 20)))
        out.append((d, title, "" if d % 13 == 0 else body))
    return out


def _queries(seed: int) -> list[tuple[str, str]]:
    rng = random.Random(seed)

    def w():
        return rng.choice(VOCAB + ["rare1", "rare4", "nope"])

    shapes = [
        lambda: w(),
        lambda: f"{w()} {w()}",
        lambda: f"{w()} OR {w()}",
        lambda: f"{w()} -{w()}",
        lambda: f'"{w()} {w()}"',
        lambda: f"{rng.choice(['s', 'sp', 'ra', 'w', 'q'])}*",
        lambda: f'*S"{w()} {w()} {w()}"',
        lambda: f"({w()} OR ra*) {w()}",
    ]
    specs = ["title||body", "title*3||body", "body"]
    return [(shape(), rng.choice(specs)) for shape in shapes] + [
        # a term inside its own prefix span, and overlapping spans: one
        # generation's term id is reached more than once
        ("spark sp*", "title||body"), ("rare1 OR ra*", "body"),
        ("s* sp*", "title*3||body")]


def _pairs(frame: DataFrame) -> list:
    return [(r["doc_id"], r["score"]) for r in frame.collect()]


def _answers(spark, path: str, queries, single: bool = True) -> dict:
    """Top-k and match sets, per query, on the multi-field handle and
    (``single``) on the body field's own handle."""
    mf = MultiFieldIndex(spark, path)
    body = mf.field("body")
    out = {}
    for q, mc in queries:
        out[q, mc] = (_pairs(mf.search(q, match_columns=mc, k=10)),
                      sorted(_pairs(mf.match_docs(q, match_columns=mc))))
        if single:
            out[q, "body-index"] = (
                _pairs(body.search(q, 10, use_cache=False)),
                sorted(_pairs(body.match_docs(q))))
    return out


def _reference(spark, rows, dead, path) -> None:
    build_multifield_index(spark, spark.createDataFrame(rows, SCHEMA), path,
                           ["title", "body"], mode="delimit", segment_size=64,
                           shard_size=16)
    if dead:
        MultiFieldIndex(spark, path).delete_docs(sorted(dead))


@pytest.mark.parametrize("seed", [5])
def test_append_then_query_equals_rebuild(spark, tmp_path, monkeypatch, seed):
    """Base build, then DELTA_MAX + 1 appends with deletes in between:
    after the first append and with the most deltas, every query shape
    answers exactly (rank and score, bit for bit — the df sums agree) as
    a from-scratch build of the same docs with the same tombstones, on
    the driver route and, with the most deltas, on the cluster route too
    (forced by a zero DRIVER_QUERY_MAX_BYTES or TOMBSTONE_DRIVER_MAX). The
    last append compacts past the cap, and a compaction leaves an index
    equal to a build of the live docs."""
    rng = random.Random(seed)
    n = BASE_DOCS + (DELTA_MAX + 1) * BATCH_DOCS
    rows = _rows(seed, n)
    queries = _queries(seed)
    path = str(tmp_path / "mf")
    build_multifield_index(spark, spark.createDataFrame(rows[:BASE_DOCS],
                                                        SCHEMA),
                           path, ["title", "body"], mode="delimit",
                           segment_size=64, shard_size=16)
    dead: set[int] = set()
    for step in range(1, DELTA_MAX + 2):
        cut = BASE_DOCS + step * BATCH_DOCS
        victims = rng.sample(range(cut - BATCH_DOCS), 3)
        MultiFieldIndex(spark, path).delete_docs(victims)
        dead.update(victims)
        append_multifield(spark, spark.createDataFrame(rows[:cut], SCHEMA),
                          path)
        deltas = IndexStore(os.path.join(path, "fields", "body")).read_meta()[
            "deltas"]
        assert len(deltas) == (step if step <= DELTA_MAX else 0), step
        if step not in (1, DELTA_MAX):
            continue
        ref = str(tmp_path / f"ref{step}")
        _reference(spark, rows[:cut], dead, ref)
        want = _answers(spark, ref, queries)
        assert _answers(spark, path, queries) == want, step
        if step == DELTA_MAX:
            want = _answers(spark, ref, queries, single=False)
            for attr in ("DRIVER_QUERY_MAX_BYTES", "TOMBSTONE_DRIVER_MAX"):
                with monkeypatch.context() as m:
                    m.setattr(FulltextIndex, attr, 0)
                    assert _answers(spark, path, queries,
                                    single=False) == want, attr

    # the compacting append folded the tombstones too: it equals a build
    # of the live docs, and so does an explicit compaction after another
    # append and delete
    live = [r for r in rows if r[0] not in dead]
    ref = str(tmp_path / "ref_live")
    _reference(spark, live, set(), ref)
    assert _answers(spark, path, queries) == _answers(spark, ref, queries)

    more = _rows(seed + 1, n + BATCH_DOCS)[n:]
    MultiFieldIndex(spark, path).delete_docs([1, 2])
    append_multifield(spark, spark.createDataFrame(rows + more, SCHEMA), path)
    for f in ("title", "body"):
        compact_index(spark, os.path.join(path, "fields", f))
    live = [r for r in rows + more if r[0] not in dead | {1, 2}]
    ref = str(tmp_path / "ref_live2")
    _reference(spark, live, set(), ref)
    assert _answers(spark, path, queries) == _answers(spark, ref, queries)


def _dump(path: str) -> dict:
    """Every table of an index as sorted rows, and meta.json — the
    lineage's wall-clock timestamps and the base's random id left out."""
    import pyarrow.dataset as ds

    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    base_id = meta.pop("base_id")
    out = {"meta.json": meta}
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        data = [f for f in files if f.endswith(".parquet")]
        if not data:
            continue
        tbl = ds.dataset(root, format="parquet").to_table()
        drop = [c for c in ("started_at", "finished_at")
                if c in tbl.column_names]
        rows = tbl.drop_columns(drop).to_pylist()
        out[os.path.relpath(root, path).replace(base_id, "<id>")] = sorted(
            (tuple(r.items()) for r in rows), key=repr)
    return out


def test_kill_mid_append_is_invisible_and_resumes(spark, tmp_path,
                                                  monkeypatch):
    """An append killed after its segment commits, or after its delta is
    finalized but before meta.json lists it, leaves readers answering
    from the old generation; re-running it gives an index equal (every
    table's rows and meta.json) to an append never interrupted."""
    rows = [(i, f"common word{i % 7}", "") for i in range(200)]
    batch = [(200 + i, f"common fresh word{i % 7}", "") for i in range(30)]
    docs0 = spark.createDataFrame(rows, SCHEMA).select("doc_id",
                                                       F.col("title").alias(
                                                           "text"))
    docs1 = spark.createDataFrame(rows + batch, SCHEMA).select(
        "doc_id", F.col("title").alias("text"))
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, docs0, a, mode="delimit", segment_size=128)
    shutil.copytree(a, b)

    handle = FulltextIndex(spark, a)
    assert handle.search("fresh", 5).collect() == []

    def old_state():
        for h in (handle, FulltextIndex(spark, a)):
            assert h.search("fresh", 5).collect() == []
            assert h.meta["n_docs"] == 200 and h.meta["deltas"] == []
            assert {r["doc_id"] for r in h.match_docs("common").collect()} \
                == set(range(200))

    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, docs1, a, mode=None, append_only=True,
                    fail_after_segments=1)
    assert 2 in IndexStore(a).committed_segments()
    old_state()
    lineage = sorted(os.listdir(IndexStore(a).p("lineage")))

    def crash(self, meta):
        raise RuntimeError("killed before the meta.json commit")

    with monkeypatch.context() as m:
        m.setattr(IndexStore, "write_meta", crash)
        with pytest.raises(RuntimeError, match="killed before"):
            append_docs(spark, docs1, a)
    assert os.path.isdir(IndexStore(a).p("deltas", "2", "postings"))
    old_state()
    # the committed segment matched its lineage: it was not rebuilt
    assert sorted(os.listdir(IndexStore(a).p("lineage"))) == lineage

    append_docs(spark, docs1, a)
    append_docs(spark, docs1, b)
    assert _dump(a) == _dump(b)
    assert {r["doc_id"] for r in handle.search("fresh", 50).collect()} == \
        set(range(200, 230))


def test_kill_mid_compaction_is_invisible_and_resumes(spark, tmp_path,
                                                      monkeypatch):
    """A compaction killed after it folded the tombstones into the
    segments and wrote the new base, but before meta.json names that
    base, leaves readers (and the next append) on the old base and its
    deltas, each doc counted once; re-running it gives an index equal to
    a compaction never interrupted."""
    rows = [(i, f"common word{i % 7}", "") for i in range(200)]
    batch = [(200 + i, f"common fresh word{i % 7}", "") for i in range(30)]

    def docs(n):
        return spark.createDataFrame((rows + batch)[:n], SCHEMA).select(
            "doc_id", F.col("title").alias("text"))

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, docs(200), a, mode="delimit", segment_size=128)
    append_docs(spark, docs(230), a)
    FulltextIndex(spark, a).delete_docs([3, 210])
    shutil.copytree(a, b)

    def answers(path):
        h = FulltextIndex(spark, path)
        return (h.meta["n_docs"],
                sorted(r["doc_id"] for r in h.match_docs("common").collect()),
                [(r["doc_id"], r["score"]) for r in h.search("fresh", 50)
                 .collect()])

    before = answers(a)
    assert before[0] == 230 and len(before[1]) == 228

    def crash(self, meta):
        raise RuntimeError("killed before the meta.json commit")

    with monkeypatch.context() as m:
        m.setattr(IndexStore, "write_meta", crash)
        with pytest.raises(RuntimeError, match="killed before"):
            compact_index(spark, a)
    assert len(os.listdir(IndexStore(a).p("base"))) == 2
    assert answers(a) == before
    assert len(IndexStore(a).read_meta()["deltas"]) == 1

    compact_index(spark, a)
    compact_index(spark, b)
    assert _dump(a) == _dump(b)
    assert len(os.listdir(IndexStore(a).p("base"))) == 1
    after = answers(a)
    assert after[0] == 228 and after[1] == before[1]


def test_append_past_term_bound_compacts(spark, tmp_path, monkeypatch):
    """An append that would take the summed lexicon sizes past
    PREFIX_DRIVER_SCAN_MAX compacts instead of adding a delta, so a
    multi-generation prefix plan never reads more lexicon runs on the
    driver than that bound."""
    rows = [(i, f"w{i} common") for i in range(40)]
    path = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(rows[:30], "doc_id long, "
                                             "text string"),
                path, mode="delimit", segment_size=16)
    n_terms = IndexStore(path).read_meta()["n_terms"]
    assert n_terms == 31
    monkeypatch.setattr(build, "PREFIX_DRIVER_SCAN_MAX", n_terms + 5)
    meta = append_docs(spark, spark.createDataFrame(
        rows[:33], "doc_id long, text string"), path)
    assert [d["n_terms"] for d in meta["deltas"]] == [4]
    assert meta["n_terms"] == n_terms  # the base's own count
    meta = append_docs(spark, spark.createDataFrame(
        rows, "doc_id long, text string"), path)
    assert meta["deltas"] == [] and meta["n_terms"] == 41
    idx = FulltextIndex(spark, path)
    assert sorted(r["doc_id"] for r in idx.search("w3*", 50).collect()) \
        == [3, 30, 31, 32, 33, 34, 35, 36, 37, 38, 39]


def test_index_is_current_checks_base_location(spark, tmp_path):
    """A cached index counts as current only when its base tables sit in
    the directory its meta.json names: one whose meta.json names a base
    that is not there (tables left at the root) is rebuilt, not read as
    an empty index."""
    from groonga_spark.build import index_is_current

    path = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(
        [(i, f"w{i} common") for i in range(20)], "doc_id long, text string"),
        path, mode="delimit")
    assert index_is_current(path, n_docs=20)
    base = IndexStore(path).base()
    for table in os.listdir(base):
        shutil.move(os.path.join(base, table), os.path.join(path, table))
    shutil.rmtree(base)
    assert not index_is_current(path, n_docs=20)


def test_compaction_rewrites_vocab_partials(spark, tmp_path, monkeypatch):
    """Compaction folds each segment's vocab partial with its blocks:
    after compact_index with tombstones, every committed segment's
    partial equals (term, Σn_docs, Σsum_tf) over its folded blocks, and
    the finalize merges those partials on the driver — it never takes
    the distributed assign_dense_ids route."""
    import pyarrow.dataset as ds

    rows = [(i, f"w{i % 9} common extra{i % 4}") for i in range(60)]
    path = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(rows[:48], "doc_id long, "
                                             "text string"),
                path, mode="delimit", segment_size=16)
    append_docs(spark, spark.createDataFrame(rows, "doc_id long, "
                                             "text string"), path)
    FulltextIndex(spark, path).delete_docs([1, 2, 20, 33, 50, 51])

    def boom(*a, **k):
        raise AssertionError("compaction took the distributed lexicon route")

    monkeypatch.setattr(build, "assign_dense_ids", boom)
    meta = compact_index(spark, path)
    assert meta["deltas"] == [] and meta["n_docs"] == 54

    store = IndexStore(path)
    segs = sorted(store.committed_segments())
    assert segs == [0, 1, 2, 3]
    for seg in segs:
        blocks = ds.dataset(store.p("segments", str(seg))).to_table(
            columns=["term", "n_docs", "sum_tf"]).to_pandas()
        want = (blocks[blocks["term"] != ""].groupby("term", as_index=False)
                .agg(df=("n_docs", "sum"), cf=("sum_tf", "sum")))
        got = ds.dataset(store.p("vocab", str(seg))).to_table().to_pandas()
        got = got.sort_values("term", ignore_index=True)
        assert got[["term", "df", "cf"]].astype(
            {"df": "int64", "cf": "int64"}).equals(
            want.astype({"df": "int64", "cf": "int64"})), seg
    # the deleted docs left the partials, hence the merged lexicon
    lex = FulltextIndex(spark, path).lexicon.toPandas().set_index("term")
    assert lex.loc["common", "df"] == 54
