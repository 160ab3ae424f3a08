"""Row-group-addressed driver reads (search._RowGroupDirectory): every
driver read of postings and lexicon decodes only the row groups whose
key min/max can hold the query's keys, and returns exactly the rows —
in the order — of a full dataset scan with the same filter, whatever
the file layout: one group per file, many small groups, no statistics."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from groonga_spark.build import IndexStore, build_index
from groonga_spark.search import FulltextIndex, _bounded_levenshtein

TOP = "\U0010FFFF"
ROWS_PER_GROUP = 8


def _doc(i: int) -> str:
    words = ["head", f"t{i % 97:03d}", f"t{(i * 7) % 89:03d}",
             f"pre{i % 50:02d}x"]
    if i % 40 == 0:
        words.append(f"{TOP}a")
    if i % 55 == 0:
        words.append(f"{TOP}{TOP}b")
    return " ".join(words)


@pytest.fixture(scope="module")
def base_path(spark, tmp_path_factory):
    rows = [(i, _doc(i)) for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("rg") / "idx")
    build_index(spark, docs, path, mode="delimit", segment_size=200,
                shard_size=64)
    return path


def _files(path: str, table: str) -> list[str]:
    return ds.dataset(IndexStore(path).base(table), format="parquet").files


def _relayout(src: str, dst: str, rows_per_group: int,
              write_statistics: bool = True) -> None:
    """Copy an index and rewrite its postings and lexicon files in place
    with ``rows_per_group``-row row groups (same files, same rows)."""
    shutil.copytree(src, dst)
    for table in ("postings", "lexicon"):
        for f in _files(dst, table):
            t = pq.read_table(f)
            pq.write_table(t, f, row_group_size=rows_per_group,
                           write_statistics=write_statistics)


@pytest.fixture(scope="module", params=["built", "small", "nostats"])
def layout_idx(request, spark, base_path, tmp_path_factory):
    """The same logical index in three layouts: as built (one row group
    per file at this size), ROWS_PER_GROUP-row groups, and the same small
    groups written without statistics."""
    if request.param == "built":
        path = base_path
        for table in ("postings", "lexicon"):
            for f in _files(path, table):
                assert pq.ParquetFile(f).metadata.num_row_groups <= 1
    else:
        path = str(tmp_path_factory.mktemp("rg_" + request.param) / "idx")
        _relayout(base_path, path, ROWS_PER_GROUP,
                  write_statistics=request.param == "small")
        for table in ("postings", "lexicon"):
            for f in _files(path, table):
                md = pq.ParquetFile(f).metadata
                assert md.num_rows == 0 or md.num_row_groups >= 8, (table, f)
    return request.param, path


def _scan(path: str, table: str, filt=None, columns=None) -> pd.DataFrame:
    return (ds.dataset(IndexStore(path).base(table), format="parquet")
            .to_table(columns=columns, filter=filt).to_pandas())


def _group_spans(path: str, table: str, key: str) -> list[tuple]:
    """(min, max) of ``key`` in every non-empty row group, from the data
    (the no-statistics layout has no footer stats to read)."""
    out = []
    for f in _files(path, table):
        pf = pq.ParquetFile(f)
        for i in range(pf.metadata.num_row_groups):
            col = pf.read_row_group(i, columns=[key]).column(key).to_pylist()
            if col:
                out.append((min(col), max(col)))
    return out


def _tid_filter(tids, ranges):
    f = ds.field("term_id").isin(list(tids)) if tids else None
    for lo, hi in ranges:
        rf = (ds.field("term_id") >= lo) & (ds.field("term_id") <= hi)
        f = rf if f is None else (f | rf)
    return f


def test_fetch_equals_full_scan(spark, layout_idx):
    name, path = layout_idx
    lex = _scan(path, "lexicon")
    n = len(lex)
    head = int(lex.loc[lex["term"] == "head", "term_id"].item())
    spans = _group_spans(path, "postings", "term_id")
    edges = sorted({int(t) for span in spans for t in span})
    if name != "built":
        # the head term's blocks span several row groups
        assert sum(lo <= head <= hi for lo, hi in spans) >= 2
        assert len(edges) > 4
    rng = np.random.default_rng(7)
    some = sorted(int(t) for t in rng.choice(n, 12, replace=False))
    cases = {
        "tids": (some, []),
        "ranges": ([], [(n // 4, n // 2)]),
        "both": (some, [(0, 3), (n - 5, n - 1)]),
        "group_edges": (edges, []),
        "spanning_term": ([head], []),
        "absent_tids": ([-1, n, n + 100], []),
        "absent_range": ([], [(n + 1, n + 50)]),
    }
    idx = FulltextIndex(spark, path)
    for case, (tids, ranges) in cases.items():
        want = _scan(path, "postings", _tid_filter(tids, ranges))
        got = idx._local_blocks(tids, {"df_by_tid": {}, "tid_ranges": ranges},
                                force=True)
        pd.testing.assert_frame_equal(got, want, obj=f"{name}/{case}")
        if case.startswith("absent"):
            assert got.empty
        else:
            assert len(got)


def test_lexicon_reads_equal_full_scan(spark, layout_idx):
    name, path = layout_idx
    lex = _scan(path, "lexicon")
    spans = _group_spans(path, "lexicon", "term")
    edges = sorted({t for span in spans for t in span})
    absent = ["", "a", "headx", "pre00", "zzz", TOP * 3]
    tokens = sorted(set(edges) | set(lex["term"].iloc[::7]) | set(absent))

    idx = FulltextIndex(spark, path)
    want = {r.term: (r.term, int(r.term_id), float(r.df))
            for r in lex.itertuples()}
    assert idx._lexicon_lookup(tokens) == [want[t] for t in tokens
                                           if t in want]

    if name != "built":  # the pre* family spans several lexicon groups
        lo = lex.loc[lex["term"].str.startswith("pre"), "term"]
        assert sum(a <= lo.max() and b >= lo.min() for a, b in spans) >= 2
    for p in ["pre", "pre1", "pre49x", "t0", "h", "nosuch", TOP, TOP * 2,
              TOP * 3]:
        hit = lex[lex["term"].map(lambda t, p=p: t.startswith(p))]
        want_rng = (None if hit.empty else
                    (int(hit["term_id"].min()), int(hit["term_id"].max()),
                     len(hit), float(hit["df"].sum())))
        assert idx._prefix_tid_range(p) == want_rng, (name, p)
        assert idx._prefix_terms_pyarrow(p) == sorted(hit["term"]), (name, p)
    # the open range [U+10FFFF, ∞) finds both astral terms
    assert idx._prefix_terms_pyarrow(TOP) == [f"{TOP}a", f"{TOP}{TOP}b"]

    for q, d, plen in [("hed", 1, 0), ("pre07", 2, 3), ("t01", 1, 1)]:
        want_f = sorted(
            (dist, t) for t in lex["term"]
            if t.startswith(q[:plen])
            and (dist := _bounded_levenshtein(t, q, d)) is not None
        )
        assert idx.fuzzy_terms(q, d, prefix_length=plen) == [
            t for _, t in want_f], (name, q)


def test_empty_key_set_fetches_nothing(spark, base_path, monkeypatch):
    """No tids and no ranges → an empty frame with the postings schema,
    without decoding a row group (the dataset read used to pass
    filter=None and decode the whole postings table)."""
    idx = FulltextIndex(spark, base_path)
    assert len(idx._local_blocks([0], {"df_by_tid": {}, "tid_ranges": []},
                                 force=True))

    def boom(*a, **k):
        raise AssertionError("an empty key set opened a postings file")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    got = idx._local_blocks([], {"df_by_tid": {}, "tid_ranges": []},
                            force=True)
    monkeypatch.undo()
    want = _scan(base_path, "postings", ds.field("term_id").isin([]))
    assert got.empty
    pd.testing.assert_frame_equal(got, want)


def test_stale_handle_reloads_directory(spark, tmp_path):
    """A handle opened before an append, a delete by another handle and a
    compaction answers from the new state after each. The append adds a
    delta generation: the handle reads the delta's row-group directories
    and keeps the base's (its files are unchanged); compaction rewrites
    the base, whose directories are then read afresh."""
    from groonga_spark.build import compact_index
    from groonga_spark.streaming import append_docs

    base = [(i, f"common word{i % 13}") for i in range(300)]
    batch = [(300 + i, f"common batchmark word{i % 13}") for i in range(40)]
    schema = "doc_id long, text string"
    path = str(tmp_path / "idx_stale")
    build_index(spark, spark.createDataFrame(base, schema), path,
                mode="delimit", segment_size=200)

    idx = FulltextIndex(spark, path)
    assert idx.search("batchmark", 100).collect() == []
    assert len(idx.search("common", 5).collect()) == 5
    assert idx._prefix_tid_range("batch") is None
    (base_gen,) = idx._gens
    old_dirs = dict(base_gen._dirs)
    assert set(old_dirs) == {"postings", "lexicon"}

    append_docs(spark, spark.createDataFrame(base + batch, schema), path,
                segment_size=200)
    got = {r["doc_id"] for r in idx.search("batchmark", 100).collect()}
    assert got == set(range(300, 340))
    assert {r["doc_id"] for r in idx.search("batch*", 100).collect()} == got
    assert [g.root for g in idx._gens] == [
        IndexStore(path).base(), os.path.join(path, "deltas", "2")]
    assert idx._gens[0] is base_gen
    assert all(base_gen._dirs[t] is old_dirs[t] for t in old_dirs)
    assert set(idx._gens[1]._dirs) == {"postings", "lexicon"}
    # the small delta keeps its decoded row groups (DELTA_HOLD_BYTES);
    # the base decodes from its files on every read
    assert all(d._held for d in idx._gens[1]._dirs.values())
    assert all(d._held is None for d in base_gen._dirs.values())

    doomed = [300, 301, 302, 5]
    FulltextIndex(spark, path).delete_docs(doomed)
    got = {r["doc_id"] for r in idx.search("batchmark", 100).collect()}
    assert got == set(range(303, 340))

    compact_index(spark, path)
    got = {r["doc_id"] for r in idx.search("batchmark", 100).collect()}
    assert got == set(range(303, 340))
    common = {r["doc_id"] for r in idx.match_docs("common").collect()}
    assert common == set(range(340)) - set(doomed)
    assert idx.meta["n_docs"] == 340 - len(doomed)
    assert len(idx._gens) == 1 and idx._gens[0] is not base_gen
    # the compacted base is a new directory; the old one and the delta
    # are gone
    assert idx._gens[0].root == IndexStore(path).base() != base_gen.root
    assert not os.path.exists(base_gen.root)
    assert not os.path.exists(os.path.join(path, "deltas"))
