"""Incremental index maintenance: batch append (stale-segment rebuild)
and Structured Streaming foreachBatch (SURVEY.md §2.10)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from groonga_spark.build import IndexStore, build_index
from groonga_spark.search import FulltextIndex

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _postings_rows(spark, path):
    return (
        spark.read.parquet(IndexStore(path).p("postings"))
        .orderBy("term_id", "segment", "block_id")
        .collect()
    )


def test_batch_append_rebuilds_stale_segment(spark, docs, tmp_path):
    """Docs appended into a committed segment's id range must trigger a
    rebuild of that segment; the result equals a from-scratch build."""
    path = str(tmp_path / "idx_inc")
    half = docs.filter(F.col("doc_id") < 250)   # segment 1 only partial
    build_index(spark, half, path, mode="delimit", segment_size=200)

    from groonga_spark.streaming import append_docs

    append_docs(spark, docs, path, segment_size=200)

    path2 = str(tmp_path / "idx_scratch")
    build_index(spark, docs, path2, mode="delimit", segment_size=200)
    assert _postings_rows(spark, path) == _postings_rows(spark, path2)

    # lineage: exactly one committed row per segment (stale rows replaced)
    import duckdb

    rows = duckdb.sql(
        f"""SELECT segment, count(*) FROM
            '{IndexStore(path).p("lineage")}/*.parquet'
            WHERE status='committed' GROUP BY segment"""
    ).fetchall()
    assert all(n == 1 for _, n in rows)


def test_append_is_noop_when_up_to_date(spark, docs, tmp_path):
    path = str(tmp_path / "idx_noop")
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    lineage_dir = IndexStore(path).p("lineage")
    before = sorted(os.listdir(lineage_dir))

    from groonga_spark.streaming import append_docs

    append_docs(spark, docs, path, segment_size=200)
    assert sorted(os.listdir(lineage_dir)) == before


def test_compaction_applies_tombstones(spark, docs, tmp_path):
    """compact_index: tombstoned docs leave the index permanently, the
    result equals a from-scratch build over the surviving corpus."""
    from pyspark.sql import functions as F

    from groonga_spark.build import compact_index

    path = str(tmp_path / "idx_cmp")
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    idx = FulltextIndex(spark, path)
    victims = [r["doc_id"] for r in idx.search("spark", 3).collect()]
    idx.delete_docs(victims)
    compact_index(spark, path)

    path2 = str(tmp_path / "idx_ref")
    build_index(spark, docs.filter(~F.col("doc_id").isin(victims)), path2,
                mode="delimit", segment_size=200)
    idx_c = FulltextIndex(spark, path)
    idx_r = FulltextIndex(spark, path2)
    # block BOUNDARIES legitimately differ (holes punched vs never
    # existed); the logical index must agree: lexicon, stats, results
    lex_c = {(r["term"], r["df"], r["cf"], r["term_id"])
             for r in spark.read.parquet(idx_c.store.p("lexicon")).collect()}
    lex_r = {(r["term"], r["df"], r["cf"], r["term_id"])
             for r in spark.read.parquet(idx_r.store.p("lexicon")).collect()}
    assert lex_c == lex_r
    for k in ("n_docs", "avgdl", "n_terms", "postings_total"):
        assert idx_c.meta[k] == idx_r.meta[k], k
    for q in ["spark", "spark merge", '"spark fast"']:
        got = [(r["doc_id"], round(r["score"], 9))
               for r in idx_c.search(q, 10).collect()]
        want = [(r["doc_id"], round(r["score"], 9))
                for r in idx_r.search(q, 10).collect()]
        assert got == want, q
    assert not (set(victims)
                & {r["doc_id"] for r in idx_c.match_docs("spark").collect()})


def test_stream_build_foreachbatch(spark, docs, tmp_path):
    """File-source stream → foreachBatch incremental segments; final
    index equals the batch build over the same docs."""
    from groonga_spark.streaming import stream_build

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx_stream")
    cp = str(tmp_path / "cp")

    # stage the docs as two source files (two micro-batches at most)
    docs.filter(F.col("doc_id") < 250).write.parquet(os.path.join(src, "a"))
    docs.filter(F.col("doc_id") >= 250).write.parquet(os.path.join(src, "b"))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream_build(stream, corpus, idx, cp, segment_size=200)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    built = FulltextIndex(spark, idx)
    assert built.meta["n_docs"] == docs.count()

    path2 = str(tmp_path / "idx_batch")
    build_index(spark, docs, path2, mode="delimit", segment_size=200)
    assert _postings_rows(spark, idx) == _postings_rows(spark, path2)


def test_upsert_in_place_detected_by_fingerprint(spark, docs, tmp_path):
    """Same doc ids, changed text: the count matches lineage, but the
    content fingerprint must flag the segment stale on a full resume."""
    path = str(tmp_path / "idx_fp")
    build_index(spark, docs, path, mode="delimit", segment_size=200)

    changed = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 42, F.lit("entirely replaced body spark"))
        .otherwise(F.col("text")),
    )
    build_index(spark, changed, path, mode="delimit", segment_size=200,
                resume=True)

    path2 = str(tmp_path / "idx_fp_ref")
    build_index(spark, changed, path2, mode="delimit", segment_size=200)
    assert _postings_rows(spark, path) == _postings_rows(spark, path2)
    # the replacement text is searchable
    idx = FulltextIndex(spark, path)
    assert 42 in {r["doc_id"]
                  for r in idx.match_docs("entirely replaced").collect()}


def test_append_only_skips_below_high_water_mark(spark, docs, tmp_path):
    """append_docs (append_only): segments below the recorded
    max_doc_id are trusted — an in-place change below the mark is
    intentionally NOT rebuilt (the documented contract), while new docs
    above the mark are indexed."""
    from groonga_spark.streaming import append_docs

    path = str(tmp_path / "idx_hwm")
    half = docs.filter(F.col("doc_id") < 250)
    build_index(spark, half, path, mode="delimit", segment_size=200)
    meta = IndexStore(path).read_meta()
    assert meta["max_doc_id"] == 249

    # corrupt a doc BELOW the mark and append the rest of the corpus
    tampered = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 10, F.lit("tampered below mark"))
        .otherwise(F.col("text")),
    )
    append_docs(spark, tampered, path, segment_size=200)
    idx = FulltextIndex(spark, path)
    # below-mark change not picked up (append contract)…
    assert 10 not in {r["doc_id"]
                      for r in idx.match_docs("tampered").collect()}
    # …but the appended docs are all there
    assert idx.meta["n_docs"] == docs.count()
    assert idx.meta["max_doc_id"] == docs.agg(F.max("doc_id")).collect()[0][0]

    # a full (non-append-only) resume catches the tamper via fingerprint
    build_index(spark, tampered, path, mode="delimit", segment_size=200,
                resume=True)
    idx2 = FulltextIndex(spark, path)
    assert 10 in {r["doc_id"]
                  for r in idx2.match_docs("tampered").collect()}


def test_resume_mode_mismatch_guard(spark, docs, tmp_path):
    """A resumed build with a different tokenizer mode must refuse
    (mixed modes silently corrupt); mode=None adopts the index's."""
    path = str(tmp_path / "idx_mode")
    build_index(spark, docs.filter(F.col("doc_id") < 250), path,
                mode="delimit|stop:the", segment_size=200)
    with pytest.raises(ValueError, match="tokenizer_mode"):
        build_index(spark, docs, path, mode="bigram", segment_size=200,
                    resume=True)
    from groonga_spark.streaming import append_docs

    append_docs(spark, docs, path, segment_size=200)  # adopts the mode
    idx = FulltextIndex(spark, path)
    assert idx.meta["tokenizer_mode"] == "delimit|stop:the"
    assert idx.meta["n_docs"] == docs.count()


def test_resume_adopts_segment_geometry(spark, tmp_path):
    """A resumed/appending build must cut the SAME doc ranges as the
    original: before this guard, append_docs with default segment_size
    over an index built with a smaller one re-cut the corpus, overwrote
    segment 0 with everything, orphaned the old segment files — and the
    orphans double-counted into the lexicon (silent corruption)."""
    from groonga_spark.search import FulltextIndex
    from groonga_spark.streaming import append_docs

    rows0 = [(i, f"alpha w{i % 5}") for i in range(120)]
    docs0 = spark.createDataFrame(rows0, "doc_id long, text string")
    path = str(tmp_path / "idx_geom")
    build_index(spark, docs0, path, mode="delimit", segment_size=64)

    rows1 = rows0 + [(i, f"gamma w{i % 5}") for i in range(120, 160)]
    docs1 = spark.createDataFrame(rows1, "doc_id long, text string")
    # note: NO segment_size passed — the recorded geometry must be adopted
    meta = append_docs(spark, docs1, path)
    assert meta["segment_size"] == 64
    assert meta["n_docs"] == 160

    idx = FulltextIndex(spark, path)
    import pyarrow.dataset as ds

    lex = {
        t: d for t, d in zip(
            *(ds.dataset(idx.store.p("lexicon"), format="parquet")
              .to_table(columns=["term", "df"]).column(c).to_pylist()
              for c in ("term", "df"))
        )
    }
    assert lex["alpha"] == 120 and lex["gamma"] == 40  # no double counting
    assert idx.match_docs("alpha").count() == 120
    assert idx.match_docs("gamma").count() == 40


def test_stream_batch_replay_is_idempotent(spark, docs, tmp_path):
    """foreachBatch is at-least-once: replaying an epoch (crash between
    the sink write and the checkpoint commit) must not duplicate corpus
    rows or double-count postings."""
    from groonga_spark.streaming import _append_epoch

    corpus = str(tmp_path / "replay_corpus")
    idx = str(tmp_path / "replay_idx")

    b0 = docs.filter(F.col("doc_id") < 250)
    b1 = docs.filter(F.col("doc_id") >= 250)
    _append_epoch(b0, 0, corpus, idx, segment_size=200)
    _append_epoch(b1, 1, corpus, idx, segment_size=200)
    n = spark.read.parquet(corpus).count()
    assert n == docs.count()

    _append_epoch(b1, 1, corpus, idx, segment_size=200)  # replay epoch 1
    assert spark.read.parquet(corpus).count() == n

    path2 = str(tmp_path / "replay_batch")
    build_index(spark, docs, path2, mode="delimit", segment_size=200)
    assert _postings_rows(spark, idx) == _postings_rows(spark, path2)


def test_legacy_flat_corpus_migrates_to_epoch_partition(spark, docs,
                                                        tmp_path):
    """A corpus written by the pre-epoch flat-append sink (root-level
    part files) must migrate into an epoch=-1 partition on the next
    batch — mixing root files with epoch=N dirs breaks Spark's
    partition discovery."""
    from groonga_spark.streaming import _append_epoch

    corpus = str(tmp_path / "legacy_corpus")
    idx = str(tmp_path / "legacy_idx")

    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    old.write.parquet(corpus)  # legacy flat layout
    assert any(f.endswith(".parquet") for f in os.listdir(corpus))

    _append_epoch(new, 0, corpus, idx, segment_size=200)

    # root-level part files are gone; legacy rows live in epoch=-1
    assert not any(f.endswith(".parquet") for f in os.listdir(corpus))
    assert os.path.isdir(os.path.join(corpus, "epoch=-1"))
    got = spark.read.parquet(corpus)
    assert got.count() == docs.count()
    assert set(got.select("epoch").distinct().toPandas()["epoch"]) == {-1, 0}

    # index covers BOTH the legacy and the new rows
    built = FulltextIndex(spark, idx)
    assert built.meta["n_docs"] == docs.count()

    path2 = str(tmp_path / "legacy_batch")
    build_index(spark, docs, path2, mode="delimit", segment_size=200)
    assert _postings_rows(spark, idx) == _postings_rows(spark, path2)


def test_weighted_vector_index_with_weight(spark, tmp_path):
    """WITH_WEIGHT weighted-vector index [G: lib/ii.c · WITH_WEIGHT]:
    array<struct<value, weight>> tags index with tf = weight; the tf
    scorer returns _score = Σ matched weights (reference weighted-match
    semantics), multi-word tag values stay single tokens, and weight 0
    drops the element."""
    from groonga_spark.build import build_weighted_index

    rows = [
        (1, [("alpha", 10), ("machine learning", 1)]),
        (2, [("alpha", 2), ("beta", 5)]),
        (3, [("beta", 1), ("machine learning", 7)]),
        (4, [("alpha", 0)]),                      # weight 0 → no element
        (5, [("alpha", 3), ("alpha", 2)]),        # dup tag: weights add
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, tags array<struct<value string, weight int>>"
    )
    path = str(tmp_path / "idx_weighted")
    build_weighted_index(spark, docs, path, segment_size=100)
    idx = FulltextIndex(spark, path)

    def hits(q):
        return [(r["doc_id"], r["score"]) for r in
                idx.search(q, 10, scorer="tf", use_cache=False).collect()]

    # brute-force oracle over the raw tag lists
    def want(tag):
        sc = {d: sum(w for v, w in tags if v == tag and w > 0)
              for d, tags in rows}
        sc = {d: float(s) for d, s in sc.items() if s > 0}
        return sorted(sc.items(), key=lambda kv: (-kv[1], kv[0]))

    assert hits("alpha") == want("alpha")          # 10, 5, 2 — not doc 4
    assert hits('"machine learning"') == want("machine learning")
    assert {r["doc_id"] for r in idx.match_docs("beta").collect()} == {2, 3}
    # default BM25 also ranks by weight-as-tf (same index, no re-build)
    bm = [d for d, _ in
          ((r["doc_id"], r["score"]) for r in
           idx.search("alpha", 10, use_cache=False).collect())]
    assert bm == [1, 5, 2]

    import pytest as _pytest

    # the separator guard raises from INSIDE the build's own scan (no
    # separate validation job) — surfaces as a Spark execution error
    with _pytest.raises(Exception, match="separator"):
        bad = spark.createDataFrame(
            [(1, [("x\x1fy", 1)])],
            "doc_id long, tags array<struct<value string, weight int>>",
        )
        build_weighted_index(spark, bad, str(tmp_path / "idx_bad"))


def test_weighted_index_rejects_null_and_negative(spark, tmp_path):
    """A NULL tags array, element, value or weight, and a negative
    weight, raise from inside the build's own scan instead of turning
    into NULL (or silently dropped) synthetic text."""
    from groonga_spark.build import build_weighted_index

    schema = "doc_id long, tags array<struct<value string, weight int>>"
    for i, (tags, msg) in enumerate([
        (None, "tags array must not be NULL"),
        ([("a", 1), None], "elements must not be NULL"),
        ([(None, 2)], "values must not be NULL"),
        ([("a", None)], "weights must not be NULL"),
        ([("a", 1), ("b", -1)], "must not be negative"),
    ]):
        bad = spark.createDataFrame([(1, [("ok", 1)]), (2, tags)], schema)
        with pytest.raises(Exception, match=msg):
            build_weighted_index(spark, bad, str(tmp_path / f"idx_{i}"))


def test_legacy_migration_resumes_after_crash_mid_stage(spark, docs,
                                                        tmp_path):
    """A crash AFTER staging all legacy files but BEFORE the epoch=-1
    rename leaves zero flat files + a populated dot-stage dir; the next
    batch must complete the migration instead of stranding the rows."""
    from groonga_spark.streaming import _append_epoch

    corpus = str(tmp_path / "crashmig_corpus")
    idx = str(tmp_path / "crashmig_idx")
    old = docs.filter(F.col("doc_id") < 250)
    old.write.parquet(corpus)
    # simulate the crashed first attempt: files staged, rename missing
    stage = os.path.join(corpus, ".legacy-epoch-migrate")
    os.makedirs(stage)
    for fn in list(os.listdir(corpus)):
        if fn.endswith(".parquet"):
            os.replace(os.path.join(corpus, fn), os.path.join(stage, fn))
    assert not any(f.endswith(".parquet") for f in os.listdir(corpus))

    _append_epoch(docs.filter(F.col("doc_id") >= 250), 0, corpus, idx,
                  segment_size=200)
    got = spark.read.parquet(corpus)
    assert got.count() == docs.count()
    assert not os.path.isdir(stage)
