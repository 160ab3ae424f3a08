"""Index build pipeline: segments → shards → blocks → merge → index.

Re-expresses the reference's offline index construction [G: lib/ii.c ·
grn_ii_buffer_open/append/commit] and its buffer→chunk compaction
[G: lib/ii.c · buffer_flush, buffer_merge] as an idempotent, resumable
Spark pipeline (SURVEY.md §2.9d):

Stage 1 (per segment, checkpointed — the resume unit):
  the segment's doc-id range is cut into fixed-width SHARDS
  (``shard = (doc_id - lo) // shard_size``; width recorded in meta —
  NOT a function of cluster size, so output is bit-identical at any
  parallelism). One ``groupBy(shard).applyInPandas`` does
  normalize → tokenize → sort → delta+varbyte encode → block rows
  (postings.py) entirely inside one Python pass per shard: the token
  stream NEVER crosses the JVM↔Python boundary as rows, and the only
  shuffle moves raw docs to their shard. Per-shard doc statistics ride
  along as marker rows (term = "") in the same output, so no separate
  doc-length pass exists. Result: ``segments/<k>/`` + a committed
  ``lineage/`` row with metrics. Resume = skip committed segments.

Stage 2 (finalize — the multi-way segment merge):
  all block partials → lexicon (term → deterministic dense term_id) →
  attach term_id + df → final ``postings/``
  range-partitioned and sorted by (term_id, block_id) (parquet
  row-group pruning ≈ the PAT-trie seek); ``doc_map/`` decoded from the
  marker rows. Shards are doc-contiguous and disjoint, so a term's
  blocks across shards/segments merge by ordered concatenation — no
  posting re-encode, no term-keyed shuffle of postings.

Skew: stage 1 shuffles on ``shard`` — uniform doc-count ranges, so a
head term's postings are split across ALL shards it occurs in (the
salting the north rule requires, made deterministic); no term-frequency
measurement pass is needed. Stage 2's only wide op keys by
(term_id, block_id) range, which splits a giant term's blocks across
partitions while preserving global order.

Input layout requirement at scale: each segment job filters the corpus
to its doc-id range, and that predicate is pushed to the scan (PLANS.md
· segment_corpus_scan_pruned). With the corpus CLUSTERED by doc_id
(Iceberg partitioned/sorted by doc range — the natural layout for an
append-only crawl corpus) the N segment jobs read the corpus ~once in
total via file/partition pruning. Unclustered input degrades to
O(n_segments) full scans; pick ``segment_size`` so n_segments stays
O(100–1000) (the resume-granularity trade) or cluster the input first.

Appends (``build_index(..., append_only=True)``, what
``streaming.append_docs`` runs) take the reference's buffer route [G:
lib/ii.c · buffer_flush, buffer_merge]: the docs above the recorded
high-water mark become ONE new segment, numbered above the last one,
whose doc range [hwm + 1, new max + 1) is recorded in lineage; stage 2
then finalizes only that segment into a DELTA generation with its own
lexicon (dense, term-sorted ids), postings and doc_map. The base and
every earlier delta stay untouched. meta.json lists the deltas (each
with its own N, Σdl, term count, postings and bytes) and carries the
corpus totals (N, Σdl, postings, bytes) summed over every generation;
a reader sums df per term across generations at plan time
(search.FulltextIndex). Writing meta.json is the commit point: a delta
is visible only once it is listed there.

Compaction (``compact_index``, and an append that would make more than
DELTA_MAX deltas or take the summed lexicon sizes past
PREFIX_DRIVER_SCAN_MAX) is the multi-way merge: it folds the tombstones
into every segment, base and delta alike, and runs stage 2 over all of
them into a NEW base directory, so the base again covers the whole
corpus. meta.json naming that base (and no deltas) is again the commit
point; the old base and the deltas are removed after it. A crash
before it leaves the old base and deltas serving, and a rerun folds
and merges again.

On-disk layout under an index root (local parquet; Iceberg tables in
prod — same schemas, see SURVEY.md §1.3):
  segments/<k>/   block partials keyed by term string (+ "" markers),
                  base segments and delta segments alike
  vocab/<k>/      per-segment (term, df, cf) partials
  lineage/        (segment, status, docs_tokenized, postings_emitted,
                   bytes_compressed, dl_sum, started_at, finished_at,
                   doc_fp, max_doc_id, doc_lo, doc_hi)
  base/<id>/      the base generation, named by meta.json's base_id
                  (IndexStore.base); every full finalize writes a new one:
    lexicon/      (term, term_id, df, cf)
    postings/     final blocks keyed by term_id
    doc_map/      (doc_id, dl, segment, shard)
  deltas/<k>/     lexicon/, postings/, doc_map/ of the delta built from
                  segment k
  meta.json       corpus stats summed over generations, the base's id
                  and term count, the delta list, frozen contract versions
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from groonga_spark import score as score_mod
from groonga_spark.normalize import NORMALIZER_VERSION, normalize_series
from groonga_spark.postings import BLOCK_SCHEMA, encode_partition
from groonga_spark.tokenize import tokenize_batch_encoded

DEFAULT_SEGMENT_SIZE = 1 << 20          # docs per segment
DEFAULT_SHARD_SIZE = 2048               # docs per shard (fixed per index)
#: target parquet row-group size of the postings and lexicon files: small
#: enough that per-group term_id / term min/max let a query's driver
#: read skip most of a file, big enough to keep footers and per-group
#: overhead small
ROW_GROUP_BYTES = 256 << 10
#: postings bytes per file of a delta generation (an append's worth of
#: blocks is written as one file per this many bytes, not one per
#: shuffle partition)
DELTA_FILE_BYTES = 64 * ROW_GROUP_BYTES
#: most delta generations an index keeps: an append that would add one
#: more compacts instead. A query plans, fetches from and remaps every
#: generation, so each one adds driver work to every read.
DELTA_MAX = 4
#: lexicon size past which prefix planning leaves the driver
#: (search.FulltextIndex.PREFIX_DRIVER_SCAN_MAX defaults to it). A
#: multi-generation prefix plan reads every generation's matching
#: lexicon run on the driver, so an append that would take the summed
#: lexicon sizes (terms_upper_bound) past it compacts instead of
#: adding a delta: an index that big keeps one generation.
PREFIX_DRIVER_SCAN_MAX = 10_000_000


# --------------------------------------------------------------------------
# deterministic dense ids (scalable global rank)
# --------------------------------------------------------------------------

def assign_dense_ids(
    df: DataFrame, key: str, out_col: str, start: int = 0,
    with_count: bool = False,
):
    """key-sorted dense ids WITHOUT a single-partition window.

    ``row_number() over (order by key)`` collapses to one partition — dead
    at 10^8+ keys. Instead: range-repartition by key, sort within
    partitions, count per partition (one small job), then attach
    ``prefix_offset + arange`` per partition via mapInPandas. Ids depend
    only on the key ordering, not on partition boundaries → deterministic
    at any parallelism.
    """
    spark = df.sparkSession
    d = df.repartitionByRange(F.col(key)).sortWithinPartitions(key)
    d = d.persist(StorageLevel.MEMORY_AND_DISK)
    counts = (
        d.select(F.spark_partition_id().alias("_pid"))
        .groupBy("_pid")
        .count()
        .collect()
    )
    by_pid = {r["_pid"]: r["count"] for r in counts}
    offsets = {}
    acc = start
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]
    boff = spark.sparkContext.broadcast(offsets)
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in d.schema.fields]
        + [f"{out_col} long"]
    )

    def _attach(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = boff.value.get(pid, 0)
        seen = 0
        for pdf in it:
            pdf = pdf.copy()
            pdf[out_col] = np.arange(base + seen, base + seen + len(pdf), dtype=np.int64)
            seen += len(pdf)
            yield pdf

    out = d.mapInPandas(_attach, schema=out_schema)
    if with_count:
        # also hand back the persisted intermediate: callers MUST
        # unpersist it when done — Spark's CacheManager substitutes
        # cached data into ANY later plan that matches, so a leaked cache
        # silently serves stale data if the source files are rewritten
        # (e.g. compaction re-finalizing the same paths)
        return out, acc - start, d
    # Pin the assigned ids as DATA (eager local checkpoint, materialized
    # through d's cache so the offsets match the sampled boundaries), then
    # drop the persist. Unpersisting while `out` could still re-execute
    # would be silent corruption: repartitionByRange re-samples with a
    # fresh RDD-id seed on re-execution, so the broadcast offsets may no
    # longer match the boundaries. Checkpointed ids can't drift, and no
    # CacheManager entry outlives this call. (At true 100 TB scale the
    # prod path is staging ids to an Iceberg table instead — same idea,
    # durable storage.)
    out = out.localCheckpoint(eager=True)
    d.unpersist()
    return out


# --------------------------------------------------------------------------
# pages preparation (Common-Crawl-shaped input)
# --------------------------------------------------------------------------

def prepare_pages(pages: DataFrame, use_html: bool = True) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → docs(doc_id, url, text, lang).

    - latest-per-url dedup (``row_number over (partition by url order by
      warc_ts desc, ...) = 1`` — the as-of idiom; SURVEY.md §2.3);
    - text extracted from html (byte-identity contract, extract.py) when
      ``use_html``, else the provided text column;
    - deterministic dense doc ids = rank of url (assign_dense_ids).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("url").orderBy(F.desc("warc_ts"), F.desc(F.crc32(F.col("html"))))
    latest = (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if use_html:
        from groonga_spark.extract import extract_text_series

        def _ext(it):
            for pdf in it:
                yield pd.DataFrame(
                    {
                        "url": pdf["url"],
                        "text": extract_text_series(pdf["html"]),
                        "lang": pdf["lang"],
                    }
                )

        docs = latest.mapInPandas(_ext, schema="url string, text string, lang string")
    else:
        docs = latest.select("url", "text", "lang")
    return assign_dense_ids(docs, "url", "doc_id")


# --------------------------------------------------------------------------
# the index store
# --------------------------------------------------------------------------

@dataclass
class IndexStore:
    """Filesystem layout + meta for one index. Local parquet dirs; the
    prod deployment swaps each path for an Iceberg table (same schema)."""

    path: str

    def p(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def base(self, *parts: str, meta: dict | None = None) -> str:
        """A path in the base generation's directory, which holds its
        lexicon/, postings/ and doc_map/: ``base/<base_id>/`` of the
        meta.json given (read when None). An index written before base
        ids has them at its root."""
        bid = (self.read_meta() if meta is None else meta).get("base_id")
        return self.p("base", bid, *parts) if bid else self.p(*parts)

    @property
    def meta_path(self) -> str:
        return self.p("meta.json")

    def read_meta(self) -> dict:
        with open(self.meta_path) as f:
            return json.load(f)

    def write_meta(self, meta: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        os.replace(tmp, self.meta_path)

    def committed_segments(self, spark: SparkSession | None = None) -> set[int]:
        """Driver-side lineage scan (tiny metadata parquet — no Spark job)."""
        if not os.path.isdir(self.p("lineage")):
            return set()
        import pyarrow.dataset as ds

        dset = ds.dataset(self.p("lineage"), format="parquet")
        tbl = dset.to_table(columns=["segment", "status"])
        return {
            int(seg)
            for seg, status in zip(
                tbl.column("segment").to_pylist(), tbl.column("status").to_pylist()
            )
            if status == "committed"
        }


# --------------------------------------------------------------------------
# stage 1: per-segment build (the checkpoint / resume unit)
# --------------------------------------------------------------------------

def index_is_current(path: str, n_docs: int | None = None,
                     mode: str = "delimit") -> bool:
    """True iff the on-disk index at ``path`` matches the CURRENT engine
    contract by VALUE — format version, geometry keys present, tokenizer
    mode, normalizer version, and (when given) the corpus row count.
    Callers caching /tmp indexes across runs MUST use this instead of a
    key-presence sniff: a presence check once served stale indexes
    across engine versions (see __spark_entry__._index history)."""
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        return False
    with open(meta_path) as f:
        m = json.load(f)
    return (
        m.get("format_version") == 1
        and "shard_size" in m
        and "max_doc_id" in m
        and m.get("tokenizer_mode") == mode
        and m.get("normalizer_version") == NORMALIZER_VERSION
        and (n_docs is None or m.get("n_docs") == n_docs)
        # the base tables sit where this meta.json says they do
        and os.path.isdir(IndexStore(path).base("postings", meta=m))
    )


def encode_shard(
    pdf: pd.DataFrame, shard: int, segment: int, mode: str
) -> pd.DataFrame:
    """normalize → tokenize → sort → encode ONE shard's docs, in one pass.

    Emits posting-block rows (postings.encode_partition) plus one marker
    row (term = "") carrying the shard's doc statistics: doc ids
    (delta+varbyte in doc_deltas), per-doc token counts (varbyte in dls),
    Σdl in sum_tf — so doc_map/avgdl/N need no second tokenize pass.
    """
    from groonga_spark.codec import vb_encode

    pdf = pdf.sort_values("doc_id", kind="stable").reset_index(drop=True)
    doc_ids = pdf["doc_id"].to_numpy(np.int64)
    texts = normalize_series(pdf["text"])
    rows, codes, uniq_terms, pos = tokenize_batch_encoded(texts, mode)
    counts = np.bincount(rows, minlength=len(pdf)).astype(np.int64)

    if len(rows):
        # integer-code sort + grouping; per-token strings never exist —
        # only the shard vocabulary (uniq_terms) is materialized
        order = np.lexsort((pos, doc_ids[rows], codes))
        tok = pd.DataFrame(
            {
                "term_code": codes[order],
                "salt": np.full(len(rows), shard, np.int64),
                "doc_id": doc_ids[rows][order],
                "pos": pos[order],
                "dl": counts[rows][order],
            }
        )
        blocks = encode_partition(tok, segment, uniq_terms=uniq_terms)
    else:
        blocks = pd.DataFrame({c: [] for c in blocks_empty_columns()})

    deltas = np.diff(doc_ids, prepend=np.int64(0))
    if len(deltas):
        deltas[0] = doc_ids[0]
    # content fingerprint: Σ crc32(f"{doc_id}:{text}") mod 2^31 — rides the
    # marker's otherwise-unused max_tf (markers carry no tf stream). Must
    # stay bit-equal to the Spark-side recompute in build_index's stale
    # check: crc32(encode(concat(doc_id, ':', coalesce(text,'')), 'utf-8')).
    import zlib

    fp = 0
    for d, t in zip(doc_ids.tolist(), pdf["text"].tolist()):
        fp += zlib.crc32(f"{d}:{t if t is not None else ''}".encode())
    marker = pd.DataFrame(
        {
            "term": [""],
            "segment": [segment],
            "block_id": [shard << 24],
            "n_docs": [len(pdf)],
            "min_doc_id": [int(doc_ids.min()) if len(doc_ids) else 0],
            "max_doc_id": [int(doc_ids.max()) if len(doc_ids) else 0],
            "doc_deltas": [vb_encode(deltas.astype(np.uint64))],
            "tfs": [b""],
            "dls": [vb_encode(counts.astype(np.uint64))],
            "positions": [b""],
            "max_tf": [fp % (1 << 31)],
            "min_dl": [int(counts.min()) if len(counts) else 0],
            "sum_tf": [int(counts.sum())],
        }
    )
    return pd.concat([blocks, marker], ignore_index=True)


def blocks_empty_columns() -> list[str]:
    from groonga_spark.postings import BLOCK_COLUMNS

    return BLOCK_COLUMNS


def build_segment(
    spark: SparkSession,
    store: IndexStore,
    docs: DataFrame,
    segment: int,
    lo: int,
    hi: int,
    mode: str,
    shard_size: int = DEFAULT_SHARD_SIZE,
) -> dict:
    """Tokenize + encode one segment (doc ids in [lo, hi)) and commit it.

    One shuffle (docs → shard groups), one write. Shard boundaries are a
    pure function of doc_id, so blocks — and therefore the whole index —
    are bit-identical at any parallelism (merge-determinism contract).
    """
    t0 = time.time()
    seg_docs = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    sharded = seg_docs.select("doc_id", "text").withColumn(
        "shard", ((F.col("doc_id") - F.lit(lo)) / F.lit(shard_size)).cast("int")
    )

    def _enc(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return encode_shard(pdf, int(key[0]), segment, mode)

    blocks = sharded.groupBy("shard").applyInPandas(_enc, schema=BLOCK_SCHEMA)
    seg_dir = store.p("segments", str(segment))
    blocks.write.mode("overwrite").parquet(seg_dir)

    # per-segment vocabulary partial (term, df, cf): a column-pruned agg
    # over the JUST-WRITTEN segment (page-cache-warm locally; 3 narrow
    # columns from the object store in prod). Runs inside the segment
    # phase — overlapped with other segments' builds — so finalize's
    # lexicon no longer scans every block partial on its critical path:
    # it merges these O(vocab)-sized partials instead. Written BEFORE
    # the lineage commit so committed ⇒ vocab partial exists; finalize
    # falls back to the full block scan when any partial is missing
    # (pre-upgrade indexes, post-compaction segments).
    (
        spark.read.parquet(seg_dir)
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf"))
        .write.mode("overwrite")
        .parquet(store.p("vocab", str(segment)))
    )

    # metrics off the committed files (exactly what was written) + the
    # lineage commit: both are METADATA ops over a few MB of parquet, so
    # they run driver-side (duckdb scan / pyarrow write) — no Spark job.
    # This mirrors how an Iceberg commit records snapshot stats: the
    # cluster does the data pass, the coordinator does the bookkeeping.
    import duckdb

    _con = duckdb.connect()
    m = _con.sql(
        f"""
        SELECT coalesce(sum(CASE WHEN term =  '' THEN n_docs END), 0) AS docs,
               coalesce(sum(CASE WHEN term <> '' THEN n_docs END), 0) AS postings,
               coalesce(sum(octet_length(doc_deltas) + octet_length(tfs)
                            + octet_length(dls) + octet_length(positions)), 0)
                 AS bytes,
               coalesce(sum(CASE WHEN term = '' THEN sum_tf END), 0) AS dl_sum,
               coalesce(sum(CASE WHEN term = '' THEN max_tf END), 0) AS doc_fp,
               coalesce(max(CASE WHEN term = '' THEN max_doc_id END), -1)
                 AS max_doc_id
        FROM '{seg_dir}/*.parquet'
        """
    ).fetchone()

    lineage = {
        "segment": segment,
        "status": "committed",
        "docs_tokenized": int(m[0]),
        "postings_emitted": int(m[1]),
        "bytes_compressed": int(m[2]),
        "dl_sum": int(m[3]),
        "started_at": t0,
        "finished_at": time.time(),
        "doc_fp": int(m[4]) % (1 << 31),
        "max_doc_id": int(m[5]),
        "doc_lo": int(lo),
        "doc_hi": int(hi),
    }
    _append_lineage(store, lineage)
    return lineage


LINEAGE_ARROW_SCHEMA = [
    ("segment", "int32"),
    ("status", "string"),
    ("docs_tokenized", "int64"),
    ("postings_emitted", "int64"),
    ("bytes_compressed", "int64"),
    ("dl_sum", "int64"),
    ("started_at", "float64"),
    ("finished_at", "float64"),
    # v2 columns (older lineage files simply lack them; readers use
    # union_by_name / pyarrow schema evolution and treat null as unknown):
    # doc_fp = Σ crc32("{doc_id}:{text}") mod 2^31 over the segment's docs
    # (content staleness detection — count-only misses in-place upserts);
    # max_doc_id = the segment's high-water mark (append-only pruning).
    ("doc_fp", "int64"),
    ("max_doc_id", "int64"),
    # v3: the doc-id range [doc_lo, doc_hi) the segment was cut from — a
    # base segment's doc_id // segment_size range, a delta's [hwm + 1,
    # new max + 1); null on older files (read as the base range)
    ("doc_lo", "int64"),
    ("doc_hi", "int64"),
]


def _append_lineage(store: IndexStore, row: dict) -> None:
    """Atomic single-row append to lineage/ as its own parquet file
    (write-temp + rename — the commit point of the segment)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(store.p("lineage"), exist_ok=True)
    schema = pa.schema([(n, pa.type_for_alias(t)) for n, t in LINEAGE_ARROW_SCHEMA])
    table = pa.Table.from_pylist([row], schema=schema)
    final = store.p("lineage", f"part-{row['segment']:05d}-{uuid.uuid4().hex}.parquet")
    tmp = final + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, final)


# --------------------------------------------------------------------------
# stage 2: multi-way merge + lexicon + final postings
# --------------------------------------------------------------------------

#: wall-clock per finalize sub-phase of the LAST finalize_index call —
#: read by scripts/scaling_run.py for the Amdahl phase attribution
#: (BENCH.md). Keys: lexicon_s (agg + dense ids + counts), writes_s
#: (lexicon + doc_map + postings jobs, overlapped), meta_s (driver-side
#: lineage/meta bookkeeping).
FINALIZE_PHASES: dict[str, float] = {}

#: vocab-row bound for the driver-side lexicon fast path. ≤ this many
#: (footer-estimated) vocab-partial rows, the driver merges + sorts the
#: partials and assigns ids itself — no Spark jobs. Past it, the
#: distributed assign_dense_ids path runs (the 100 TB route: a web-scale
#: lexicon at ~10^8 terms must never be collected). Same pattern as
#: FulltextIndex.DRIVER_QUERY_MAX_BYTES.
LEXICON_DRIVER_MAX = 4_000_000


def finalize_index(
    spark: SparkSession,
    store: IndexStore,
    mode: str,
    k1: float = score_mod.K1_DEFAULT,
    b: float = score_mod.B_DEFAULT,
    segment_size: int = DEFAULT_SEGMENT_SIZE,
    shard_size: int = DEFAULT_SHARD_SIZE,
    delta: int | None = None,
) -> dict:
    """Stage 2 over the committed segments. ``delta=None`` merges every
    committed segment into the base generation (index root) and writes
    meta.json, which lists no deltas after it; ``delta=k`` finalizes
    segment k alone into ``deltas/<k>/`` and returns that generation's
    record (doc range, N, Σdl, terms, postings, bytes) without touching
    meta.json — the caller lists it there."""
    import uuid

    FINALIZE_PHASES.clear()
    segs = sorted(store.committed_segments()) if delta is None else [delta]
    # a base is written next to the one meta.json names, never over it
    base_id = uuid.uuid4().hex
    out = IndexStore(store.p("base", base_id) if delta is None
                     else store.p("deltas", str(delta)))
    seg_dirs = [store.p("segments", str(s)) for s in segs]
    blocks = spark.read.parquet(*seg_dirs)
    markers = blocks.filter(F.col("term") == "")

    # corpus stats come off the committed lineage metrics (driver-side
    # metadata read — no Spark job; every committed segment recorded its
    # docs_tokenized and Σdl at commit time)
    import duckdb

    _t_meta0 = time.time()
    _con = duckdb.connect()
    srow = _con.sql(
        f"""SELECT coalesce(sum(docs_tokenized), 0),
                   coalesce(sum(dl_sum), 0),
                   coalesce(sum(postings_emitted), 0),
                   coalesce(sum(bytes_compressed), 0),
                   coalesce(max(max_doc_id), -1),
                   min(doc_lo), max(doc_hi)
            FROM read_parquet('{store.p("lineage")}/*.parquet',
                              union_by_name=true)
            WHERE status = 'committed'
              AND segment IN ({", ".join(map(str, segs))})"""
    ).fetchone()
    n_docs = int(srow[0])
    avgdl = float(srow[1]) / n_docs if n_docs else 0.0
    hwm = int(srow[4])  # corpus doc-id high-water mark (-1 = unknown)
    FINALIZE_PHASES["meta_s"] = time.time() - _t_meta0

    # lexicon: df/cf roll up from the stage-1 vocab partials (or the
    # block partials when any partial is missing); dense ids = rank of
    # term. Two routes, split on a footer-estimated row count:
    #  · DRIVER fast path (vocab partials complete and ≤
    #    LEXICON_DRIVER_MAX rows): merge + sort the partials on the
    #    driver (duckdb; binary UTF-8 collation — the same unsigned-byte
    #    string order Spark sorts by, so ids are bit-identical to the
    #    distributed path) and attach ids as one arange. Replaces three
    #    vocab-sized Spark jobs (range-boundary sampling, per-partition
    #    counts, lexicon write) with O(vocab) driver work + one
    #    broadcast — those fixed job costs were the measured Amdahl
    #    ceiling of finalize.
    #  · DISTRIBUTED path (big vocab / missing partials):
    #    assign_dense_ids. Its input is PERSISTED first because
    #    repartitionByRange samples boundaries by executing the child —
    #    unpersisted, the agg would scan + shuffle its source twice.
    _t_lex0 = time.time()
    vocab_dirs = [store.p("vocab", os.path.basename(d)) for d in seg_dirs]
    vocab_files: list[str] = []
    vocab_ok = True
    for v in vocab_dirs:
        fs = (
            [os.path.join(v, f) for f in os.listdir(v) if f.endswith(".parquet")]
            if os.path.isdir(v) else []
        )
        if not fs:
            vocab_ok = False
            break
        vocab_files.extend(fs)

    lex_agg = None
    _lex_cached = None
    lex = None
    if vocab_ok:
        import pyarrow.parquet as pq

        # upper bound: duplicate terms across segments inflate the sum,
        # which only errs toward the (safe) distributed path
        est_rows = sum(
            pq.ParquetFile(f).metadata.num_rows for f in vocab_files
        )
    if vocab_ok and est_rows <= LEXICON_DRIVER_MAX:
        import shutil as _sh

        import pyarrow as pa
        import pyarrow.parquet as pq

        files_sql = ", ".join(
            "'" + f.replace("'", "''") + "'" for f in vocab_files
        )
        _con2 = duckdb.connect()
        tbl = _con2.sql(
            f"""SELECT term, sum(df)::BIGINT AS df, sum(cf)::BIGINT AS cf
                FROM read_parquet([{files_sql}])
                GROUP BY term ORDER BY term"""
        ).arrow()
        _con2.close()
        n_terms = tbl.num_rows
        tbl = tbl.append_column(
            "term_id", pa.array(np.arange(n_terms, dtype=np.int64))
        )
        # overwrite-equivalent directory swap (no Spark write job)
        lex_dir = out.p("lexicon")
        tmp_dir = lex_dir + ".tmp"
        _sh.rmtree(tmp_dir, ignore_errors=True)
        os.makedirs(tmp_dir)
        rg_rows = max(1, ROW_GROUP_BYTES * n_terms // max(1, tbl.nbytes))
        pq.write_table(tbl, os.path.join(tmp_dir, "part-00000.parquet"),
                       row_group_size=rg_rows)
        _sh.rmtree(lex_dir, ignore_errors=True)
        os.replace(tmp_dir, lex_dir)
        # explicit schema: an empty vocabulary (every doc tokenized to
        # zero terms) must yield an empty lexicon, not an inference error
        lex_join = F.broadcast(
            spark.createDataFrame(
                tbl.select(["term", "term_id", "df"]).to_pandas(),
                schema="term string, term_id bigint, df bigint",
            )
        )
    else:
        if vocab_ok:
            # merge the O(segments · vocab) partials — no block scan
            lex_src = spark.read.parquet(*vocab_dirs).groupBy("term").agg(
                F.sum("df").alias("df"), F.sum("cf").alias("cf")
            )
        else:
            lex_src = blocks.filter(F.col("term") != "").groupBy("term").agg(
                F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf")
            )
        lex_agg = lex_src.persist(StorageLevel.MEMORY_AND_DISK)
        lex, n_terms, _lex_cached = assign_dense_ids(
            lex_agg, "term", "term_id", with_count=True
        )
        lex_join = lex.select("term", "term_id", "df")
    FINALIZE_PHASES["lexicon_s"] = time.time() - _t_lex0

    # doc_map decoded from the markers: whole-batch decode (one vb_decode
    # over the concatenated buffers, segmented cumsum) — no per-row Python
    def _decode_markers(it):
        from groonga_spark.codec import _segmented_cumsum, vb_decode

        for pdf in it:
            if not len(pdf):
                continue
            n_per = pdf["n_docs"].to_numpy(np.int64)
            deltas = vb_decode(b"".join(pdf["doc_deltas"])).astype(np.int64)
            ids = _segmented_cumsum(deltas, n_per)
            dls = vb_decode(b"".join(pdf["dls"])).astype(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "dl": dls,
                    "segment": np.repeat(
                        pdf["segment"].to_numpy(np.int32), n_per
                    ),
                    "shard": np.repeat(
                        (pdf["block_id"].to_numpy(np.int64) >> 24).astype(
                            np.int32
                        ),
                        n_per,
                    ),
                }
            )

    def _write_doc_map():
        t0 = time.time()
        (
            markers.select("segment", "block_id", "n_docs", "doc_deltas", "dls")
            .mapInPandas(
                _decode_markers,
                schema="doc_id long, dl long, segment int, shard int",
            )
            .write.mode("overwrite")
            .parquet(out.p("doc_map"))
        )
        FINALIZE_PHASES["doc_map_s"] = time.time() - t0

    def _write_lexicon():
        # distributed path only (the driver path already wrote the
        # lexicon inline); reads assign_dense_ids' persisted
        # intermediate — no recompute
        t0 = time.time()
        (lex.write.mode("overwrite")
            .option("parquet.block.size", ROW_GROUP_BYTES)
            .parquet(out.p("lexicon")))
        FINALIZE_PHASES["lex_write_s"] = time.time() - t0

    # lexicon write and doc_map decode are independent of the postings
    # merge — run all three concurrently so neither small job serializes
    # the finalize critical path (Spark's scheduler interleaves them)
    from concurrent.futures import ThreadPoolExecutor

    _t_writes0 = time.time()
    _pool = ThreadPoolExecutor(max_workers=2)
    _doc_map_fut = _pool.submit(_write_doc_map)
    _lex_write_fut = _pool.submit(_write_lexicon) if lex is not None else None

    # final postings: attach term_id + df. No score column is stored:
    # every block already carries (max_tf, min_dl), and the query kernel
    # derives the block-max WAND bound from those + df at query time
    # (score.block_upper_bounds) — bounds stay valid under incremental
    # appends (stats move) and the merge stays pure JVM I/O (no Arrow
    # round-trip through Python).

    # inner join with the lexicon drops the "" marker rows. Partitioning:
    # bucket = term_id·P/n_terms — a DETERMINISTIC range bucket (dense ids
    # make it exact), so no repartitionByRange sampling pass (which would
    # execute this join twice). Files stay term-range-clustered, in
    # ROW_GROUP_BYTES row groups whose term_id min/max let the driver
    # read only a query's groups (search._RowGroupDirectory) and Spark
    # / Iceberg prune row groups / partitions on term_id. A
    # giant term's blocks exceed one bucket only at extreme df; the shard
    # dimension (block_id >> 24) is the documented sub-split lever then.
    # `_sub` (shard mod 4) splits each term range across 4 partitions so a
    # head term's block pile can't straggle one task; pruning still works
    # (a term's blocks live in ≤4 term-range-clustered files).
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
    if delta is not None:
        # a delta is one append's worth of blocks: one file per
        # DELTA_FILE_BYTES of postings, not one per shuffle partition
        n_part = min(n_part, 1 + int(srow[3]) // DELTA_FILE_BYTES)
    final = (
        blocks.join(lex_join, "term")
        .withColumn(
            "_bucket",
            F.least(
                F.lit(n_part - 1),
                (F.col("term_id") * n_part / F.lit(max(1, n_terms))).cast("int"),
            ),
        )
        .withColumn("_sub", F.pmod(F.shiftright("block_id", 24), F.lit(4)))
        .repartition(n_part, "_bucket", "_sub")
        .sortWithinPartitions("term_id", "segment", "block_id")
        .drop("term", "_bucket", "_sub")
    )
    _t_post0 = time.time()
    (final.write.mode("overwrite")
          .option("parquet.block.size", ROW_GROUP_BYTES)
          .parquet(out.p("postings")))
    FINALIZE_PHASES["postings_s"] = time.time() - _t_post0
    _doc_map_fut.result()
    if _lex_write_fut is not None:
        _lex_write_fut.result()
    _pool.shutdown()
    if _lex_cached is not None:
        _lex_cached.unpersist()
    if lex_agg is not None:
        lex_agg.unpersist()
    FINALIZE_PHASES["writes_s"] = time.time() - _t_writes0

    gen = {
        "n_docs": n_docs,
        "dl_sum": int(srow[1]),
        "n_terms": n_terms,
        "postings_total": int(srow[2]),
        "bytes_compressed": int(srow[3]),
    }
    if delta is not None:
        return {"segment": delta, "doc_lo": int(srow[5]),
                "doc_hi": int(srow[6]), "max_doc_id": hwm, **gen}
    import shutil

    meta = {
        "format_version": 1,
        "avgdl": avgdl,
        "k1": k1,
        "b": b,
        "tokenizer_mode": mode,
        "normalizer_version": NORMALIZER_VERSION,
        "segment_size": segment_size,
        "shard_size": shard_size,
        "n_segments": len(seg_dirs),
        # names this base generation's directory (IndexStore.base):
        # readers key the caches of its immutable files on it
        "base_id": base_id,
        "last_segment": segs[-1],
        "deltas": [],
        **gen,
    }
    if hwm >= 0:
        meta["max_doc_id"] = hwm
    # the commit point: until meta.json names the new base, readers,
    # appends and a rerun after a crash see the old base and deltas
    store.write_meta(meta)
    # every other generation's files are unreachable now: the deltas
    # folded into this base, older bases, and the root-level tables of
    # a layout written before base ids
    shutil.rmtree(store.p("deltas"), ignore_errors=True)
    for name in os.listdir(store.p("base")):
        if name != base_id:
            shutil.rmtree(store.p("base", name), ignore_errors=True)
    for table in ("lexicon", "postings", "doc_map"):
        shutil.rmtree(store.p(table), ignore_errors=True)
    return meta


# --------------------------------------------------------------------------
# compaction (apply tombstones permanently)
# --------------------------------------------------------------------------

def compact_index(spark: SparkSession, path: str) -> dict:
    """Fold the tombstones and every delta generation into the base.

    The LSM compaction step and the multi-way merge: deleted docs leave
    the posting blocks and doc stats of every segment, base and delta
    alike, for good; stage 2 then merges all segments into one base
    generation, so corpus stats (N, avgdl, df) refresh, the tombstone
    set resets and meta.json lists no deltas. Segments stay the single
    source of truth — query results after compaction differ from
    tombstone-masked results only in SCORES (stats moved), exactly the
    reference's post-delete behavior [G: lib/ii.c · grn_ii_column_update
    on delete].
    """
    store = IndexStore(path)
    meta = store.read_meta()
    if not meta.get("deltas") and not _tombstone_entries(store):
        return meta  # nothing to do
    return _compact(spark, store, meta)


def _tombstone_entries(store: IndexStore) -> list[str]:
    d = store.p("tombstones")
    return ([e for e in os.listdir(d) if not e.startswith(".")]
            if os.path.isdir(d) else [])


def _compact(spark: SparkSession, store: IndexStore, meta: dict) -> dict:
    import glob
    import shutil

    import duckdb

    tomb_dir = store.p("tombstones")
    if _tombstone_entries(store):
        import pyarrow.dataset as ds

        tomb = np.unique(np.asarray(
            ds.dataset(tomb_dir, format="parquet").to_table()
            .column("doc_id").to_pylist(), np.int64))
        b_tomb = spark.sparkContext.broadcast(tomb)
        ranges = dict(
            (int(seg), rest) for seg, *rest in duckdb.sql(
                f"""SELECT segment, max(doc_lo), max(doc_hi), max(max_doc_id)
                    FROM read_parquet('{store.p("lineage")}/*.parquet',
                                      union_by_name=true)
                    WHERE status = 'committed' GROUP BY segment"""
            ).fetchall())

        def _filter(it):
            from groonga_spark.postings import filter_blocks

            for pdf in it:
                out = filter_blocks(pdf, b_tomb.value)
                if len(out):
                    yield out

        def _fold(seg: int) -> None:
            lo, hi, hwm = ranges[seg]
            seg_dir = store.p("segments", str(seg))
            tmp_dir = seg_dir + ".compact"
            (
                spark.read.parquet(seg_dir)
                .mapInPandas(_filter, schema=BLOCK_SCHEMA)
                .write.mode("overwrite").parquet(tmp_dir)
            )
            shutil.rmtree(seg_dir)
            os.replace(tmp_dir, seg_dir)
            # the segment's blocks changed → its stage-1 vocab partial is
            # stale; drop it so finalize falls back to the full block scan
            shutil.rmtree(store.p("vocab", str(seg)), ignore_errors=True)

            # refresh the segment's lineage metrics (replace its rows)
            for f in glob.glob(store.p("lineage", f"part-{seg:05d}-*")):
                os.remove(f)
            con = duckdb.connect()
            m = con.sql(
                f"""SELECT coalesce(sum(CASE WHEN term =  '' THEN n_docs END), 0),
                           coalesce(sum(CASE WHEN term <> '' THEN n_docs END), 0),
                           coalesce(sum(octet_length(doc_deltas)
                                        + octet_length(tfs) + octet_length(dls)
                                        + octet_length(positions)), 0),
                           coalesce(sum(CASE WHEN term = '' THEN sum_tf END), 0),
                           coalesce(max(CASE WHEN term = '' THEN max_doc_id END),
                                    -1)
                    FROM '{seg_dir}/*.parquet'"""
            ).fetchone()
            con.close()
            # doc_fp stays null (unknown): filter_blocks can drop docs from
            # a marker but cannot recompute the content crc without the
            # text — compacted segments fall back to the count-only
            # staleness check. The high-water mark stays where it was even
            # when its doc is gone: an append must never take a deleted id
            # for a new one.
            _append_lineage(store, {
                "segment": seg, "status": "committed",
                "docs_tokenized": int(m[0]), "postings_emitted": int(m[1]),
                "bytes_compressed": int(m[2]), "dl_sum": int(m[3]),
                "started_at": time.time(), "finished_at": time.time(),
                "max_doc_id": int(m[4]) if hwm is None else max(hwm, int(m[4])),
                "doc_lo": lo, "doc_hi": hi,
            })

        # only segments whose doc range holds a tombstone change
        for seg, (lo, hi, _h) in sorted(ranges.items()):
            if lo is None or np.any((tomb >= lo) & (tomb < hi)):
                _fold(seg)

    out = finalize_index(
        spark, store, meta["tokenizer_mode"], k1=meta["k1"], b=meta["b"],
        segment_size=meta["segment_size"],
        shard_size=meta.get("shard_size", DEFAULT_SHARD_SIZE),
    )
    shutil.rmtree(tomb_dir, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# the end-to-end build
# --------------------------------------------------------------------------

def build_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    mode: str | None = "delimit",
    segment_size: int | None = None,
    resume: bool = True,
    fail_after_segments: int | None = None,
    shard_size: int | None = None,
    max_concurrent_segments: int = 3,
    append_only: bool = False,
) -> dict:
    """Build (or resume) a full index over docs(doc_id, text, ...).

    ``fail_after_segments`` is a test hook: raise after N segment commits
    to exercise resume-after-kill (BASELINE.md row 6).

    ``append_only=True`` promises docs only ever gain NEW doc ids above
    the last build's high-water mark (the streaming append contract): one
    aggregation over ``doc_id > hwm`` (a pushed-down range filter →
    partition/row-group pruning) finds the new docs, and they become one
    delta generation (module docstring) — nothing below the mark is read,
    re-encoded or re-finalized. Leave False when existing rows may have
    been upserted in place: the full scan compares every segment's doc
    count and content fingerprint over its recorded doc range, which is
    what catches same-id text replacement, and re-finalizes the whole
    corpus into the base.
    """
    store = IndexStore(path)
    os.makedirs(path, exist_ok=True)

    # a resumed build MUST tokenize like the committed segments — mixed
    # modes silently corrupt the index (same lexicon, different token
    # streams). mode=None adopts the index's recorded mode.
    recorded = None
    if resume and os.path.exists(store.meta_path):
        recorded = store.read_meta()
        recorded_mode = recorded.get("tokenizer_mode")
        if mode is None:
            mode = recorded_mode
        elif recorded_mode is not None and mode != recorded_mode:
            raise ValueError(
                f"index at {path} was built with tokenizer_mode="
                f"{recorded_mode!r} but mode={mode!r} was requested; "
                "pass mode=None to adopt it, or resume=False to rebuild"
            )
        # segment/shard GEOMETRY is frozen at index creation: a resumed
        # build that cuts different doc ranges would overwrite one
        # segment dir with another's range and ORPHAN the old files —
        # committed partials then double-count into the lexicon/postings
        # (silent corruption, not an error). None adopts the recorded
        # values; an EXPLICIT conflicting value is a hard error (same
        # contract as tokenizer_mode); changing geometry needs
        # resume=False.
        for pname, req in (("segment_size", segment_size),
                           ("shard_size", shard_size)):
            rec = recorded.get(pname)
            if req is not None and rec is not None and int(req) != int(rec):
                raise ValueError(
                    f"index at {path} was built with {pname}={rec} but "
                    f"{pname}={req} was requested; pass {pname}=None to "
                    "adopt it, or resume=False to rebuild"
                )
        if recorded.get("segment_size") is not None:
            segment_size = int(recorded["segment_size"])
        if recorded.get("shard_size") is not None:
            shard_size = int(recorded["shard_size"])
    if mode is None:
        mode = "delimit"
    if segment_size is None:
        segment_size = DEFAULT_SEGMENT_SIZE
    if shard_size is None:
        shard_size = DEFAULT_SHARD_SIZE
    if segment_size // shard_size > (1 << 31) - 1:
        raise ValueError(
            f"segment_size // shard_size = {segment_size // shard_size} "
            "exceeds the int32 shard id: shrink segment_size or grow "
            "shard_size (shards number a segment's doc ranges)"
        )
    if not resume:
        import shutil

        # a rebuild starts from nothing: segments, partials, lineage or
        # deltas left by an earlier layout would merge into this one
        for d in ("segments", "vocab", "lineage", "deltas"):
            shutil.rmtree(store.p(d), ignore_errors=True)
    if (append_only and recorded is not None
            and recorded.get("max_doc_id") is not None):
        return _append_delta(spark, store, docs, recorded, mode,
                             segment_size, shard_size, fail_after_segments)

    # one aggregation keys every doc to its segment: a base segment is
    # doc_id // segment_size; a delta owns its recorded range; docs above
    # the visible high-water mark of a layout with deltas form one new
    # segment numbered above the last. Integer division (`div`), NOT `/`:
    # Spark's `/` on bigint returns double, and above 2^53 (snowflake-
    # style ids — exactly the regime where the int32 guard below tells
    # users to raise segment_size) a doc near a segment boundary would
    # round into the WRONG segment number while build_segment's range
    # filter uses exact int64 bounds — the doc silently dropped.
    deltas = recorded.get("deltas", []) if recorded else []
    ranges: dict[int, tuple[int, int]] = {}
    seg_of = F.expr(f"doc_id div {int(segment_size)}")
    if deltas:
        new_seg = _last_segment(recorded) + 1
        ranges[new_seg] = (int(recorded["max_doc_id"]) + 1, 1 << 62)
        key = F.when(F.col("doc_id") >= ranges[new_seg][0], new_seg)
        for d in reversed(deltas):
            ranges[d["segment"]] = (d["doc_lo"], d["doc_hi"])
            key = key.when(F.col("doc_id") >= d["doc_lo"], d["segment"])
        seg_of = key.otherwise(seg_of)

    def seg_range(s: int) -> tuple[int, int]:
        if s in ranges:
            return ranges[s]
        hi = (s + 1) * segment_size
        return s * segment_size, min(hi, deltas[0]["doc_lo"]) if deltas else hi

    done = store.committed_segments(spark) if resume else set()
    if not done:
        actual = {int(r["seg"]): None for r in
                  docs.select(seg_of.alias("seg")).distinct().collect()}
    else:
        # incremental correctness: a committed segment is stale when its
        # doc COUNT or its content FINGERPRINT (Σ crc32("{id}:{text}")
        # mod 2^31 — catches in-place upserts that keep ids) no longer
        # matches lineage — the same aggregation that lists the occupied
        # segments
        actual = {
            int(r["seg"]): (int(r["n"]), int(r["fp"]) % (1 << 31))
            for r in docs.groupBy(seg_of.alias("seg")).agg(
                F.count(F.lit(1)).alias("n"), F.sum(_fp_expr()).alias("fp")
            ).collect()
        }
    if not actual:
        raise ValueError("empty corpus")
    occupied = sorted(actual)
    if occupied[-1] > (1 << 31) - 1:
        raise ValueError(
            f"segment number {occupied[-1]} (max doc_id // segment_size) "
            "exceeds the int32 block schema: increase segment_size so "
            "max(doc_id) / segment_size fits in int32, or re-key the "
            "corpus to dense ids at ingest"
        )
    if done:
        recorded_segs = _lineage_rows(store)

        def _is_stale(s: int) -> bool:
            n, fp = actual.get(s, (0, 0))
            rn, rfp = recorded_segs.get(s, (-1, None))[:2]
            if n != rn:
                return True
            return rfp is not None and fp != rfp

        stale = {s for s in done if _is_stale(s)}
        for s in stale:
            _drop_segment(store, s, keep_files=s in actual)
        done -= stale
    pending = [s for s in occupied if s not in done]
    if fail_after_segments is not None or max_concurrent_segments <= 1:
        built = 0
        for seg in pending:
            build_segment(spark, store, docs, seg, *seg_range(seg), mode,
                          shard_size)
            built += 1
            if fail_after_segments is not None and built >= fail_after_segments:
                raise RuntimeError(f"injected failure after {built} segments")
    elif pending:
        # pipeline segment jobs: Spark's scheduler interleaves their
        # stages, so one segment's driver-side bookkeeping (metrics,
        # lineage commit) overlaps another's cluster work instead of
        # serializing between jobs. Each segment still commits
        # independently — the resume contract is unchanged.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(max_concurrent_segments, len(pending))
        ) as ex:
            futs = [
                ex.submit(build_segment, spark, store, docs, seg,
                          *seg_range(seg), mode, shard_size)
                for seg in pending
            ]
            for f in futs:
                f.result()

    return finalize_index(
        spark, store, mode, segment_size=segment_size, shard_size=shard_size
    )


def _fp_expr():
    """Spark-side content fingerprint of one doc — bit-equal to the
    per-doc term encode_shard sums into its marker row."""
    return F.crc32(F.encode(F.concat(
        F.col("doc_id").cast("string"), F.lit(":"),
        F.coalesce(F.col("text"), F.lit("")),
    ), "utf-8"))


def terms_upper_bound(meta: dict) -> int:
    """Lexicon terms summed over the generations meta.json lists (each
    generation records its own ``n_terms``): the distinct count with one
    generation, an upper bound with deltas, where a term present in two
    generations counts twice."""
    return meta.get("n_terms", 0) + sum(
        d["n_terms"] for d in meta.get("deltas", []))


def _last_segment(meta: dict) -> int:
    """The highest segment number of the visible layout."""
    if meta.get("last_segment") is not None:
        return int(meta["last_segment"])
    return int(meta["max_doc_id"]) // int(meta["segment_size"])


def _lineage_rows(store: IndexStore) -> dict[int, tuple]:
    """segment → (docs_tokenized, doc_fp, doc_lo, doc_hi) of its
    committed lineage row (driver-side metadata read, no Spark job)."""
    import duckdb

    if not os.path.isdir(store.p("lineage")):
        return {}
    return {
        int(seg): tuple(None if v is None else int(v) for v in rest)
        for seg, *rest in duckdb.sql(
            f"""SELECT segment, max(docs_tokenized), max(doc_fp),
                       max(doc_lo), max(doc_hi)
                FROM read_parquet('{store.p("lineage")}/*.parquet',
                                  union_by_name=true)
                WHERE status = 'committed' GROUP BY segment"""
        ).fetchall()
    }


def _drop_segment(store: IndexStore, seg: int, keep_files: bool) -> None:
    """Un-commit a segment (its lineage rows); ``keep_files=False`` also
    removes its partials — a segment whose docs are all gone."""
    import glob
    import shutil

    for f in glob.glob(store.p("lineage", f"part-{seg:05d}-*")):
        os.remove(f)
    if not keep_files:
        shutil.rmtree(store.p("segments", str(seg)), ignore_errors=True)
        shutil.rmtree(store.p("vocab", str(seg)), ignore_errors=True)


def _append_delta(spark: SparkSession, store: IndexStore, docs: DataFrame,
                  meta: dict, mode: str, segment_size: int, shard_size: int,
                  fail_after_segments: int | None) -> dict:
    """The append route of build_index: the docs above the visible
    high-water mark become segment ``last + 1`` over [hwm + 1, max + 1)
    — a pure function of meta.json and the new mark, so every field of a
    multi-field layout cuts the same (segment, shard) geometry — then
    finalize turns that segment alone into a delta generation, and
    listing it in meta.json makes it visible. An append that would make
    more than DELTA_MAX deltas compacts instead. A rerun after a crash
    anywhere before meta.json is written finds the same number and
    range, keeps the committed segment when its lineage still matches
    the docs, and rewrites the unlisted delta files."""
    hwm = int(meta["max_doc_id"])
    new = docs.filter(F.col("doc_id") > hwm).agg(
        F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("hi"),
        F.sum(_fp_expr()).alias("fp"),
    ).collect()[0]
    if not new["n"]:
        return meta
    seg = _last_segment(meta) + 1
    lo, hi = hwm + 1, int(new["hi"]) + 1
    if seg > (1 << 31) - 1:
        raise ValueError(f"segment number {seg} exceeds the int32 block "
                         "schema: compact_index renumbering is not supported")
    want = (int(new["n"]), int(new["fp"]) % (1 << 31), lo, hi)
    if _lineage_rows(store).get(seg) != want:
        _drop_segment(store, seg, keep_files=True)
        build_segment(spark, store, docs, seg, lo, hi, mode, shard_size)
    if fail_after_segments is not None:
        raise RuntimeError("injected failure after 1 segments")
    if len(meta.get("deltas", [])) >= DELTA_MAX:
        return _compact(spark, store, meta)
    d = finalize_index(spark, store, mode, segment_size=segment_size,
                       shard_size=shard_size, delta=seg)
    if terms_upper_bound(meta) + d["n_terms"] > PREFIX_DRIVER_SCAN_MAX:
        return _compact(spark, store, meta)
    out = dict(meta)
    # n_terms stays the base's: a term in several generations is one
    # term, so only each generation's own count is exact
    for k in ("n_docs", "postings_total", "bytes_compressed"):
        out[k] = meta[k] + d[k]
    out["dl_sum"] = meta.get("dl_sum", round(meta["avgdl"] * meta["n_docs"])) \
        + d["dl_sum"]
    out["avgdl"] = out["dl_sum"] / out["n_docs"] if out["n_docs"] else 0.0
    out["max_doc_id"] = d["max_doc_id"]
    out["last_segment"] = seg
    out["deltas"] = [*meta.get("deltas", []), d]
    store.write_meta(out)
    return out


#: element separator for weighted-vector indexes — a control char no
#: normalized tag can contain (normalize.py strips nothing but keeps
#: controls; tags with \x1f are rejected at build)
WEIGHT_SEP = "\x1f"


def build_weighted_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    tags_col: str = "tags",
    id_col: str = "doc_id",
    **kwargs,
) -> dict:
    """WITH_WEIGHT weighted-vector index [G: lib/ii.c · WITH_WEIGHT;
    column_create COLUMN_VECTOR|WITH_WEIGHT].

    ``docs[tags_col]`` is ``array<struct<value string, weight int>>``
    (weighted tags). Each element enters the postings with tf = its
    weight — BY CONSTRUCTION: the element repeats ``weight`` times in a
    \\x1f-joined synthetic text indexed under the regex-delimited
    ``split:`` tokenizer, so EVERY invariant (dl = Σtf, fingerprints,
    resume, merge determinism) holds with zero new code paths, and
    multi-word tag values stay single tokens. weight 0 drops the
    element (reference semantics). A NULL tags array, element, value or
    weight, a negative weight, or a value containing the separator
    raises: none of them has a tag meaning, and each would otherwise
    turn silently into NULL or missing synthetic text. Query with the
    ``tf`` scorer for the reference's weighted-match score (_score = Σ
    matched weights):

        FulltextIndex(spark, path).search('"my tag"', scorer="tf")

    Designed for TAG vectors (tens of elements, small integer weights);
    the repetition encoding makes token volume O(Σ weights) per doc —
    use a scaled-down weight unit for magnitude-style weights.
    """
    # validation rides the build's OWN scan (no separate job, and a
    # non-deterministic source can't pass a pre-check then feed bad
    # values into the real pass): a bad tags array or element raises
    # from inside the expression. The repeat count is checked, not the
    # value: array_repeat evaluates its count first and skips the value
    # when the count is NULL.
    def fail(msg: str):
        return F.raise_error(F.lit(msg))

    checked_value = (
        lambda e: F.when(
            e["value"].contains(WEIGHT_SEP),
            fail("tag values must not contain the \\x1f element "
                 "separator").cast("string"),
        ).otherwise(e["value"])
    )
    checked_weight = (
        lambda e: F.when(e.isNull(), fail("tag elements must not be NULL"))
        .when(e["value"].isNull(), fail("tag values must not be NULL"))
        .when(e["weight"].isNull(), fail("tag weights must not be NULL"))
        .when(e["weight"] < 0, fail("tag weights must not be negative"))
        .otherwise(e["weight"])
    )
    expanded = F.flatten(
        F.transform(
            F.col(tags_col),
            lambda e: F.array_repeat(checked_value(e), checked_weight(e)),
        )
    )
    text = F.when(
        F.col(tags_col).isNull(),
        fail("the tags array must not be NULL").cast("string"),
    ).otherwise(F.array_join(expanded, WEIGHT_SEP))
    out = docs.select(
        F.col(id_col).alias("doc_id"), text.alias("text")
    )
    return build_index(spark, out, path,
                       mode=f"split:{WEIGHT_SEP}+", **kwargs)
