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

On-disk layout under an index root (local parquet; Iceberg tables in
prod — same schemas, see SURVEY.md §1.3):
  segments/<k>/   block partials keyed by term string (+ "" markers)
  doc_map/        (doc_id, dl, segment, shard) — decoded from markers
  lineage/        (segment, status, docs_tokenized, postings_emitted,
                   bytes_compressed, started_at, finished_at)
  lexicon/        (term, term_id, df, cf)
  postings/       final blocks keyed by term_id
  meta.json       corpus stats + frozen contract versions
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
SALT_TARGET = 50_000                    # retained for API compat (unused)


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
) -> dict:
    FINALIZE_PHASES.clear()
    seg_root = store.p("segments")
    seg_dirs = [
        os.path.join(seg_root, d) for d in sorted(os.listdir(seg_root), key=int)
    ]
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
                   coalesce(max(max_doc_id), -1)
            FROM read_parquet('{store.p("lineage")}/*.parquet',
                              union_by_name=true)
            WHERE status = 'committed'"""
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
        lex_dir = store.p("lexicon")
        tmp_dir = lex_dir + ".tmp"
        _sh.rmtree(tmp_dir, ignore_errors=True)
        os.makedirs(tmp_dir)
        pq.write_table(tbl, os.path.join(tmp_dir, "part-00000.parquet"))
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
            .parquet(store.p("doc_map"))
        )
        FINALIZE_PHASES["doc_map_s"] = time.time() - t0

    def _write_lexicon():
        # distributed path only (the driver path already wrote the
        # lexicon inline); reads assign_dense_ids' persisted
        # intermediate — no recompute
        t0 = time.time()
        lex.write.mode("overwrite").parquet(store.p("lexicon"))
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
    # execute this join twice). Files stay term-range-clustered → parquet
    # row-group / Iceberg partition pruning on term_id at query time. A
    # giant term's blocks exceed one bucket only at extreme df; the shard
    # dimension (block_id >> 24) is the documented sub-split lever then.
    # `_sub` (shard mod 4) splits each term range across 4 partitions so a
    # head term's block pile can't straggle one task; pruning still works
    # (a term's blocks live in ≤4 term-range-clustered files).
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
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
    final.write.mode("overwrite").parquet(store.p("postings"))
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

    totals = (srow[2], srow[3])

    meta = {
        "format_version": 1,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "k1": k1,
        "b": b,
        "tokenizer_mode": mode,
        "normalizer_version": NORMALIZER_VERSION,
        "segment_size": segment_size,
        "shard_size": shard_size,
        "n_segments": len(seg_dirs),
        "n_terms": n_terms,
        "postings_total": int(totals[0]),
        "bytes_compressed": int(totals[1]),
    }
    if hwm >= 0:
        meta["max_doc_id"] = hwm
    store.write_meta(meta)
    return meta


# --------------------------------------------------------------------------
# compaction (apply tombstones permanently)
# --------------------------------------------------------------------------

def compact_index(spark: SparkSession, path: str) -> dict:
    """Fold tombstones into the segment partials and re-finalize.

    The LSM compaction step: deleted docs leave the posting blocks and
    doc stats for good, corpus stats (N, avgdl, df) refresh, and the
    tombstone set resets. Segments stay the single source of truth —
    query results after compaction differ from tombstone-masked results
    only in SCORES (stats moved), exactly the reference's post-delete
    behavior [G: lib/ii.c · grn_ii_column_update on delete].
    """
    import shutil as _shutil

    store = IndexStore(path)
    meta = store.read_meta()
    tomb_dir = store.p("tombstones")
    if not os.path.isdir(tomb_dir) or not os.listdir(tomb_dir):
        return meta  # nothing to do
    import pyarrow.dataset as ds

    tomb = np.unique(np.asarray(
        ds.dataset(tomb_dir, format="parquet").to_table()
        .column("doc_id").to_pylist(), np.int64))
    b_tomb = spark.sparkContext.broadcast(tomb)

    seg_root = store.p("segments")
    for d in sorted(os.listdir(seg_root), key=int):
        seg_dir = os.path.join(seg_root, d)
        tmp_dir = seg_dir + ".compact"

        def _filter(it):
            from groonga_spark.postings import filter_blocks

            for pdf in it:
                out = filter_blocks(pdf, b_tomb.value)
                if len(out):
                    yield out

        (
            spark.read.parquet(seg_dir)
            .mapInPandas(_filter, schema=BLOCK_SCHEMA)
            .write.mode("overwrite").parquet(tmp_dir)
        )
        _shutil.rmtree(seg_dir)
        os.replace(tmp_dir, seg_dir)
        # the segment's blocks changed → its stage-1 vocab partial is
        # stale; drop it so finalize falls back to the full block scan
        _shutil.rmtree(store.p("vocab", d), ignore_errors=True)

        # refresh the segment's lineage metrics (replace its rows)
        import glob as _glob

        for f in _glob.glob(store.p("lineage", f"part-{int(d):05d}-*")):
            os.remove(f)
        import duckdb

        _con = duckdb.connect()
        m = _con.sql(
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
        _con.close()
        # doc_fp stays null (unknown): filter_blocks can drop docs from a
        # marker but cannot recompute the content crc without the text —
        # compacted segments fall back to the count-only staleness check
        _append_lineage(store, {
            "segment": int(d), "status": "committed",
            "docs_tokenized": int(m[0]), "postings_emitted": int(m[1]),
            "bytes_compressed": int(m[2]), "dl_sum": int(m[3]),
            "started_at": time.time(), "finished_at": time.time(),
            "max_doc_id": int(m[4]),
        })

    out = finalize_index(
        spark, store, meta["tokenizer_mode"], k1=meta["k1"], b=meta["b"],
        segment_size=meta["segment_size"],
        shard_size=meta.get("shard_size", DEFAULT_SHARD_SIZE),
    )
    _shutil.rmtree(tomb_dir)
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
    salt_target: int | None = None,
    resume: bool = True,
    fail_after_segments: int | None = None,
    shard_size: int | None = None,
    max_concurrent_segments: int = 3,
    append_only: bool = False,
) -> dict:
    """Build (or resume) a full index over docs(doc_id, text, ...).

    ``fail_after_segments`` is a test hook: raise after N segment commits
    to exercise resume-after-kill (BASELINE.md row 6). ``salt_target`` is
    accepted for API compatibility; skew handling is now structural
    (doc-range shards), so it is unused.

    ``append_only=True`` promises docs only ever gain NEW doc ids above
    the last build's high-water mark (the streaming append contract) —
    the staleness scan then reads only ``doc_id >= hwm-segment`` (a
    pushed-down range filter → partition/row-group pruning), not the
    whole corpus. Leave False when existing rows may have been upserted
    in place: the full scan also compares per-segment content
    fingerprints, which is what catches same-id text replacement.
    """
    store = IndexStore(path)
    os.makedirs(path, exist_ok=True)

    # a resumed build MUST tokenize like the committed segments — mixed
    # modes silently corrupt the index (same lexicon, different token
    # streams). mode=None adopts the index's recorded mode.
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

    # OCCUPIED segments only, from the data — never range(max_id/size):
    # a sparse or snowflake-style id space would enumerate trillions of
    # empty ranges on the driver. Segment numbering stays the pure
    # doc_id // segment_size function (bit-identity unchanged); driver
    # memory is O(occupied) ≤ n_docs / segment_size.
    # Integer division (`div`), NOT `/`: Spark's `/` on bigint returns
    # double, and above 2^53 (snowflake-style ids — exactly the regime
    # where the int32 guard below tells users to raise segment_size) a
    # doc near a segment boundary rounds into the WRONG segment number
    # while build_segment's range filter uses exact int64 bounds — the
    # doc's true segment would never be listed and the doc silently
    # dropped from the index.
    occ = (
        docs.select(
            F.expr(f"doc_id div {int(segment_size)}").alias("seg")
        ).distinct().collect()
    )
    if not occ:
        raise ValueError("empty corpus")
    occupied = sorted(int(r["seg"]) for r in occ)
    if occupied[-1] > (1 << 31) - 1:
        raise ValueError(
            f"segment number {occupied[-1]} (max doc_id // segment_size) "
            "exceeds the int32 block schema: increase segment_size so "
            "max(doc_id) / segment_size fits in int32, or re-key the "
            "corpus to dense ids at ingest"
        )
    if segment_size // shard_size > (1 << 31) - 1:
        raise ValueError(
            f"segment_size // shard_size = {segment_size // shard_size} "
            "exceeds the int32 shard id: shrink segment_size or grow "
            "shard_size (shards number a segment's doc ranges)"
        )

    done = store.committed_segments(spark) if resume else set()
    if done:
        # incremental correctness: a committed segment is stale when its
        # doc COUNT or its content FINGERPRINT (Σ crc32("{id}:{text}")
        # mod 2^31 — catches in-place upserts that keep ids) no longer
        # matches lineage. One aggregation over (doc_id, text); with
        # append_only + a recorded high-water mark, the scan is range-
        # pruned to segments at/above the mark.
        scan = docs
        first_checked = 0
        if append_only:
            try:
                prev_hwm = store.read_meta().get("max_doc_id")
            except FileNotFoundError:
                prev_hwm = None
            if prev_hwm is not None:
                first_checked = prev_hwm // segment_size
                scan = docs.filter(
                    F.col("doc_id") >= first_checked * segment_size
                )
        fp_expr = F.crc32(
            F.encode(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"),
                    F.coalesce(F.col("text"), F.lit("")),
                ),
                "utf-8",
            )
        )
        actual = {
            int(r["seg"]): (int(r["n"]), int(r["fp"]) % (1 << 31))
            for r in scan.groupBy(
                F.expr(f"doc_id div {int(segment_size)}").alias("seg")
            ).agg(
                F.count(F.lit(1)).alias("n"), F.sum(fp_expr).alias("fp")
            ).collect()
        }
        import duckdb

        _con = duckdb.connect()
        recorded = {
            int(seg): (int(n), None if fp is None else int(fp))
            for seg, n, fp in _con.sql(
                f"""SELECT segment, max(docs_tokenized),
                           max(doc_fp)
                    FROM read_parquet('{store.p("lineage")}/*.parquet',
                                      union_by_name=true)
                    WHERE status = 'committed' GROUP BY segment"""
            ).fetchall()
        }
        _con.close()

        def _is_stale(s: int) -> bool:
            if s < first_checked:
                return False  # below the append-only high-water mark
            n, fp = actual.get(s, (0, 0))
            rn, rfp = recorded.get(s, (-1, None))
            if n != rn:
                return True
            return rfp is not None and fp != rfp

        stale = {s for s in done if _is_stale(s)}
        for s in stale:
            import glob as _glob

            for f in _glob.glob(store.p("lineage", f"part-{s:05d}-*")):
                os.remove(f)
        done -= stale
    pending = [s for s in occupied if s not in done]
    if fail_after_segments is not None or max_concurrent_segments <= 1:
        built = 0
        for seg in pending:
            build_segment(
                spark, store, docs, seg, seg * segment_size,
                (seg + 1) * segment_size, mode, shard_size,
            )
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
                ex.submit(
                    build_segment, spark, store, docs, seg,
                    seg * segment_size, (seg + 1) * segment_size, mode,
                    shard_size,
                )
                for seg in pending
            ]
            for f in futs:
                f.result()

    return finalize_index(
        spark, store, mode, segment_size=segment_size, shard_size=shard_size
    )


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
    element (reference semantics). Query with the ``tf`` scorer for the
    reference's weighted-match score (_score = Σ matched weights):

        FulltextIndex(spark, path).search('"my tag"', scorer="tf")

    Designed for TAG vectors (tens of elements, small integer weights);
    the repetition encoding makes token volume O(Σ weights) per doc —
    use a scaled-down weight unit for magnitude-style weights.
    """
    # validation rides the build's OWN scan (no separate job, and a
    # non-deterministic source can't pass a pre-check then feed bad
    # values into the real pass): a value containing the separator
    # raises from inside the expression
    checked_value = (
        lambda e: F.when(
            e["value"].contains(WEIGHT_SEP),
            F.raise_error(F.lit(
                "tag values must not contain the \\x1f element separator"
            )).cast("string"),
        ).otherwise(e["value"])
    )
    expanded = F.flatten(
        F.transform(
            F.col(tags_col),
            lambda e: F.array_repeat(checked_value(e), e["weight"]),
        )
    )
    text = F.array_join(expanded, WEIGHT_SEP)
    out = docs.select(
        F.col(id_col).alias("doc_id"), text.alias("text")
    )
    return build_index(spark, out, path,
                       mode=f"split:{WEIGHT_SEP}+", **kwargs)
