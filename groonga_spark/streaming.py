"""Incremental / streaming index maintenance.

The reference updates its index per-record via load hooks
[G: lib/db.c hooks → lib/ii.c · grn_ii_column_update]. The Spark-native
equivalent (SURVEY.md §2.10) is incremental SEGMENT builds: new docs
arrive → new doc-id ranges → new segments → finalize merges. Two entry
points:

- ``append_docs``: batch-incremental — run after appending docs to the
  corpus; the docs above the recorded high-water mark become one new
  segment and one delta generation (build.py), the rest of the index
  is neither re-encoded nor re-finalized, and past build.DELTA_MAX
  deltas the append compacts. Idempotent; safe to re-run after failures.

- ``stream_build``: Structured Streaming — ``foreachBatch`` over any
  streaming source; each micro-batch appends its docs as segments via
  the same resumable machinery. foreachBatch is AT-LEAST-once (a crash
  between the sink write and the checkpoint commit replays the epoch),
  so the corpus sink is epoch-keyed — a replayed batch OVERWRITES its
  own ``epoch=<id>`` partition instead of appending duplicates — and
  segment lineage makes the index side idempotent.

The reference is NOT a streaming engine — no watermarks/session windows
are built here (SURVEY.md §2.10: not a capability of the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from groonga_spark.build import build_index


def append_docs(
    spark: SparkSession,
    all_docs: DataFrame,
    path: str,
    mode: str | None = None,
    segment_size: int | None = None,
    shard_size: int | None = None,
) -> dict:
    """Bring the index at ``path`` up to date with ``all_docs``.

    ``all_docs`` is the full current corpus (e.g. the Iceberg table after
    new snapshots); one aggregation over the docs above the recorded
    high-water mark finds the new ones, which are encoded once into a new
    segment and finalized into a delta generation — the base and earlier
    deltas stay as they are. The append that would make more than
    build.DELTA_MAX deltas, or take the summed lexicon sizes past
    build.PREFIX_DRIVER_SCAN_MAX, compacts the index instead
    (compact_index).

    Append contract: micro-batches must add docs with NEW, monotonically
    growing doc ids — nothing below the high-water mark is read, so an
    in-place text replacement below it is NOT detected here. For
    upserts, delete_docs + compact_index, or run
    build_index(resume=True) (full fingerprint check), instead.
    """
    return build_index(
        spark, all_docs, path, mode=mode, segment_size=segment_size,
        shard_size=shard_size, resume=True, append_only=True,
    )


def stream_build(
    stream_docs: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint_path: str,
    mode: str | None = None,
    segment_size: int | None = None,
    shard_size: int | None = None,
):
    """writeStream.foreachBatch pipeline: append each micro-batch to the
    corpus parquet, then incrementally extend the index.

    Returns the DataStreamWriter (caller picks the trigger, e.g.
    ``.trigger(availableNow=True).start()``). Batches must carry
    monotonically growing ``doc_id``s (assign upstream via
    build.assign_dense_ids / a high-water mark).
    """

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        _append_epoch(batch_df, epoch_id, corpus_path, index_path,
                      mode=mode, segment_size=segment_size,
                      shard_size=shard_size)

    return (
        stream_docs.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_path)
    )


def _append_epoch(batch_df: DataFrame, epoch_id: int, corpus_path: str,
                  index_path: str, mode: str | None = None,
                  segment_size: int | None = None,
                  shard_size: int | None = None) -> None:
    """One foreachBatch body — idempotent under replay: foreachBatch
    delivers at-least-once, so the epoch's rows OVERWRITE the epoch's
    own ``epoch=<id>`` partition dir (a replay lands in the same place,
    never appends to a shared one); the index side is idempotent via
    segment lineage."""
    import os

    spark = batch_df.sparkSession
    _migrate_legacy_corpus(corpus_path)
    (batch_df.write.mode("overwrite")
     .parquet(os.path.join(corpus_path, f"epoch={int(epoch_id)}")))
    all_docs = spark.read.parquet(corpus_path).drop("epoch")
    append_docs(spark, all_docs, index_path, mode=mode,
                segment_size=segment_size, shard_size=shard_size)


def _migrate_legacy_corpus(corpus_path: str) -> None:
    """One-time upgrade of a corpus written by the pre-epoch flat-append
    sink: root-level part files mixed with ``epoch=N`` dirs break Spark's
    partition discovery on the subsequent ``spark.read.parquet``. Legacy
    files move into an ``epoch=-1`` partition (staged in a dot-prefixed
    dir, adopted with one rename; a replayed partial migration merges).
    Real streaming epoch ids are non-negative, so -1 never collides."""
    import os

    if not os.path.isdir(corpus_path):
        return
    flat = [fn for fn in os.listdir(corpus_path)
            if fn.endswith(".parquet") and not fn.startswith((".", "_"))]
    stage = os.path.join(corpus_path, ".legacy-epoch-migrate")
    # resume a PARTIAL earlier migration too: a crash between staging
    # and the rename leaves zero flat files but a populated stage dir —
    # bailing on `not flat` alone would strand those rows invisibly
    # (dot-dirs are skipped by every reader) forever
    staged_leftover = os.path.isdir(stage) and os.listdir(stage)
    if not flat and not staged_leftover:
        return
    os.makedirs(stage, exist_ok=True)
    for fn in flat:
        os.replace(os.path.join(corpus_path, fn), os.path.join(stage, fn))
    dest = os.path.join(corpus_path, "epoch=-1")
    if os.path.isdir(dest):  # resume of a partial earlier migration
        for fn in os.listdir(stage):
            os.replace(os.path.join(stage, fn), os.path.join(dest, fn))
        os.rmdir(stage)
    else:
        os.replace(stage, dest)
