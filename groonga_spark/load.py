"""Ingestion — the reference's ``load`` command re-expressed for
immutable-table Spark semantics (SURVEY.md §2.1).

Groonga's ``load`` streams JSON records and upserts by ``_key``, firing
per-record index-update hooks [G: lib/load.c · grn_load; hooks:
lib/db.c · grn_obj_set_value → grn_ii_column_update]. Here:

- ``load_json`` parses the same two JSON shapes (array-of-objects,
  array-of-arrays with a leading column row) into a DataFrame;
- ``upsert`` merges records into a keyed corpus with last-write-wins
  (the MERGE INTO equivalent over plain parquet; prod uses Iceberg
  MERGE) — index maintenance is NOT a hook but a derived-data rebuild:
  call streaming.append_docs afterwards (new docs become a delta).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def load_json(spark: SparkSession, payload: str | list,
              schema: str | None = None) -> DataFrame:
    """Parse Groonga ``load --values`` JSON into a DataFrame.

    Accepts array-of-objects ``[{"_key": ...}, ...]`` or array-of-arrays
    ``[["col1","col2"], [v11, v12], ...]`` (first row = column names)."""
    data = json.loads(payload) if isinstance(payload, str) else payload
    if not data:
        raise ValueError("empty load payload")
    if isinstance(data[0], list):
        cols = data[0]
        rows = [dict(zip(cols, r)) for r in data[1:]]
    else:
        rows = data
    if schema is not None:
        return spark.createDataFrame(rows, schema)  # type: ignore[arg-type]
    return spark.createDataFrame(rows)


def upsert(existing: DataFrame, incoming: DataFrame, key: str,
           version_col: str | None = None) -> DataFrame:
    """Last-write-wins merge by ``key`` (Groonga load upsert semantics).

    ``version_col`` (e.g. warc_ts) breaks ties; otherwise incoming wins.
    One window over the union — no driver data movement; at scale this
    is Iceberg ``MERGE INTO`` with the same semantics.
    """
    a = existing.withColumn("_src", F.lit(0)).withColumn(
        "_pos", F.lit(-1).cast("long"))
    # _pos: payload position so intra-batch duplicate keys resolve to
    # the LAST record in the payload (Groonga load order semantics) —
    # for a payload-built incoming frame monotonically_increasing_id
    # follows (partition, row) order, i.e. the payload listing
    b = incoming.withColumn("_src", F.lit(1)).withColumn(
        "_pos", F.monotonically_increasing_id())
    both = a.unionByName(b, allowMissingColumns=True)
    order = (
        [F.desc(version_col), F.desc("_src"), F.desc("_pos")] if version_col
        else [F.desc("_src"), F.desc("_pos")]
    )
    w = Window.partitionBy(key).orderBy(*order)
    return (
        both.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src", "_pos")
    )
