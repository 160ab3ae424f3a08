"""Groonga command façade — the reference's primary USER surface.

A reference user interacts through named commands with string parameters
(`select table Docs --query ... --drilldown lang`, `load`, `status`,
`tokenize`, …) [G: lib/proc/*.c command handlers; command syntax in the
reference docs]. This module maps those commands — with the REFERENCE
parameter names and comma-separated string conventions — onto the engine
APIs, so switching workloads is a rename, not a rewrite.

Output follows the reference's body shape for `select`:
``[[[n_hits], [[col, type], ...], row, row, ...], drilldown_bodies...]``
and plain dict/list bodies for the rest. Spark-first: every command
delegates to lazy DataFrame pipelines; only the output step collects.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

TOKENIZER_NAMES = {
    "TokenBigram": "bigram",
    "TokenTrigram": "trigram",
    "TokenDelimit": "delimit",
}


def _mode_of(tokenizer: str) -> str:
    """Reference tokenizer name (+ ``TokenNgram("n", N)``) → mode string."""
    t = tokenizer.strip()
    if t in TOKENIZER_NAMES:
        return TOKENIZER_NAMES[t]
    if t.startswith("TokenNgram"):
        import re

        m = re.search(r'"n"\s*,\s*(\d+)', t)
        return f"ngram:{m.group(1)}" if m else "bigram"
    if t.startswith(("TokenPattern", "TokenRegexp")):
        # TokenPattern("(regex)") → pattern-extraction tokenizer;
        # TokenRegexp("(regex)") → regex-DELIMITED tokenizer (split)
        import re

        m = re.search(r'"((?:[^"\\]|\\.)*)"', t)
        if not m:
            raise ValueError(f"{t!r} needs a quoted regex argument")
        base = "pattern" if t.startswith("TokenPattern") else "split"
        # decode the DDL string literal's own escapes (\\ and \") to the
        # regex the user wrote — like select's @~ literals
        regex = re.sub(r'\\([\\"])', r"\1", m.group(1))
        return f"{base}:{regex}"
    if (t in ("bigram", "trigram", "delimit")
            or t.startswith(("ngram:", "pattern:", "split:"))):
        return t  # already a mode string
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


@dataclass
class CommandContext:
    """Holds the named tables and fulltext indexes commands operate on —
    the grn database handle equivalent."""

    spark: SparkSession
    tables: dict[str, DataFrame] = field(default_factory=dict)
    indexes: dict[str, Any] = field(default_factory=dict)  # Fulltext/MultiField
    id_cols: dict[str, str] = field(default_factory=dict)
    #: per-table reference columns, the schema property a Groonga column
    #: whose type is another table carries: {table: {fk_col: (other_table
    #: NAME, its pk col)}} — lets select resolve dot-path accessors
    #: schema-driven, like the reference [G: lib/db.c · column type =
    #: table ⇒ accessor chain]
    references: dict[str, dict[str, tuple[str, str]]] = field(
        default_factory=dict
    )
    #: DDL metadata recorded by table_create/column_create (flags, key
    #: type, default_tokenizer, declared index columns) — what the
    #: reference keeps in the grn schema [G: lib/db.c table/column specs]
    ddl: dict[str, dict] = field(default_factory=dict)
    #: where column_create COLUMN_INDEX materializes index stores; a
    #: temp dir unless the caller points it at durable storage
    index_root: str | None = None

    def _index_root(self) -> str:
        if self.index_root is None:
            import tempfile

            self.index_root = tempfile.mkdtemp(prefix="gs_cmd_idx_")
        return self.index_root

    def register(self, name: str, df: DataFrame, index=None,
                 id_col: str = "doc_id",
                 references: dict[str, tuple[str, str]] | None = None) -> None:
        self.tables[name] = df
        if index is not None:
            self.indexes[name] = index
        self.id_cols[name] = id_col
        if references:
            self.references[name] = dict(references)

    def resolve_references(self, table: str) -> dict:
        """Column-name-keyed reference map for a select over ``table``:
        the table's OWN reference columns (dot-path heads), plus other
        tables' reference columns so chained paths can hop through
        dimensions — but only when the name is NOT also a column of
        ``table`` (a foreign declaration must never hijack this table's
        same-named plain column; select() additionally restricts heads
        to actual fact columns). References to a table that is not
        (yet) registered are skipped, not an error — they only matter
        if a query actually traverses them."""
        own = self.references.get(table, {})
        fact_cols = set(self.tables[table].columns) if table in self.tables \
            else set()
        out: dict = {}
        for tname, m in self.references.items():
            if tname == table:
                continue
            for fk, (dim_name, pk) in m.items():
                if fk in own or fk in fact_cols or dim_name not in self.tables:
                    continue
                out[fk] = (self.tables[dim_name], pk)
        for fk, (dim_name, pk) in own.items():
            if dim_name in self.tables:
                out[fk] = (self.tables[dim_name], pk)
        return out


def execute(ctx: CommandContext, command: str, **params):
    """Run one reference-named command; returns the command's body."""
    fn = _COMMANDS.get(command)
    if fn is None:
        raise ValueError(f"unknown command {command!r}; "
                         f"supported: {sorted(_COMMANDS)}")
    return fn(ctx, **params)


# --------------------------------------------------------------------------
# commands
# --------------------------------------------------------------------------

#: Groonga data types → Spark SQL types [G: include/groonga/groonga.h ·
#: grn_builtin_type]. GeoPoints are 'latxlon' strings (the convention
#: groonga_spark.functions.geo_* parse).
_GRN_TYPES = {
    "Bool": "boolean",
    "Int8": "tinyint",
    "UInt8": "smallint",
    "Int16": "smallint",
    "UInt16": "int",
    "Int32": "int",
    "UInt32": "long",
    "Int64": "long",
    "UInt64": "long",
    "Float32": "float",
    "Float": "double",
    "Time": "timestamp",
    "ShortText": "string",
    "Text": "string",
    "LongText": "string",
    "TokyoGeoPoint": "string",
    "WGS84GeoPoint": "string",
}


def _grn_type(name: str) -> str:
    t = _GRN_TYPES.get(name.strip())
    if t is None:
        raise ValueError(
            f"unknown type {name!r}; supported: {sorted(_GRN_TYPES)}"
        )
    return t


def _cmd_table_create(ctx: CommandContext, name: str,
                      flags: str = "TABLE_HASH_KEY",
                      key_type: str = "ShortText",
                      value_type: str | None = None,
                      default_tokenizer: str | None = None,
                      normalizer: str | None = None,
                      token_filters: str | None = None):
    """The reference's table_create [G: lib/proc.c · proc_table_create]:
    registers an EMPTY table with the declared key. TABLE_NO_KEY tables
    get the implicit ``_id`` (Int64) instead of ``_key``; hash/pat/dat
    key flavors are a storage detail the reference exposes — here every
    keyed table is a DataFrame with a ``_key`` column (lookup strategy
    is Catalyst's choice). default_tokenizer/normalizer/token_filters
    are recorded and picked up by column_create COLUMN_INDEX."""
    if name in ctx.tables:
        raise ValueError(f"table {name!r} already exists")
    fl = {f.strip() for f in flags.split("|") if f.strip()}
    no_key = "TABLE_NO_KEY" in fl
    cols = ["_id long"] if no_key else [f"_key {_grn_type(key_type)}"]
    if value_type:
        cols.append(f"_value {_grn_type(value_type)}")
    df = ctx.spark.createDataFrame([], ", ".join(cols))
    ctx.register(name, df, id_col="_id" if no_key else "_key")
    ctx.ddl[name] = {
        "flags": sorted(fl) or ["TABLE_HASH_KEY"],
        "key_type": None if no_key else key_type,
        "value_type": value_type,
        "default_tokenizer": default_tokenizer,
        "normalizer": normalizer,
        "token_filters": token_filters,
        "columns": {},
    }
    return True


def _index_mode_for(ctx: CommandContext, lexicon_table: str) -> str:
    """Tokenizer mode string for an index column: the LEXICON table's
    declared default_tokenizer + token_filters (reference layout: the
    index column lives on the lexicon table)."""
    d = ctx.ddl.get(lexicon_table, {})
    mode = _mode_of(d.get("default_tokenizer") or "TokenBigram")
    for tf in (d.get("token_filters") or "").split(","):
        tf = tf.strip()
        if not tf:
            continue
        if tf == "TokenFilterStem":
            mode += "|stem"
        elif tf.startswith("TokenFilterStopWord"):
            inner = tf[tf.find("(") + 1 : tf.rfind(")")]
            mode += "|stop:" + ",".join(inner.split(";"))
        else:
            raise ValueError(f"unknown token filter {tf!r}")
    return mode


def _cmd_column_create(ctx: CommandContext, table: str, name: str,
                       flags: str = "COLUMN_SCALAR",
                       type: str | None = None,  # noqa: A002
                       source: str | None = None):
    """The reference's column_create [G: lib/proc.c ·
    proc_column_create]:

    - COLUMN_SCALAR/COLUMN_VECTOR with a data type → a (null-filled)
      typed column on the table.
    - a TABLE as the type → a reference column (dot-path accessor
      target; column_list reports the table as its range).
    - COLUMN_INDEX on a lexicon table with ``type`` = source table and
      ``source`` = its text column(s) → builds the fulltext index
      (multi-column source = WITH_SECTION → per-field BM25F index).
      The source table's id column must be integer-typed (the engine's
      doc_id contract — the reference's implicit _id is an int too);
      WITH_POSITION is always on (positions are stored regardless).
    """
    from pyspark.sql import functions as F

    if table not in ctx.tables:
        raise ValueError(f"unknown table {table!r}")
    fl = {f.strip() for f in flags.split("|") if f.strip()}
    meta = {"flags": sorted(fl), "type": type, "source": source}

    if "COLUMN_INDEX" in fl:
        if type not in ctx.tables:
            raise ValueError(
                "COLUMN_INDEX type must be the SOURCE table; "
                f"unknown table {type!r}"
            )
        srcs = [c.strip() for c in (source or "").split(",") if c.strip()]
        if not srcs:
            raise ValueError("COLUMN_INDEX needs --source column(s)")
        docs = ctx.tables[type]
        id_col = ctx.id_cols.get(type, "doc_id")
        id_type = dict(docs.dtypes).get(id_col)
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"COLUMN_INDEX source table {type!r} needs an integer id "
                f"column ({id_col!r} is {id_type}): create it with "
                "TABLE_NO_KEY (implicit _id) or an Int*/UInt* key"
            )
        missing = [c for c in srcs if c not in docs.columns]
        if missing:
            raise ValueError(f"source column(s) {missing} not in {type!r}")
        import os as _os

        mode = _index_mode_for(ctx, table)
        live = _live_index_decl(ctx, type)
        if live is not None and (
                _index_sources(live[1]) != srcs
                or _index_mode_for(ctx, live[0]) != mode):
            raise ValueError(
                f"table {type!r} is already indexed by {live[0]}.{live[2]} "
                f"(source {live[1]['source']!r}); select resolves ONE index "
                "per source table, so an index over other columns or with "
                "another tokenizer would silently replace it — remove "
                "that index column first"
            )
        path = _os.path.join(ctx._index_root(), f"{table}__{name}")
        if len(srcs) == 1:
            from groonga_spark.build import build_index
            from groonga_spark.search import FulltextIndex

            build_index(
                ctx.spark,
                docs.select(
                    F.col(id_col).cast("long").alias("doc_id"),
                    F.coalesce(F.col(srcs[0]), F.lit("")).alias("text"),
                ),
                path, mode=mode, resume=False,
            )
            ctx.indexes[type] = FulltextIndex(ctx.spark, path)
        else:
            from groonga_spark.multifield import (
                MultiFieldIndex,
                build_multifield_index,
            )

            build_multifield_index(
                ctx.spark, docs, path, fields=srcs, mode=mode,
                id_col=id_col,
            )
            ctx.indexes[type] = MultiFieldIndex(ctx.spark, path)
        meta["path"] = path
        ctx.ddl.setdefault(table, {}).setdefault("columns", {})[name] = meta
        return True

    if name in ctx.tables[table].columns:
        # validate BEFORE touching ctx.references: a failed call must
        # not leave a phantom reference that hijacks the existing
        # same-named plain column's dot-path resolution
        raise ValueError(f"column {name!r} already exists on {table!r}")
    if type in ctx.tables:
        # reference column: physically the other table's key type
        ref_key = ctx.id_cols.get(type, "doc_id")
        key_type = dict(ctx.tables[type].dtypes).get(ref_key, "string")
        col_type = key_type
        refs = ctx.references.setdefault(table, {})
        refs[name] = (type, ref_key)
    else:
        col_type = _grn_type(type or "ShortText")
    if "COLUMN_VECTOR" in fl:
        col_type = f"array<{col_type}>"
    ctx.tables[table] = ctx.tables[table].withColumn(
        name, F.lit(None).cast(col_type)
    )
    ctx.ddl.setdefault(table, {}).setdefault("columns", {})[name] = meta
    return True


def _index_sources(meta: dict) -> list[str]:
    return [c.strip() for c in (meta.get("source") or "").split(",")
            if c.strip()]


def _live_index_decl(ctx: CommandContext, src_table: str):
    """(lexicon table, meta, column name) of the COLUMN_INDEX declaration
    whose built index serves ``src_table``'s slot, or None."""
    live = getattr(ctx.indexes.get(src_table), "path", None)
    for lex, d in ctx.ddl.items():
        for cname, meta in d.get("columns", {}).items():
            if ("COLUMN_INDEX" in meta["flags"] and meta["type"] == src_table
                    and meta.get("path") == live):
                return lex, meta, cname
    return None


def _pop_index(ctx: CommandContext, meta: dict) -> None:
    """Drop a COLUMN_INDEX declaration's built index from its source
    table's slot — only when the slot holds THAT index (same path): two
    declarations over one source share the slot, and removing the one
    whose index is not live must leave the other serving."""
    if getattr(ctx.indexes.get(meta["type"]), "path", None) == meta["path"]:
        ctx.indexes.pop(meta["type"])


def _drop_dependent_indexes(ctx: CommandContext, table: str,
                            column: str | None = None) -> None:
    """Cascade removal the way grn_obj_remove does: drop every built
    index whose COLUMN_INDEX declaration involves ``table`` (as the
    LEXICON hosting the index column, or as the SOURCE table — when
    ``column`` is given, only declarations sourcing that column), and
    drop the now-dangling DDL entries with it."""
    for lex, d in ctx.ddl.items():
        cols = d.get("columns", {})
        for cname in list(cols):
            meta = cols[cname]
            if "COLUMN_INDEX" not in meta["flags"]:
                continue
            srcs = _index_sources(meta)
            hit = (lex == table and column is None) or (
                meta["type"] == table
                and (column is None or column in srcs)
            )
            if hit:
                _pop_index(ctx, meta)
                cols.pop(cname)


def _cmd_table_remove(ctx: CommandContext, name: str):
    """[G: lib/proc.c · proc_table_remove]: drop the table, its DDL
    record, every reference declaration pointing AT it, and — like
    grn_obj_remove's cascade — every built index the table hosted (as
    a lexicon) or fed (as the source)."""
    if name not in ctx.tables:
        raise ValueError(f"unknown table {name!r}")
    _drop_dependent_indexes(ctx, name)
    ctx.tables.pop(name)
    ctx.indexes.pop(name, None)
    ctx.id_cols.pop(name, None)
    ctx.ddl.pop(name, None)
    ctx.references.pop(name, None)
    for refs in ctx.references.values():
        for col in [c for c, (t, _) in refs.items() if t == name]:
            refs.pop(col)
    return True


def _cmd_column_remove(ctx: CommandContext, table: str, name: str):
    """[G: lib/proc.c · proc_column_remove]: drop a column; an index
    column declared via COLUMN_INDEX drops the built index instead."""
    if table not in ctx.tables:
        raise ValueError(f"unknown table {table!r}")
    ddl_cols = ctx.ddl.get(table, {}).get("columns", {})
    meta = ddl_cols.get(name)
    if meta is not None and "COLUMN_INDEX" in meta["flags"]:
        _pop_index(ctx, meta)
        ddl_cols.pop(name)
        return True
    if name not in ctx.tables[table].columns:
        raise ValueError(f"unknown column {table}.{name}")
    if name == ctx.id_cols.get(table):
        raise ValueError(f"cannot remove the key column {name!r}")
    # cascade: an index BUILT FROM this column must not keep serving
    # matches against data that no longer exists [G: grn_obj_remove]
    _drop_dependent_indexes(ctx, table, column=name)
    ctx.tables[table] = ctx.tables[table].drop(name)
    ddl_cols.pop(name, None)
    ctx.references.get(table, {}).pop(name, None)
    return True


def _cmd_object_exist(ctx: CommandContext, name: str):
    """[G: lib/proc.c · proc_object_exist]: table, table.column, or a
    declared index column."""
    if "." in name:
        t, c = name.split(".", 1)
        if t not in ctx.tables:
            return False
        return (c in ctx.tables[t].columns
                or c in ctx.ddl.get(t, {}).get("columns", {}))
    return name in ctx.tables


def _cmd_truncate(ctx: CommandContext, target_name: str):
    """The reference's truncate [G: lib/proc.c · proc_truncate]: drop
    every record, keep the schema. A fulltext index OVER the truncated
    table is dropped too, COLUMN_INDEX declaration and all, through the
    same cascade as column_remove / table_remove: its postings describe
    rows that no longer exist. The reference keeps an empty index column
    instead; here a declaration with no index behind it would still be
    listed by column_list / object_exist and make ``select query=``
    fail."""
    if target_name not in ctx.tables:
        raise ValueError(f"unknown table {target_name!r}")
    df = ctx.tables[target_name]
    ctx.tables[target_name] = ctx.spark.createDataFrame([], df.schema)
    _drop_dependent_indexes(ctx, target_name)
    ctx.indexes.pop(target_name, None)
    return True


def _cmd_status(ctx: CommandContext):
    import pyspark

    return {
        "version": "groonga-spark/0.2",
        "spark_version": pyspark.__version__,
        "n_tables": len(ctx.tables),
        "n_indexes": len(ctx.indexes),
        "default_command_version": 1,
    }


def _cmd_table_list(ctx: CommandContext):
    out = []
    for name, df in sorted(ctx.tables.items()):
        row = {
            "name": name,
            "n_columns": len(df.columns),
            "has_index": name in ctx.indexes,
            "key": ctx.id_cols.get(name, "doc_id"),
        }
        d = ctx.ddl.get(name)
        if d:  # DDL-created tables also report their declaration
            # .get: a register()-ed table gains a ddl record holding
            # only "columns" when column_create runs against it
            if d.get("flags"):
                row["flags"] = "|".join(d["flags"])
            if d.get("key_type"):
                row["domain"] = d["key_type"]
            if d.get("default_tokenizer"):
                row["default_tokenizer"] = d["default_tokenizer"]
        out.append(row)
    return out


def _cmd_column_list(ctx: CommandContext, table: str):
    df = ctx.tables[table]
    refs = ctx.references.get(table, {})
    out = []
    ddl_cols = ctx.ddl.get(table, {}).get("columns", {})
    for f in df.schema.fields:
        row = {"name": f.name, "type": f.dataType.simpleString()}
        if f.name in refs:
            # a reference column reports the referenced TABLE as its
            # range, the Groonga column_list convention
            row["range"] = refs[f.name][0]
        if f.name in ddl_cols:
            row["flags"] = "|".join(ddl_cols[f.name]["flags"])
        out.append(row)
    # index columns live only in the DDL record (the index store, not
    # the DataFrame, holds their data) — still listed, like the
    # reference lists them on the lexicon table
    for cname, meta in ddl_cols.items():
        if "COLUMN_INDEX" in meta["flags"]:
            out.append({
                "name": cname, "type": "index",
                "flags": "|".join(meta["flags"]),
                "range": meta["type"], "source": meta["source"],
            })
    return out


def _cmd_schema(ctx: CommandContext):
    return {
        "tables": {
            name: {
                "columns": _cmd_column_list(ctx, name),
                "has_index": name in ctx.indexes,
            }
            for name in sorted(ctx.tables)
        }
    }


def _cmd_tokenize(ctx: CommandContext, tokenizer: str, string: str,
                  token_filters: str | None = None, **_):
    from groonga_spark.normalize import normalize_str
    from groonga_spark.tokenize import tokenize_str

    mode = _mode_of(tokenizer)
    if token_filters:
        for tf in token_filters.split(","):
            tf = tf.strip()
            if tf == "TokenFilterStem":
                mode += "|stem"
            elif tf.startswith("TokenFilterStopWord"):
                # reference configures the stop list on the column; the
                # façade takes it inline: TokenFilterStopWord(a;b;c)
                inner = tf[tf.find("(") + 1 : tf.rfind(")")]
                mode += "|stop:" + ",".join(inner.split(";"))
            else:
                raise ValueError(f"unknown token filter {tf!r}")
    return [{"value": t, "position": p}
            for t, p in tokenize_str(normalize_str(string), mode)]


def _cmd_normalize(ctx: CommandContext, normalizer: str, string: str, **_):
    from groonga_spark.normalize import normalize_str

    return {"normalized": normalize_str(string), "types": [], "checks": []}


def _cmd_load(ctx: CommandContext, table: str, values, key: str | None = None):
    """Upserts the TABLE only. The reference's load also maintains index
    columns in place [G: lib/proc.c · proc_load → index hooks]; immutable
    segments can't — so when the table has a registered fulltext index the
    divergence is made VISIBLE (warning + ``index_stale`` flag) instead of
    silently serving stale matches. Rebuild/append via build_index(resume=
    True) or streaming.append_docs picks the new rows up."""
    from groonga_spark.load import load_json, upsert

    incoming = load_json(ctx.spark, values)
    key = key or ctx.id_cols.get(table, "doc_id")
    if table in ctx.tables:
        ctx.tables[table] = upsert(ctx.tables[table], incoming, key)
    else:
        ctx.tables[table] = incoming
        ctx.id_cols.setdefault(table, key)
    out = {"n_loaded": incoming.count()}
    if table in ctx.indexes:
        import warnings

        warnings.warn(
            f"load into {table!r}: its fulltext index was NOT updated — "
            "select --query serves pre-load matches until the index is "
            "rebuilt/appended (build_index resume / append_docs)"
        )
        out["index_stale"] = True
    return out


def _cmd_delete(ctx: CommandContext, table: str, key: str | None = None,
                id=None, filter: str | None = None):  # noqa: A002
    from pyspark.sql import functions as F

    from groonga_spark.select import script_to_sql

    df = ctx.tables[table]
    id_col = ctx.id_cols.get(table, "doc_id")
    if filter is not None:
        doomed = df.filter(F.expr(script_to_sql(filter)))
    elif id is not None:
        doomed = df.filter(F.col(id_col) == id)
    elif key is not None:
        doomed = df.filter(F.col(id_col) == key)
    else:
        raise ValueError("delete needs key=, id= or filter=")
    # Never collect the matched ids to the driver: a `delete --filter`
    # can match billions of rows. The count comes from one aggregate;
    # the tombstone write streams the id DataFrame from the executors.
    # Pinned ONCE (same pattern as MultiFieldIndex.delete_docs): the
    # lineage is otherwise re-executed three times — count, anti-join,
    # tombstone write — and a non-deterministic filter or concurrently
    # changing source would tombstone a DIFFERENT id set than reported.
    doomed_ids = doomed.select(id_col).localCheckpoint(eager=True)
    n_deleted = doomed_ids.count()
    ctx.tables[table] = df.join(doomed_ids, id_col, "left_anti")
    idx = ctx.indexes.get(table)
    if idx is not None and hasattr(idx, "delete_docs") and n_deleted:
        idx.delete_docs(doomed_ids)
    return {"n_deleted": n_deleted}


# Hard cap on rows materialized into a command-façade select body. A
# normal select is bounded by its `limit`, but `limit=-1` (the
# reference's "all rows") would otherwise collect an unbounded result
# onto the driver. The n_hits header stays the TRUE count either way.
SELECT_BODY_MAX_ROWS = 100_000


def _cols_header(df: DataFrame) -> list:
    """THE body column header shape — shared by select bodies,
    drilldown bodies, and logical_range_filter pages."""
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


def _select_body(n_hits: int, hits_df: DataFrame) -> list:
    """``[[n_hits], [[col, type]...], rows...]`` — the body of a select
    result, a slice and a drilldown alike."""
    # fetch cap+1 so truncation is DETECTED, never silent: a limit=-1
    # ("all rows") select bigger than the cap keeps the true n_hits in
    # the header and marks the body as truncated instead of quietly
    # returning fewer rows than n_hits.
    rows = hits_df.limit(SELECT_BODY_MAX_ROWS + 1).collect()
    cols = _cols_header(hits_df)
    header: list = [n_hits]
    if len(rows) > SELECT_BODY_MAX_ROWS:
        rows = rows[:SELECT_BODY_MAX_ROWS]
        header.append({"truncated": True, "cap": SELECT_BODY_MAX_ROWS})
    return [header, cols, *[list(r) for r in rows]]


def _cmd_select(
    ctx: CommandContext,
    table: str,
    query: str | None = None,
    match_columns: str | None = None,
    filter: str | None = None,  # noqa: A002
    post_filter: str | None = None,
    sort_keys: str | None = None,
    output_columns: str | None = None,
    offset: int = 0,
    limit: int = 10,
    drilldown: str | None = None,
    drilldowns: dict | None = None,
    slices: dict | None = None,
    columns: dict | None = None,
    match_escalation_threshold: int | None = None,
    adjuster: list | None = None,
    scorer: str | None = None,
    output_type: str = "python",
    _df: DataFrame | None = None,
):
    """The reference's `select` with its parameter names/conventions:
    comma-separated sort_keys/output_columns/drilldown strings, body
    shaped ``[[[n_hits], [[col, type]...], rows...], drilldowns...]``.
    ``_df`` (internal): a pre-filtered frame standing in for the table —
    the logical_* commands enter here with the shard-range slice."""
    from groonga_spark.select import select as _select

    sel_kwargs = dict(
        query=query,
        filter=filter,
        post_filter=post_filter,
        sort_keys=sort_keys,
        offset=int(offset),
        limit=int(limit),
        output_columns=output_columns,
        slices=slices,
        columns=columns,
        adjuster=adjuster,
        scorer=scorer,
        match_escalation_threshold=match_escalation_threshold,
        match_columns=match_columns,
        id_col=ctx.id_cols.get(table, "doc_id"),
    )
    refs = ctx.resolve_references(table)
    if refs:
        sel_kwargs["references"] = refs

    def _limited(spec) -> dict:
        # a drilldown or slice the command gives no limit returns the
        # reference's default 10 rows (drilldown_limit, slices[].limit)
        spec = {"keys": spec} if isinstance(spec, str) else dict(spec)
        spec.setdefault("limit", 10)
        return spec

    if drilldown is not None:
        sel_kwargs["drilldowns"] = [_limited(k.strip())
                                    for k in drilldown.split(",")]
    elif drilldowns is not None:
        sel_kwargs["drilldowns"] = {label: _limited(s)
                                    for label, s in drilldowns.items()}
    if slices is not None:
        sel_kwargs["slices"] = {label: _limited(s)
                                for label, s in slices.items()}
    base_df = _df if _df is not None else ctx.tables[table]
    with _select(base_df,
                 index=ctx.indexes.get(table), **sel_kwargs) as res:
        body = [_select_body(res.n_hits, res.hits)]
        # the reference emits slices as ONE {label: body} object after
        # the result set, then the drilldowns; each header reports the
        # TOTAL (pre-limit) count — with limit=0 the rows are suppressed
        # but the total is still reported
        if res.slices:
            body.append({
                label: _select_body(res.slice_totals[label].count(), sl)
                for label, sl in res.slices.items()
            })
        for label, dd in (res.drilldowns or {}).items():
            body.append(_select_body(res.drilldown_totals[label].count(),
                                     dd))
    if output_type == "json":
        return json.dumps(body, default=str)
    return body


# -- logical_* commands (time-sharded selects) -------------------------------
#
# The reference shards log-style tables by day (`table_20240115`) and the
# logical_* commands enumerate + prune shards by a time range
# [G: plugins/sharding/*.rb · LogicalSelect / LogicalCount /
# LogicalRangeFilter]. Spark-first, a "logical table" is ONE table
# partitioned by the shard key (Iceberg days(ts) at prod scale): the
# range predicate below IS the shard enumeration — Catalyst partition
# pruning reads only the shards in range.

def _shard_bound(value, ktype: str):
    """A range bound validated DRIVER-SIDE before it becomes a cast: a
    typo'd timestamp cast to NULL would silently filter out EVERY row
    (ts >= NULL is never true) where the reference command errors."""
    if ktype.startswith(("timestamp", "date")):
        import pandas as pd

        try:
            pd.Timestamp(value)
        except (ValueError, TypeError) as e:
            raise ValueError(f"bad shard-key bound {value!r}: {e}") from e
    elif ktype in ("tinyint", "smallint", "int", "bigint",
                   "float", "double") or ktype.startswith("decimal"):
        try:
            float(value)
        except (ValueError, TypeError) as e:
            raise ValueError(f"bad shard-key bound {value!r}: {e}") from e
    from pyspark.sql import functions as F

    return F.lit(value).cast(ktype)


def _shard_range(df: DataFrame, shard_key: str,
                 min=None, min_border: str = "include",  # noqa: A002
                 max=None, max_border: str = "include"):  # noqa: A002
    for b in (min_border, max_border):
        if b not in ("include", "exclude"):
            raise ValueError(f"border must be include|exclude, got {b!r}")
    ktype = dict(df.dtypes).get(shard_key)
    if ktype is None:
        raise ValueError(f"unknown shard key {shard_key!r}")
    from pyspark.sql import functions as F

    k = F.col(shard_key)
    if min is not None:
        lo = _shard_bound(min, ktype)
        df = df.filter(k >= lo if min_border == "include" else k > lo)
    if max is not None:
        hi = _shard_bound(max, ktype)
        df = df.filter(k <= hi if max_border == "include" else k < hi)
    return df


def _cmd_logical_select(ctx: CommandContext, logical_table: str,
                        shard_key: str,
                        min=None, min_border: str = "include",  # noqa: A002
                        max=None, max_border: str = "include",  # noqa: A002
                        **select_params):
    """[G: plugins/sharding/logical_select.rb] — `select` over the
    shards in [min, max] (borders per parameter); all select parameters
    (filter/sort_keys/drilldowns/...) pass through."""
    df = _shard_range(ctx.tables[logical_table], shard_key,
                      min, min_border, max, max_border)
    return _cmd_select(ctx, table=logical_table, _df=df, **select_params)


def _cmd_logical_count(ctx: CommandContext, logical_table: str,
                       shard_key: str,
                       min=None, min_border: str = "include",  # noqa: A002
                       max=None, max_border: str = "include",  # noqa: A002
                       filter: str | None = None):  # noqa: A002
    """[G: plugins/sharding/logical_count.rb] — one pruned count. The
    filter gets the FULL select semantics (script query()/fuzzy_search()
    rewrites, reference dot-paths) by running the select pipeline at
    limit=0, same as logical_select's filter."""
    body = _cmd_logical_select(
        ctx, logical_table, shard_key, min, min_border, max, max_border,
        filter=filter, limit=0,
    )
    return body[0][0][0]


def _cmd_logical_range_filter(ctx: CommandContext, logical_table: str,
                              shard_key: str,
                              min=None,  # noqa: A002
                              min_border: str = "include",
                              max=None,  # noqa: A002
                              max_border: str = "include",
                              order: str = "ascending",
                              offset: int = 0, limit: int = 10,
                              filter: str | None = None,  # noqa: A002
                              output_columns: str | None = None):
    """[G: plugins/sharding/logical_range_filter.rb] — the streaming
    pagination command: rows ordered by (shard key, record id) —
    the id tie-break keeps consecutive pages disjoint when shard-key
    values repeat — offset/limit, NO total count (the reference skips
    it so early shards can stream without scanning the rest; here a
    TakeOrderedAndProject instead of a count job). Runs through the
    select pipeline (need_hit_count=False), so filters get the full
    script semantics. Body = [[col, type]...] + rows; limit=-1 raises
    past SELECT_BODY_MAX_ROWS instead of silently truncating a page
    that has no count header to flag it."""
    from groonga_spark.select import select as _select

    if order not in ("ascending", "descending"):
        raise ValueError(f"order must be ascending|descending: {order!r}")
    offset, limit = int(offset), int(limit)
    if offset < 0:
        raise ValueError(f"offset must be >= 0: {offset}")
    if limit < -1:
        raise ValueError(f"limit must be >= -1: {limit}")
    df = _shard_range(ctx.tables[logical_table], shard_key,
                      min, min_border, max, max_border)
    id_col = ctx.id_cols.get(logical_table, "doc_id")
    sort = ("" if order == "ascending" else "-") + shard_key
    if id_col != shard_key:
        sort += f",{id_col}"
    refs = ctx.resolve_references(logical_table)
    fetch = limit if limit >= 0 else SELECT_BODY_MAX_ROWS + 1
    with _select(df, index=ctx.indexes.get(logical_table),
                 filter=filter, sort_keys=sort, offset=offset,
                 limit=fetch, output_columns=output_columns,
                 id_col=id_col, references=refs or None,
                 need_hit_count=False) as res:
        rows = res.hits.collect()
        cols = _cols_header(res.hits)
    if limit == -1 and len(rows) > SELECT_BODY_MAX_ROWS:
        raise ValueError(
            "logical_range_filter limit=-1 exceeds "
            f"SELECT_BODY_MAX_ROWS={SELECT_BODY_MAX_ROWS}; paginate "
            "with offset/limit"
        )
    return [cols, *[list(r) for r in rows]]


def _cmd_dump(ctx: CommandContext, table: str, path: str):
    from groonga_spark.output import write_parquet

    write_parquet(ctx.tables[table], path)
    return {"dumped": table, "path": path}


def _cmd_cache_limit(ctx: CommandContext, max: int | None = None):  # noqa: A002
    from groonga_spark.search import FulltextIndex

    prev = FulltextIndex.RESULT_CACHE_MAX
    if max is not None:
        FulltextIndex.RESULT_CACHE_MAX = int(max)
    return {"previous": prev, "current": FulltextIndex.RESULT_CACHE_MAX}


_COMMANDS = {
    "table_create": _cmd_table_create,
    "column_create": _cmd_column_create,
    "table_remove": _cmd_table_remove,
    "column_remove": _cmd_column_remove,
    "object_exist": _cmd_object_exist,
    "truncate": _cmd_truncate,
    "status": _cmd_status,
    "table_list": _cmd_table_list,
    "column_list": _cmd_column_list,
    "schema": _cmd_schema,
    "tokenize": _cmd_tokenize,
    "normalize": _cmd_normalize,
    "load": _cmd_load,
    "delete": _cmd_delete,
    "select": _cmd_select,
    "logical_select": _cmd_logical_select,
    "logical_count": _cmd_logical_count,
    "logical_range_filter": _cmd_logical_range_filter,
    "dump": _cmd_dump,
    "cache_limit": _cmd_cache_limit,
}
