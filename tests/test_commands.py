"""Groonga command façade: reference parameter names/conventions mapped
onto the engine (the user surface a reference workload would call)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from groonga_spark.commands import CommandContext, execute


@pytest.fixture(scope="module")
def ctx(spark, tmp_path_factory):
    from groonga_spark.build import build_index
    from groonga_spark.search import FulltextIndex

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path_factory.mktemp("cmd") / "idx")
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    c = CommandContext(spark)
    c.register("Docs", docs, index=FulltextIndex(spark, path))
    return c


def test_status_and_introspection(ctx):
    st = execute(ctx, "status")
    assert st["n_tables"] == 1 and st["n_indexes"] == 1
    tl = execute(ctx, "table_list")
    assert tl[0]["name"] == "Docs" and tl[0]["has_index"]
    cl = execute(ctx, "column_list", table="Docs")
    assert {"name": "doc_id", "type": "bigint"} in cl
    sc = execute(ctx, "schema")
    assert "Docs" in sc["tables"]


def test_tokenize_and_normalize(ctx):
    toks = execute(ctx, "tokenize", tokenizer="TokenBigram",
                   string="日本語 abc")
    assert [t["value"] for t in toks] == ["日本", "本語", "語", "abc"]
    toks2 = execute(ctx, "tokenize", tokenizer="TokenDelimit",
                    string="The Big apple",
                    token_filters="TokenFilterStopWord(the;a),TokenFilterStem")
    assert [t["value"] for t in toks2] == ["big", "apple"]
    assert [t["position"] for t in toks2] == [1, 2]
    n = execute(ctx, "normalize", normalizer="NormalizerAuto", string="ＡＢＣ")
    assert n["normalized"] == "abc"


def test_select_command_body_shape(ctx):
    body = execute(ctx, "select", table="Docs", query="spark merge",
                   sort_keys="-_score,doc_id",
                   output_columns="doc_id,_score", limit=5,
                   drilldown="lang")
    hits = body[0]
    assert isinstance(hits[0][0], int) and hits[0][0] > 0   # n_hits
    assert hits[1] == [["doc_id", "bigint"], ["_score", "double"]]
    rows = hits[2:]
    assert len(rows) == 5
    scores = [r[1] for r in rows]
    assert scores == sorted(scores, reverse=True)
    dd = body[1]                                            # drilldown body
    assert dd[0][0] >= 1 and ["_key", "string"] in dd[1]


def test_select_command_matches_api(ctx, spark):
    from groonga_spark.select import select

    body = execute(ctx, "select", table="Docs",
                   filter='lang == "en" && n_chars > 300',
                   sort_keys="doc_id", output_columns="doc_id", limit=-1)
    got = [r[0] for r in body[0][2:]]
    with select(ctx.tables["Docs"], filter='lang == "en" && n_chars > 300',
                sort_keys="doc_id", limit=-1,
                output_columns=["doc_id"]) as res:
        want = [r["doc_id"] for r in res.hits.collect()]
    assert got == want


def test_load_delete_roundtrip(spark):
    ctx = CommandContext(spark)
    r = execute(ctx, "load", table="T",
                values='[{"doc_id": 1, "text": "hello world"},'
                       ' {"doc_id": 2, "text": "bye"}]', key="doc_id")
    assert r["n_loaded"] == 2
    r2 = execute(ctx, "load", table="T",
                 values='[{"doc_id": 2, "text": "bye UPDATED"}]')
    assert r2["n_loaded"] == 1
    rows = {r["doc_id"]: r["text"] for r in ctx.tables["T"].collect()}
    assert rows == {1: "hello world", 2: "bye UPDATED"}
    d = execute(ctx, "delete", table="T", id=1)
    assert d["n_deleted"] == 1
    assert ctx.tables["T"].count() == 1


def test_cache_limit(ctx):
    prev = execute(ctx, "cache_limit")["current"]
    r = execute(ctx, "cache_limit", max=7)
    assert r["previous"] == prev and r["current"] == 7
    execute(ctx, "cache_limit", max=prev)


def test_unknown_command(ctx):
    with pytest.raises(ValueError):
        execute(ctx, "no_such_command")


def test_select_drilldown_total_vs_limit(ctx):
    """The drilldown body header reports the TOTAL group count; limit
    bounds the returned rows (the reference's select body shape)."""
    body = execute(ctx, "select", table="Docs", limit=0,
                   drilldowns={"langs": {"keys": ["lang"], "limit": 2,
                                         "sort_keys": "-_nsubrecs"}})
    dd = body[1]
    n_langs = execute(ctx, "select", table="Docs", limit=0,
                      drilldowns={"all": {"keys": ["lang"]}})[1][0][0]
    assert dd[0][0] == n_langs          # header = total groups
    assert len(dd) - 2 == 2             # rows bounded by limit
    assert n_langs > 2


def test_drilldown_limit0_still_reports_total(ctx):
    """drilldown limit=0 suppresses rows but the header must still carry
    the TOTAL group count (reference semantics)."""
    body = execute(ctx, "select", table="Docs", limit=0,
                   drilldowns={"langs": {"keys": ["lang"], "limit": 0}})
    dd = body[1]
    assert len(dd) - 2 == 0                  # no rows
    n_langs = execute(ctx, "select", table="Docs", limit=0,
                      drilldowns={"all": {"keys": ["lang"]}})[1][0][0]
    assert dd[0][0] == n_langs and n_langs > 0


def test_select_body_row_cap(ctx, monkeypatch):
    """limit=-1 ("all rows") must not collect unboundedly onto the
    driver: the body is capped at SELECT_BODY_MAX_ROWS while the n_hits
    header stays the TRUE count."""
    import groonga_spark.commands as cmds

    monkeypatch.setattr(cmds, "SELECT_BODY_MAX_ROWS", 3)
    body = execute(ctx, "select", table="Docs", filter='lang == "en"',
                   sort_keys="doc_id", output_columns="doc_id", limit=-1)
    hits = body[0]
    assert hits[0][0] > 3          # true n_hits, uncapped
    assert len(hits) - 2 == 3      # materialized rows capped


def test_select_body_emits_slices(ctx):
    """Each slice comes back in the reference body shape — one
    {label: [[n_hits], [[col, type]...], rows...]} object after the
    result set, before the drilldowns — its header the slice's total,
    its rows bounded by the slice limit (the reference's 10 when the
    command names none)."""
    from groonga_spark.select import select

    docs = ctx.tables["Docs"]
    n_en = docs.filter('lang = "en"').count()
    assert n_en > 10
    body = execute(ctx, "select", table="Docs", limit=0, drilldown="lang",
                   output_columns="doc_id",
                   slices={"en": {"filter": 'lang == "en"', "limit": 3,
                                  "sort_keys": "doc_id"},
                           "all_en": {"filter": 'lang == "en"'}})
    assert len(body) == 3
    slices, dd = body[1], body[2]
    assert set(slices) == {"en", "all_en"}
    head, cols, *rows = slices["en"]
    assert head == [n_en] and ["doc_id", "bigint"] in cols
    with select(docs, filter='lang == "en"', sort_keys="doc_id",
                limit=3) as res:
        want = [list(r) for r in res.hits.collect()]
    assert rows == want
    assert slices["all_en"][0] == [n_en] and len(slices["all_en"]) - 2 == 10
    assert ["_key", "string"] in dd[1]           # drilldown still follows


def test_drilldown_default_limit_is_ten(spark):
    """A drilldown the command gives no limit returns the reference's
    default drilldown_limit of 10 groups; the header keeps the total."""
    ctx = CommandContext(spark)
    ctx.register("G", spark.createDataFrame(
        [(i, f"g{i % 25:02d}") for i in range(100)], "doc_id long, g string"))
    for kw in ({"drilldown": "g"},
               {"drilldowns": {"by_g": {"keys": ["g"],
                                        "sort_keys": "_key"}}}):
        dd = execute(ctx, "select", table="G", limit=0, **kw)[1]
        assert dd[0] == [25] and len(dd) - 2 == 10, kw
    dd = execute(ctx, "select", table="G", limit=0,
                 drilldowns={"g": {"keys": ["g"], "limit": 20}})[1]
    assert dd[0] == [25] and len(dd) - 2 == 20


def test_tokenizer_regex_decodes_ddl_escapes(ctx):
    """TokenPattern/TokenRegexp take their regex from a DDL string
    literal: its escapes (\\\\ and \\") decode one level, so the regex
    is the one the user wrote."""
    from groonga_spark.commands import _mode_of

    assert _mode_of('TokenPattern("\\\\d+")') == "pattern:\\d+"
    assert _mode_of('TokenRegexp("[,\\"]")') == 'split:[,"]'
    toks = execute(ctx, "tokenize", tokenizer='TokenPattern("\\\\d+")',
                   string="ab 12 c345")
    assert [t["value"] for t in toks] == ["12", "345"]
    toks = execute(ctx, "tokenize", tokenizer='TokenRegexp("[,\\"]")',
                   string='a,b"c')
    assert [t["value"] for t in toks] == ["a", "b", "c"]


def test_delete_filter_streams_tombstones(spark, tmp_path):
    """delete --filter must never collect the doomed ids to the driver:
    the index receives the id DataFrame and writes tombstones from the
    executors; queries then exclude the deleted docs."""
    from groonga_spark.build import build_index
    from groonga_spark.search import FulltextIndex
    from pyspark.sql import DataFrame

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "del_idx")
    build_index(spark, docs, path, mode="delimit", segment_size=200)
    idx = FulltextIndex(spark, path)

    ctx = CommandContext(spark)
    ctx.register("Docs", docs, index=idx)

    seen = {}
    orig = FulltextIndex.delete_docs

    def spy(self, doc_ids):
        seen["type"] = type(doc_ids)
        return orig(self, doc_ids)

    FulltextIndex.delete_docs = spy
    try:
        before = {r["doc_id"] for r in idx.match_docs("spark").collect()}
        doomed = {r["doc_id"] for r in
                  docs.filter('lang = "en"').select("doc_id").collect()}
        r = execute(ctx, "delete", table="Docs", filter='lang == "en"')
    finally:
        FulltextIndex.delete_docs = orig
    assert issubclass(seen["type"], DataFrame)   # streamed, not a list
    assert r["n_deleted"] == len(doomed) > 0
    assert ctx.tables["Docs"].count() == docs.count() - len(doomed)
    after = {r["doc_id"] for r in idx.match_docs("spark").collect()}
    assert after == before - doomed


def test_select_dot_path_via_registered_references(spark):
    """The facade resolves dot-path accessors SCHEMA-driven: reference
    columns are declared at register() time (the Groonga idiom where a
    column's type is another table), so `--filter 'dept.d_name == ...'`
    works without the caller building joins."""
    from groonga_spark.commands import CommandContext, execute

    users = spark.createDataFrame(
        [(0, "u0", 10), (1, "u1", 20), (2, "u2", 10)],
        "doc_id long, name string, dept long",
    )
    depts = spark.createDataFrame(
        [(10, "eng", 100), (20, "ops", 200)],
        "d_id long, d_name string, building long",
    )
    buildings = spark.createDataFrame(
        [(100, "HQ"), (200, "Annex")], "b_id long, b_name string"
    )
    ctx = CommandContext(spark)
    ctx.register("Users", users,
                 references={"dept": ("Depts", "d_id")})
    ctx.register("Depts", depts,
                 references={"building": ("Buildings", "b_id")})
    ctx.register("Buildings", buildings)

    body = execute(
        ctx, "select", table="Users",
        filter='dept.d_name == "eng"',
        sort_keys="doc_id",
        output_columns="doc_id,name,dept.building.b_name",
        limit=-1,
    )
    header, cols, *rows = body[0]
    assert [c[0] for c in cols] == ["doc_id", "name", "dept.building.b_name"]
    assert [tuple(r) for r in rows] == [(0, "u0", "HQ"), (2, "u2", "HQ")]


def test_dangling_reference_does_not_break_select(spark):
    """A reference to a not-yet-registered table must not crash selects
    on UNRELATED tables — it only matters if a query traverses it."""
    from groonga_spark.commands import CommandContext, execute

    orders = spark.createDataFrame([(0, 7)], "doc_id long, cust long")
    docs = spark.createDataFrame([(0, "hello")], "doc_id long, text string")
    ctx = CommandContext(spark)
    ctx.register("Orders", orders,
                 references={"cust": ("Customers", "c_id")})  # dangling
    ctx.register("Docs", docs)

    body = execute(ctx, "select", table="Docs",
                   output_columns="doc_id,text", limit=-1)
    assert [tuple(r) for r in body[0][2:]] == [(0, "hello")]
    # column_list still reports the declared range on the owning table
    cl = execute(ctx, "column_list", table="Orders")
    assert {c["name"]: c.get("range") for c in cl}["cust"] == "Customers"


def test_foreign_reference_does_not_hijack_same_named_column(spark):
    """Another table's reference column named like THIS table's plain
    struct column must not turn struct access into a join: 'meta.lang'
    on Docs stays Spark struct access even though Events declares a
    reference column 'meta'."""
    from groonga_spark.commands import CommandContext, execute

    docs = spark.createDataFrame(
        [(0, ("en", 3)), (1, ("ja", 5))],
        "doc_id long, meta struct<lang:string, stars:long>",
    )
    dims = spark.createDataFrame([(3, "x")], "m_id long, m_name string")
    events = spark.createDataFrame([(0, 3)], "doc_id long, meta long")
    ctx = CommandContext(spark)
    ctx.register("Docs", docs)
    ctx.register("Dims", dims)
    ctx.register("Events", events, references={"meta": ("Dims", "m_id")})

    body = execute(ctx, "select", table="Docs",
                   filter='meta.lang == "en"',
                   output_columns="doc_id,meta.stars", limit=-1)
    header, cols, *rows = body[0]
    assert [tuple(r) for r in rows] == [(0, 3)]
    # the Events select still resolves its own declared reference
    body2 = execute(ctx, "select", table="Events",
                    output_columns="doc_id,meta.m_name", limit=-1)
    assert [tuple(r) for r in body2[0][2:]] == [(0, "x")]


def test_select_body_truncation_is_surfaced(ctx, monkeypatch):
    """A capped limit=-1 body must carry an explicit truncated marker in
    the header (never silently return fewer rows than n_hits); an
    un-truncated select must NOT grow the header."""
    import groonga_spark.commands as cmds

    monkeypatch.setattr(cmds, "SELECT_BODY_MAX_ROWS", 3)
    body = execute(ctx, "select", table="Docs", filter='lang == "en"',
                   sort_keys="doc_id", output_columns="doc_id", limit=-1)
    header = body[0][0]
    assert header[0] > 3
    assert header[1] == {"truncated": True, "cap": 3}

    small = execute(ctx, "select", table="Docs", filter='lang == "en"',
                    sort_keys="doc_id", output_columns="doc_id", limit=2)
    assert len(small[0][0]) == 1  # plain [n_hits] header


def test_ddl_table_column_create_index_truncate(spark, tmp_path):
    """table_create / column_create / truncate with the reference's
    parameter conventions [G: lib/proc.c · proc_table_create /
    proc_column_create / proc_truncate]: schema objects appear in
    table_list/column_list/schema, COLUMN_INDEX builds a queryable
    fulltext index from the lexicon table's declared tokenizer, and
    truncate empties rows while keeping the schema."""
    ctx = CommandContext(spark, index_root=str(tmp_path / "cmd_idx"))

    assert execute(ctx, "table_create", name="Tags",
                   flags="TABLE_PAT_KEY", key_type="ShortText") is True
    execute(ctx, "table_create", name="Docs", flags="TABLE_NO_KEY")
    execute(ctx, "column_create", table="Docs", name="text", type="Text")
    execute(ctx, "column_create", table="Docs", name="tag", type="Tags")
    execute(ctx, "column_create", table="Docs", name="scores",
            flags="COLUMN_VECTOR", type="Float")

    execute(ctx, "load", table="Docs", values=[
        {"_id": 1, "text": "spark fast engine"},
        {"_id": 2, "text": "slow table scan"},
        {"_id": 3, "text": "spark table merge"},
    ])
    assert ctx.tables["Docs"].count() == 3

    execute(ctx, "table_create", name="Terms", flags="TABLE_PAT_KEY",
            key_type="ShortText", default_tokenizer="TokenDelimit")
    execute(ctx, "column_create", table="Terms", name="docs_text",
            flags="COLUMN_INDEX|WITH_POSITION", type="Docs",
            source="text")

    body = execute(ctx, "select", table="Docs", query="spark",
                   sort_keys="_id", output_columns="_id")
    got = sorted(r[0] for r in body[0][2:])
    assert got == [1, 3]

    tl = {r["name"]: r for r in execute(ctx, "table_list")}
    assert set(tl) == {"Tags", "Docs", "Terms"}
    assert tl["Terms"]["default_tokenizer"] == "TokenDelimit"
    assert tl["Docs"]["has_index"] and tl["Docs"]["key"] == "_id"
    assert "TABLE_PAT_KEY" in tl["Tags"]["flags"]

    cl_terms = {c["name"]: c for c in
                execute(ctx, "column_list", table="Terms")}
    assert cl_terms["docs_text"]["range"] == "Docs"
    assert cl_terms["docs_text"]["source"] == "text"
    assert "COLUMN_INDEX" in cl_terms["docs_text"]["flags"]

    cl_docs = {c["name"]: c for c in
               execute(ctx, "column_list", table="Docs")}
    assert cl_docs["tag"]["range"] == "Tags"
    assert cl_docs["scores"]["type"] == "array<double>"
    assert cl_docs["_id"]["type"] == "bigint"
    assert "Docs" in execute(ctx, "schema")["tables"]

    execute(ctx, "truncate", target_name="Docs")
    assert ctx.tables["Docs"].count() == 0
    assert ctx.tables["Docs"].columns == ["_id", "text", "tag", "scores"]
    assert "Docs" not in ctx.indexes
    # the COLUMN_INDEX declaration goes with its index, as on column_remove
    assert execute(ctx, "object_exist", name="Terms.docs_text") is False


def test_ddl_multifield_index_and_errors(spark, tmp_path):
    """Multi-column COLUMN_INDEX source builds a per-field BM25F index
    (WITH_SECTION analogue); bad DDL raises clear errors."""
    import pytest as _pytest

    ctx = CommandContext(spark, index_root=str(tmp_path / "cmd_idx2"))
    execute(ctx, "table_create", name="Pages", flags="TABLE_NO_KEY")
    execute(ctx, "column_create", table="Pages", name="title", type="Text")
    execute(ctx, "column_create", table="Pages", name="body", type="Text")
    execute(ctx, "load", table="Pages", values=[
        {"_id": 1, "title": "spark guide", "body": "fast merge engine"},
        {"_id": 2, "title": "scan notes", "body": "slow spark table"},
    ])
    execute(ctx, "table_create", name="Lex", key_type="ShortText",
            default_tokenizer="TokenDelimit")
    execute(ctx, "column_create", table="Lex", name="pages_idx",
            flags="COLUMN_INDEX|WITH_POSITION|WITH_SECTION",
            type="Pages", source="title,body")
    body = execute(ctx, "select", table="Pages", query="spark",
                   match_columns="title*2||body", sort_keys="_id",
                   output_columns="_id")
    assert sorted(r[0] for r in body[0][2:]) == [1, 2]

    with _pytest.raises(ValueError, match="already exists"):
        execute(ctx, "table_create", name="Pages")
    with _pytest.raises(ValueError, match="integer id"):
        # string-keyed table can't be an index source
        execute(ctx, "table_create", name="SDocs", key_type="ShortText")
        execute(ctx, "column_create", table="Lex", name="bad",
                flags="COLUMN_INDEX", type="SDocs", source="x")
    with _pytest.raises(ValueError, match="unknown type"):
        execute(ctx, "column_create", table="Pages", name="oops",
                type="NotAType")
    with _pytest.raises(ValueError, match="unknown table"):
        execute(ctx, "truncate", target_name="Nope")


def test_column_create_on_registered_table_and_failed_ref(spark):
    """column_create against a register()-ed (non-DDL) table must not
    break table_list, and a FAILED column_create must not leave a
    phantom reference that hijacks the existing same-named column."""
    import pytest as _pytest

    ctx = CommandContext(spark)
    docs = spark.createDataFrame([(1, "x", "m1")],
                                 "doc_id long, text string, meta string")
    ctx.register("Docs", docs)
    execute(ctx, "table_create", name="Meta", key_type="ShortText")
    execute(ctx, "column_create", table="Docs", name="extra", type="Text")
    tl = {r["name"]: r for r in execute(ctx, "table_list")}  # no KeyError
    assert "Docs" in tl and "flags" not in tl["Docs"]

    with _pytest.raises(ValueError, match="already exists"):
        execute(ctx, "column_create", table="Docs", name="meta",
                type="Meta")
    # the failed call must not have registered Docs.meta as a reference
    assert "meta" not in ctx.references.get("Docs", {})
    assert "meta" not in ctx.resolve_references("Docs")


def test_ddl_remove_and_object_exist(spark, tmp_path):
    """table_remove / column_remove / object_exist [G: lib/proc.c]:
    removal drops dependent objects (index, reference declarations);
    object_exist resolves tables, columns, and declared index cols."""
    import pytest as _pytest

    ctx = CommandContext(spark, index_root=str(tmp_path / "rm_idx"))
    execute(ctx, "table_create", name="Tags", key_type="ShortText")
    execute(ctx, "table_create", name="D", flags="TABLE_NO_KEY")
    execute(ctx, "column_create", table="D", name="text", type="Text")
    execute(ctx, "column_create", table="D", name="tag", type="Tags")
    execute(ctx, "load", table="D",
            values=[{"_id": 1, "text": "spark fast"}])
    execute(ctx, "table_create", name="Lex", key_type="ShortText",
            default_tokenizer="TokenDelimit")
    execute(ctx, "column_create", table="Lex", name="d_idx",
            flags="COLUMN_INDEX", type="D", source="text")

    assert execute(ctx, "object_exist", name="D") is True
    assert execute(ctx, "object_exist", name="D.tag") is True
    assert execute(ctx, "object_exist", name="Lex.d_idx") is True
    assert execute(ctx, "object_exist", name="Nope") is False
    assert execute(ctx, "object_exist", name="D.nope") is False

    # removing the index COLUMN drops the index, keeps the table
    execute(ctx, "column_remove", table="Lex", name="d_idx")
    assert "D" not in ctx.indexes
    assert execute(ctx, "object_exist", name="Lex.d_idx") is False

    # removing the Tags table clears D's reference declaration to it
    execute(ctx, "table_remove", name="Tags")
    assert "tag" not in ctx.resolve_references("D")
    with _pytest.raises(ValueError, match="key column"):
        execute(ctx, "column_remove", table="D", name="_id")
    execute(ctx, "column_remove", table="D", name="tag")
    assert ctx.tables["D"].columns == ["_id", "text"]
    execute(ctx, "table_remove", name="D")
    assert execute(ctx, "object_exist", name="D") is False


def test_ddl_remove_cascades_drop_dependent_indexes(spark, tmp_path):
    """grn_obj_remove-style cascade: removing the LEXICON table, or the
    SOURCE column an index was built from, must drop the built index —
    never leave it serving matches against removed objects — and clear
    the now-dangling DDL entry so a rebuilt table can't be clobbered."""
    def fresh(prefix):
        ctx = CommandContext(spark, index_root=str(tmp_path / prefix))
        execute(ctx, "table_create", name="D", flags="TABLE_NO_KEY")
        execute(ctx, "column_create", table="D", name="text", type="Text")
        execute(ctx, "load", table="D",
                values=[{"_id": 1, "text": "spark fast"}])
        execute(ctx, "table_create", name="Lex", key_type="ShortText",
                default_tokenizer="TokenDelimit")
        execute(ctx, "column_create", table="Lex", name="d_idx",
                flags="COLUMN_INDEX", type="D", source="text")
        assert "D" in ctx.indexes
        return ctx

    # removing the LEXICON table drops the index it hosted
    ctx = fresh("a")
    execute(ctx, "table_remove", name="Lex")
    assert "D" not in ctx.indexes

    # removing the SOURCE column drops the index built from it
    ctx = fresh("b")
    execute(ctx, "column_remove", table="D", name="text")
    assert "D" not in ctx.indexes
    assert execute(ctx, "object_exist", name="Lex.d_idx") is False

    # removing the SOURCE table clears the lexicon's dangling DDL entry
    ctx = fresh("c")
    execute(ctx, "table_remove", name="D")
    assert execute(ctx, "object_exist", name="Lex.d_idx") is False


def test_ddl_remove_older_of_two_indexes_keeps_newer(spark, tmp_path):
    """Two COLUMN_INDEX declarations over one source share its index
    slot, which serves the newer one: removing the OLDER declaration
    (its column or its lexicon table) must leave the newer index
    answering select; removing the newer one then drops the slot."""
    def fresh(prefix):
        ctx = CommandContext(spark, index_root=str(tmp_path / prefix))
        execute(ctx, "table_create", name="D", flags="TABLE_NO_KEY")
        execute(ctx, "column_create", table="D", name="text", type="Text")
        execute(ctx, "load", table="D", values=[
            {"_id": 1, "text": "spark fast"}, {"_id": 2, "text": "slow"}])
        for lex in ("Old", "New"):
            execute(ctx, "table_create", name=lex, key_type="ShortText",
                    default_tokenizer="TokenDelimit")
            execute(ctx, "column_create", table=lex, name="d_idx",
                    flags="COLUMN_INDEX", type="D", source="text")
        return ctx

    def hits(ctx):
        body = execute(ctx, "select", table="D", query="spark",
                       output_columns="_id")
        return sorted(r[0] for r in body[0][2:])

    ctx = fresh("col")
    execute(ctx, "column_remove", table="Old", name="d_idx")
    assert ctx.indexes["D"].path.endswith("New__d_idx")
    assert hits(ctx) == [1]
    execute(ctx, "column_remove", table="New", name="d_idx")
    assert "D" not in ctx.indexes

    ctx = fresh("tbl")
    execute(ctx, "table_remove", name="Old")
    assert hits(ctx) == [1]


def test_second_index_over_other_columns_refuses(spark, tmp_path):
    """A source table has ONE index slot: a second COLUMN_INDEX over other
    columns (or with another tokenizer) must refuse instead of silently
    replacing the index select answers from; the first keeps serving."""
    import pytest as _pytest

    ctx = CommandContext(spark, index_root=str(tmp_path / "two_cols"))
    execute(ctx, "table_create", name="D", flags="TABLE_NO_KEY")
    for col in ("title", "body"):
        execute(ctx, "column_create", table="D", name=col, type="Text")
    execute(ctx, "load", table="D", values=[
        {"_id": 1, "title": "spark", "body": "slow"},
        {"_id": 2, "title": "slow", "body": "spark"}])
    for lex, tok in (("T", "TokenDelimit"), ("B", "TokenDelimit"),
                     ("G", "TokenBigram")):
        execute(ctx, "table_create", name=lex, key_type="ShortText",
                default_tokenizer=tok)
    execute(ctx, "column_create", table="T", name="idx",
            flags="COLUMN_INDEX", type="D", source="title")
    live = ctx.indexes["D"]
    with _pytest.raises(ValueError, match="already indexed by T.idx"):
        execute(ctx, "column_create", table="B", name="idx",
                flags="COLUMN_INDEX", type="D", source="body")
    with _pytest.raises(ValueError, match="already indexed by T.idx"):
        execute(ctx, "column_create", table="G", name="idx",
                flags="COLUMN_INDEX", type="D", source="title")
    assert ctx.indexes["D"] is live
    assert "idx" not in ctx.ddl.get("B", {}).get("columns", {})
    body = execute(ctx, "select", table="D", query="spark",
                   output_columns="_id")
    assert sorted(r[0] for r in body[0][2:]) == [1]


def test_logical_commands_over_time_shards(spark):
    """logical_select / logical_count / logical_range_filter
    [G: plugins/sharding/*.rb]: the shard-key range predicate IS the
    shard enumeration (Catalyst partition pruning at prod scale);
    borders include/exclude; range_filter streams ordered rows with NO
    total count."""
    import pytest as _pytest

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ctx = CommandContext(spark)
    ctx.register("Events", events, id_col="event_id")

    lo, hi = "2024-01-10 00:00:00", "2024-01-20 00:00:00"
    want = events.filter(
        (F.col("ts") >= lo) & (F.col("ts") <= hi)
    )

    n = execute(ctx, "logical_count", logical_table="Events",
                shard_key="ts", min=lo, max=hi)
    assert n == want.count() > 0

    # exclusive max border drops the boundary rows
    n_ex = execute(ctx, "logical_count", logical_table="Events",
                   shard_key="ts", min=lo, max=hi, max_border="exclude")
    assert n_ex == events.filter(
        (F.col("ts") >= lo) & (F.col("ts") < hi)).count()

    # logical_count with a script filter
    n_f = execute(ctx, "logical_count", logical_table="Events",
                  shard_key="ts", min=lo, max=hi,
                  filter='event_type == "click"')
    assert n_f == want.filter("event_type = 'click'").count()

    # logical_select: full select surface over the range slice
    body = execute(ctx, "logical_select", logical_table="Events",
                   shard_key="ts", min=lo, max=hi,
                   filter='event_type == "click"', sort_keys="event_id",
                   output_columns="event_id", limit=5)
    assert body[0][0][0] == n_f
    first5 = [r[0] for r in body[0][2:]]
    assert first5 == [r["event_id"] for r in want
                      .filter("event_type = 'click'")
                      .orderBy("event_id").limit(5).collect()]

    # logical_range_filter: ts-ordered page, no count header
    page = execute(ctx, "logical_range_filter", logical_table="Events",
                   shard_key="ts", min=lo, max=hi, order="descending",
                   offset=2, limit=4, output_columns="event_id,ts")
    assert page[0][0] == ["event_id", "bigint"]
    assert page[0][1][0] == "ts" and page[0][1][1].startswith("timestamp")
    got = [r[0] for r in page[1:]]
    assert got == [r["event_id"] for r in want
                   .orderBy(F.col("ts").desc()).limit(6).collect()][2:]
    assert len(got) == 4

    with _pytest.raises(ValueError, match="border"):
        execute(ctx, "logical_count", logical_table="Events",
                shard_key="ts", min=lo, min_border="inclusive")
    with _pytest.raises(ValueError, match="shard key"):
        execute(ctx, "logical_count", logical_table="Events",
                shard_key="nope")


def test_logical_range_filter_hardening(spark, tmp_path):
    """Round-5 review fixes: deterministic tie-break pagination, loud
    bad-bound/offset errors, script query() filters work in
    logical_count, and limit=-1 raises past the body cap instead of
    silently truncating an un-headered page."""
    import pytest as _pytest

    import groonga_spark.commands as cmds

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # collapse ts to DAY so shard-key ties are guaranteed
    days = events.select("event_id", F.date_trunc("day", "ts").alias("ts"),
                         "event_type")
    ctx = CommandContext(spark)
    ctx.register("Ev", days, id_col="event_id")

    # pages are disjoint and contiguous despite massive ts ties
    pages = [
        [r[0] for r in cmds.execute(
            ctx, "logical_range_filter", logical_table="Ev",
            shard_key="ts", offset=o, limit=50,
            output_columns="event_id,ts")[1:]]
        for o in (0, 50, 100)
    ]
    flat = [x for p in pages for x in p]
    assert len(flat) == len(set(flat)) == 150
    want = [r["event_id"] for r in
            days.orderBy("ts", "event_id").limit(150).collect()]
    assert flat == want

    with _pytest.raises(ValueError, match="bad shard-key bound"):
        cmds.execute(ctx, "logical_count", logical_table="Ev",
                     shard_key="ts", min="2024-13-45 00:00:00")
    with _pytest.raises(ValueError, match="offset"):
        cmds.execute(ctx, "logical_range_filter", logical_table="Ev",
                     shard_key="ts", offset=-1)
    with _pytest.raises(ValueError, match="limit"):
        cmds.execute(ctx, "logical_range_filter", logical_table="Ev",
                     shard_key="ts", limit=-5)

    # limit=-1 past the cap raises — never a silent truncated page
    old = cmds.SELECT_BODY_MAX_ROWS
    cmds.SELECT_BODY_MAX_ROWS = 100
    try:
        with _pytest.raises(ValueError, match="paginate"):
            cmds.execute(ctx, "logical_range_filter", logical_table="Ev",
                         shard_key="ts", limit=-1)
    finally:
        cmds.SELECT_BODY_MAX_ROWS = old

    # logical_count filters get full select semantics (script query())
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from groonga_spark.build import build_index
    from groonga_spark.search import FulltextIndex

    p = str(tmp_path / "logidx")
    build_index(spark, docs, p, mode="delimit", segment_size=200)
    ctx.register("Docs", docs, index=FulltextIndex(spark, p))
    n = cmds.execute(ctx, "logical_count", logical_table="Docs",
                     shard_key="doc_id", min=0, max=250,
                     filter='query("text", "spark")')
    m = {r["doc_id"] for r in
         ctx.indexes["Docs"].match_docs("spark").collect()}
    assert n == len([d for d in m if 0 <= d <= 250]) > 0
