"""Unit tests for the WOQL compiler core words."""

from pyspark.sql import functions as F

from terminus_server_spark.woql import (
    And,
    Concat,
    Distinct,
    Eq,
    Eval,
    Greater,
    GroupBy,
    Less,
    Limit,
    Member,
    Not,
    Opt,
    OrderBy,
    Or_,
    Select,
    Triple,
    WOQLContext,
    v,
)


def ctx(store):
    return WOQLContext(store)


def test_triple_scan(store):
    q = Triple(v("s"), "rdf:type", "Region")
    rows = ctx(store).run(q).collect()
    assert len(rows) == 5
    assert all(r.s.startswith("Region/") for r in rows)


def test_and_join(store, tables):
    q = And(
        Triple(v("n"), "rdf:type", "Nation"),
        Triple(v("n"), "n_region", v("r")),
        Triple(v("r"), "n_name" if False else "r_name", v("rname")),
        Eq(v("rname"), "ASIA"),
        Triple(v("n"), "n_name", v("nname")),
    )
    out = ctx(store).run(Select([v("nname")], q))
    got = {r.nname for r in out.collect()}
    expected = {
        r.n_name
        for r in tables["nation"]
        .join(tables["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .collect()
    }
    assert got == expected and len(got) > 0


def test_or_union(store):
    q = Or_(
        Triple(v("x"), "rdf:type", "Region"),
        Triple(v("x"), "rdf:type", "Nation"),
    )
    assert ctx(store).run(q).count() == 30


def test_not_antijoin(store):
    # nations that are NOT in region 0
    q = And(
        Triple(v("n"), "rdf:type", "Nation"),
        Not(And(Triple(v("n"), "n_region", "Region/0"))),
    )
    n_total = ctx(store).run(Triple(v("n"), "n_region", "Region/0")).count()
    assert ctx(store).run(q).count() == 25 - n_total


def test_opt_left_join(store):
    q = And(
        Triple(v("r"), "rdf:type", "Region"),
        Opt(And(Triple(v("n"), "n_region", v("r")), Triple(v("n"), "n_name", v("nname")))),
    )
    df = ctx(store).run(q)
    assert df.count() >= 25  # every region kept even if empty


def test_eq_binding_and_filters(store):
    q = And(
        Triple(v("c"), "c_acctbal", v("bal")),
        Greater(v("bal"), 9000.0),
        Less(v("bal"), 9990.0),
    )
    df = ctx(store).run(q)
    vals = [float(r.bal) for r in df.collect()]
    assert all(9000.0 < x < 9990.0 for x in vals)


def test_eval_arithmetic(store):
    q = And(
        Triple(v("c"), "c_acctbal", v("bal")),
        Eval(("plus", ("times", v("bal"), 2), 1), v("y")),
        Limit(5, Triple(v("c"), "rdf:type", "Customer")),
    )
    # Limit wraps a term; easier: separate query
    q = And(
        Triple(v("c"), "c_acctbal", v("bal")),
        Eval(("plus", ("times", v("bal"), 2), 1), v("y")),
    )
    row = ctx(store).run(q).limit(1).collect()[0]
    assert abs(row.y - (float(row.bal) * 2 + 1)) < 1e-9


def test_groupby_agg(store, tables):
    q = GroupBy(
        [v("r")],
        [("count", v("n"), v("n_count"))],
        And(Triple(v("n"), "rdf:type", "Nation"), Triple(v("n"), "n_region", v("r"))),
    )
    got = {r.r: r.n_count for r in ctx(store).run(q).collect()}
    expected = {
        f"Region/{r.n_regionkey}": r["count"]
        for r in tables["nation"].groupBy("n_regionkey").count().collect()
    }
    assert got == expected


def test_member_orderby_distinct(store):
    q = OrderBy(
        [(v("x"), "desc")],
        Distinct([v("x")], Member(v("x"), [3, 1, 2, 3, 2])),
    )
    assert [r.x for r in ctx(store).run(q).collect()] == [3, 2, 1]


def test_concat(store):
    q = And(
        Triple(v("r"), "r_name", v("rn")),
        Concat(["region:", v("rn")], v("label")),
    )
    rows = ctx(store).run(q).collect()
    assert all(r.label == "region:" + r.rn for r in rows)


def test_once_with_order_is_min(store):
    from terminus_server_spark.woql import Once, Triple, OrderBy, Select, v

    q = Select([v("nm")], Once(OrderBy([(v("nm"), "asc")], Triple(v("r"), "r_name", v("nm")))))
    rows = ctx(store).run(q).collect()
    assert len(rows) == 1 and rows[0].nm == "AFRICA"


def test_triple_count_word(store):
    from terminus_server_spark.woql import Select, TripleCount, v

    n = ctx(store).run(Select([v("n")], TripleCount("instance", v("n")))).collect()[0].n
    assert n == store.df.where(F.col("graph") == "instance").count()


def test_dot_json_field(spark, store):
    from terminus_server_spark.woql import And, Dot, Eq, Select, Triple, v
    from terminus_server_spark.woql.compiler import WOQLContext
    from terminus_server_spark.model.triples import TripleStore

    docs = spark.createDataFrame(
        [(1, '{"a": "x", "b": 2}'), (2, '{"a": "y"}')], "id long, js string"
    )
    from terminus_server_spark.model.triples import triples_from_table

    st = TripleStore(triples_from_table(docs, "D", "id", value_cols=["js"]))
    q = Select([v("d"), v("a")], And(Triple(v("d"), "js", v("j")), Dot(v("j"), "a", v("a"))))
    got = {(r.d, r.a) for r in WOQLContext(st).run(q).collect()}
    assert got == {("D/1", "x"), ("D/2", "y")}


def test_sub_closure_reflexive(spark, tables):
    from terminus_server_spark.model.triples import TripleStore, tpch_store
    from terminus_server_spark.woql import Select, v
    from terminus_server_spark.woql.ast import Sub
    from terminus_server_spark.woql.compiler import WOQLContext

    schema_df = spark.createDataFrame(
        [
            ("schema", "B", "subClassOf", "A", "iri", None),
            ("schema", "C", "subClassOf", "B", "iri", None),
        ],
        schema="graph string, subject string, predicate string, obj string, obj_type string, obj_num double",
    )
    ts = tpch_store(tables)
    st = TripleStore(ts.df, schema_df=schema_df)
    got = {
        (r.c, r.p)
        for r in WOQLContext(st).run(Select([v("c"), v("p")], Sub(v("c"), v("p")))).collect()
    }
    assert got == {
        ("A", "A"), ("B", "B"), ("C", "C"),
        ("B", "A"), ("C", "B"), ("C", "A"),
    }


def test_put_writes_csv_sink(spark, store, tmp_path):
    from terminus_server_spark.woql import Select, Triple, v
    from terminus_server_spark.woql.ast import Put

    out = str(tmp_path / "sink")
    q = Put([("iri", v("r")), ("nm", v("n"))], out, Triple(v("r"), "r_name", v("n")))
    ctx(store).run(q)
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 5 and set(back.columns) == {"iri", "nm"}


def test_add_delete_triple_update(store):
    from terminus_server_spark.versioning.layers import apply_delta
    from terminus_server_spark.woql import ast as A

    q = And(
        Triple(v("n"), "n_region", "Region/0"),
        Triple(v("n"), "n_name", v("nm")),
        A.AddTriple(v("n"), "flagged", "true"),
        A.DeleteTriple(v("n"), "n_name", v("nm")),
    )
    c = ctx(store)
    delta = c.run_update(q, commit_seq=1, commit_id="u1")
    n_r0 = store.df.filter(
        (F.col("predicate") == "n_region") & (F.col("obj") == "Region/0")
    ).count()
    assert delta.filter(F.col("op") == "add").count() == n_r0
    assert delta.filter(F.col("op") == "del").count() == n_r0
    new_state = apply_delta(store.df, delta)
    assert new_state.filter(F.col("predicate") == "flagged").count() == n_r0
    before = store.df.filter(F.col("predicate") == "n_name").count()
    assert new_state.filter(F.col("predicate") == "n_name").count() == before - n_r0


def test_run_update_requires_staged_word(store):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ctx(store).run_update(Triple(v("s"), "rdf:type", "Region"), 1, "u1")


def test_using_scopes_default_graph(spark, tables):
    from terminus_server_spark.model.triples import TripleStore, tpch_store
    from terminus_server_spark.woql import ast as A

    ts = tpch_store(tables)
    schema_df = spark.createDataFrame(
        [("schema", "Customer", "subClassOf", "Agent", "iri", None)],
        schema="graph string, subject string, predicate string, obj string, obj_type string, obj_num double",
    )
    st = TripleStore(ts.df.unionByName(schema_df, allowMissingColumns=True), schema_df=schema_df)
    rows = (
        WOQLContext(st)
        .run(A.Using("schema", Triple(v("c"), "subClassOf", v("p"))))
        .collect()
    )
    assert {(r.c, r.p) for r in rows} == {("Customer", "Agent")}
    # outside Using, the same unscoped pattern sees the instance graph only
    assert WOQLContext(st).run(Triple(v("c"), "subClassOf", v("p"))).count() == 0


def test_into_scopes_write_graph(store):
    from terminus_server_spark.woql import ast as A

    q = A.Into(
        "audit",
        And(
            Triple(v("n"), "n_region", "Region/0"),
            A.AddTriple(v("n"), "flagged", "true"),
            A.DeleteTriple(v("n"), "seen", "true", graph="scratch"),  # explicit wins
        ),
    )
    delta = ctx(store).run_update(q, 1, "a1")
    by_graph = {r.graph: r.op for r in delta.select("graph", "op").distinct().collect()}
    assert by_graph == {"audit": "add", "scratch": "del"}


def test_json_woql_roundtrip_matches_ast(store):
    from terminus_server_spark.woql.json import from_json

    json_q = from_json(
        {
            "@type": "Select",
            "variables": ["r", "nm"],
            "query": {
                "@type": "And",
                "and": [
                    {"@type": "Triple", "subject": {"variable": "r"},
                     "predicate": "r_name", "object": {"variable": "nm"}},
                    {"@type": "Triple", "subject": {"variable": "r"},
                     "predicate": "rdf:type", "object": "Region"},
                ],
            },
        }
    )
    got = {(r.r, r.nm) for r in ctx(store).run(json_q).collect()}
    want = {
        (r.r, r.nm)
        for r in ctx(store)
        .run(Select([v("r"), v("nm")], And(
            Triple(v("r"), "r_name", v("nm")),
            Triple(v("r"), "rdf:type", "Region"))))
        .collect()
    }
    assert got == want and len(got) == 5


def test_json_woql_eval_and_path(store):
    from terminus_server_spark.woql.json import from_json

    q = from_json(
        {
            "@type": "Eval",
            "expression": {"@type": "Plus", "left": 2,
                           "right": {"@type": "Times", "left": 3, "right": 4}},
            "result": {"variable": "x"},
        }
    )
    assert ctx(store).run(q).collect()[0].x == 14.0


def test_json_woql_path_and_update(spark, tables, store):
    from pyspark.sql import functions as F

    from terminus_server_spark.model.triples import TripleStore
    from terminus_server_spark.woql import WOQLContext
    from terminus_server_spark.woql.json import from_json

    # path over the parent tree, via the wire format
    cust = tables["customer"]
    tri = cust.where((F.col("c_custkey") >= 1) & (F.col("c_custkey") < 16)).select(
        F.lit("instance").alias("graph"),
        F.concat(F.lit("C/"), F.col("c_custkey").cast("string")).alias("subject"),
        F.lit("parent").alias("predicate"),
        F.concat(F.lit("C/"), (F.col("c_custkey") / 2).cast("long").cast("string")).alias("obj"),
        F.lit("iri").alias("obj_type"),
        F.lit(None).cast("double").alias("obj_num"),
    )
    pctx = WOQLContext(TripleStore(tri))
    pq = from_json(
        {"@type": "Path", "subject": "C/15",
         "pattern": {"@type": "PathPlus", "plus": {"@type": "PathPredicate", "predicate": "parent"}},
         "object": {"variable": "anc"}, "path": {"variable": "hops"}}
    )
    got = {(r.anc, r.hops) for r in pctx.run(pq).collect()}
    assert got == {("C/7", 1), ("C/3", 2), ("C/1", 3), ("C/0", 4)}

    # update via the wire format, scoped by Into
    uq = from_json(
        {"@type": "Into", "graph": "audit",
         "query": {"@type": "And", "and": [
             {"@type": "Triple", "subject": {"variable": "n"},
              "predicate": "n_region", "object": "Region/0"},
             {"@type": "AddTriple", "subject": {"variable": "n"},
              "predicate": "flagged", "object": "true"}]}}
    )
    delta = ctx(store).run_update(uq, 1, "j1")
    assert delta.select("graph").distinct().collect()[0].graph == "audit"
    assert delta.count() == 5


def test_get_remote_url_is_rejected(store):
    import pytest

    from terminus_server_spark.woql import ast as A

    with pytest.raises(NotImplementedError, match="stage the resource"):
        ctx(store).run(A.Get([("a", v("a"))], "https://example.com/data.csv"))


def test_and_reorders_selective_pattern_first(store):
    """Compile-time join ordering: a 3-pattern And written
    worst-order (unselective var-heavy pattern first) reorders so the
    constant-bearing pattern scans first and every later pattern
    connects to bound variables."""
    worst = (
        Triple(v("c"), "c_nation", v("n")),       # 1 const, disconnected from r
        Triple(v("n"), "n_region", v("r")),       # 1 const
        Triple(v("r"), "r_name", "EUROPE"),       # 2 consts — should go first
    )
    c = ctx(store)
    ordered = c._order_conjuncts(worst, None)
    assert ordered[0] is worst[2]
    # each subsequent pattern shares a variable with what's bound
    assert ordered[1] is worst[1] and ordered[2] is worst[0]
    # results identical to the author-order semantics
    got = {r.c for r in c.run(Select([v("c")], And(*worst))).collect()}
    want = {r.c for r in ctx(store).run(
        Select([v("c")], And(*reversed(worst)))).collect()}
    assert got == want and len(got) > 0


def test_and_reorder_avoids_cross_join(store):
    """Patterns whose author order would cross-join (disjoint vars
    mid-chain) compile without a CartesianProduct when a connected
    order exists."""
    from tests.test_plans import plan_str

    q = And(
        Triple(v("a"), "n_region", v("b")),   # nation → region
        Triple(v("c"), "c_nation", v("d")),   # customer → nation (disjoint so far)
        Triple(v("d"), "n_region", v("b")),   # connects both
    )
    df = ctx(store).run(Select([v("a"), v("c")], q))
    assert "CartesianProduct" not in plan_str(df)


def test_non_pattern_words_keep_position(store):
    """Filters/bindings never move: Eq stays after the patterns that
    bind its variable even when a later pattern is more selective."""
    terms = (
        Triple(v("n"), "n_name", v("nm")),
        Eq(v("nm"), "NATION_3"),
        Triple(v("n"), "n_region", v("r")),
    )
    ordered = ctx(store)._order_conjuncts(terms, None)
    assert ordered[1] is terms[1]
    rows = ctx(store).run(And(*terms)).collect()
    assert len(rows) == 1 and rows[0].nm == "NATION_3"


def test_call_hygiene_two_calls_share_only_params(store, tables):
    """Two calls of one named query in a conjunction exchange data
    only through their arguments: the shared nm param joins them,
    while each call's internal vars stay fresh (no capture)."""
    from terminus_server_spark.woql import Call

    c = ctx(store)
    c.define(
        "nat_of",
        [v("cust"), v("nm")],
        And(Triple(v("cust"), "c_nation", v("n")), Triple(v("n"), "n_name", v("nm"))),
    )
    q = Select(
        [v("c1"), v("c2"), v("nm")],
        And(Call("nat_of", [v("c1"), v("nm")]), Call("nat_of", [v("c2"), v("nm")])),
    )
    out = c.run(q)
    assert set(out.columns) == {"c1", "c2", "nm"}
    per_nation = {
        r.n_name: r.cnt
        for r in tables["customer"]
        .join(tables["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert out.count() == sum(n * n for n in per_nation.values())


def test_call_constant_arg_specializes_and_json_roundtrip(store):
    from terminus_server_spark.woql import Call
    from terminus_server_spark.woql.json import from_json, parse_named_query

    c = ctx(store)
    name, params, body = parse_named_query(
        {
            "@type": "NamedParametricQuery",
            "name": "in_region",
            "parameters": ["nat", "rg"],
            "query": {
                "@type": "And",
                "and": [
                    {"@type": "Triple", "subject": {"variable": "nat"},
                     "predicate": "n_region", "object": {"variable": "r"}},
                    {"@type": "Triple", "subject": {"variable": "r"},
                     "predicate": "r_name", "object": {"variable": "rg"}},
                ],
            },
        }
    )
    c.define(name, params, body)
    call = from_json(
        {"@type": "Call", "name": "in_region",
         "arguments": [{"variable": "nat"}, {"data": {"@type": "xsd:string", "@value": "ASIA"}}]}
    )
    assert isinstance(call, Call)
    rows = c.run(Select([v("nat")], call)).collect()
    assert len(rows) == 5 and all(r.nat.startswith("Nation/") for r in rows)


def test_call_unknown_or_arity_mismatch_raises(store):
    import pytest

    from terminus_server_spark.woql import Call

    c = ctx(store)
    with pytest.raises(ValueError, match="unknown named query"):
        c.run(Call("nope", []))
    c.define("one", [v("x")], Triple(v("x"), "rdf:type", "Region"))
    with pytest.raises(ValueError, match="expected 1 args"):
        c.run(Call("one", [v("a"), v("b")]))


def test_context_prefix_expansion(spark):
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql.json import from_json
    from terminus_server_spark.woql.prefixes import compact_iri, expand_iri

    ctx = {"ex": "Customer/", "sch": "http://s/"}
    assert expand_iri("ex:42", ctx) == "Customer/42"
    assert expand_iri("xsd:integer", ctx) == "xsd:integer"  # reserved
    assert expand_iri("unknown:x", ctx) == "unknown:x"
    assert compact_iri("Customer/42", ctx) == "ex:42"
    assert compact_iri("http://s/Name", ctx) == "sch:Name"
    assert compact_iri("elsewhere", ctx) == "elsewhere"

    q = {
        "@context": ctx,
        "@type": "Triple",
        "subject": {"node": "ex:7"},
        "predicate": "c_acctbal",
        "object": {"variable": "b"},
    }
    t = from_json(q)
    assert isinstance(t, A.Triple)
    assert t.s == "Customer/7"
    assert isinstance(t.o, A.Var)


def test_join_order_uses_predicate_stats(spark):
    from terminus_server_spark.model.triples import TripleStore
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql.compiler import WOQLContext, collect_predicate_stats

    tri = spark.createDataFrame(
        [("instance", f"N/{i}", "big", f"M/{i}", "iri", None) for i in range(40)]
        + [("instance", "N/1", "small", "X/1", "iri", None)],
        "graph string, subject string, predicate string, obj string, "
        "obj_type string, obj_num double",
    )
    store = TripleStore(tri)
    stats = collect_predicate_stats(store)
    assert stats == {"big": 40, "small": 1}
    # two patterns, same structure (1 const, 2 vars), sharing ?s:
    # with stats the small predicate must be scanned first
    p_big = A.Triple(A.v("s"), "big", A.v("o1"))
    p_small = A.Triple(A.v("s"), "small", A.v("o2"))
    ctx = WOQLContext(store, predicate_stats=stats)
    ordered = ctx._order_conjuncts((p_big, p_small), None)
    assert ordered[0] is p_small
    # without stats, author order is preserved among ties
    ctx0 = WOQLContext(store)
    assert ctx0._order_conjuncts((p_big, p_small), None)[0] is p_big
    # results identical either way
    q = A.Select([A.v("s"), A.v("o1"), A.v("o2")], A.And(p_big, p_small))
    a = {tuple(r) for r in ctx.run(q).collect()}
    b = {tuple(r) for r in ctx0.run(q).collect()}
    assert a == b == {("N/1", "M/1", "X/1")}


def test_read_document_word(spark):
    from pyspark.sql import functions as F

    from terminus_server_spark.model.triples import TripleStore
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql.compiler import WOQLContext

    triples = spark.createDataFrame(
        [
            ("instance", "D/1", "rdf:type", "Doc", "iri", None, None, None),
            ("instance", "D/1", "title", 'has "quotes"', "xsd:string", None, None, None),
            ("instance", "D/1", "n", "7", "xsd:integer", 7.0, None, None),
            ("instance", "D/1", "tag", "b", "xsd:string", None, None, None),
            ("instance", "D/1", "tag", "a", "xsd:string", None, None, None),
            ("instance", "D/2", "rdf:type", "Doc", "iri", None, None, None),
        ],
        "graph string, subject string, predicate string, obj string,"
        " obj_type string, obj_num double, obj_lang string, obj_ts timestamp_ntz",
    )
    ctx = WOQLContext(TripleStore(triples))
    # constant-iri form
    out = ctx.run(A.ReadDocument("D/1", A.v("doc"))).collect()
    assert out[0].doc == (
        '{"n":7,"rdf:type":"Doc","tag":["a","b"],"title":"has \\"quotes\\""}'
    )
    # variable form joins per solution
    q = A.And(
        A.Triple(A.v("s"), "rdf:type", "Doc"),
        A.ReadDocument(A.v("s"), A.v("doc")),
    )
    rows = {r.s: r.doc for r in ctx.run(q).collect()}
    assert set(rows) == {"D/1", "D/2"}
    assert rows["D/2"] == '{"rdf:type":"Doc"}'


def test_insert_delete_document_words(spark):
    from pyspark.sql import functions as F

    from terminus_server_spark.model.triples import TripleStore
    from terminus_server_spark.versioning.layers import apply_delta
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql.compiler import WOQLContext

    triples = spark.createDataFrame(
        [
            ("instance", "D/1", "rdf:type", "Doc", "iri", None, None, None),
            ("instance", "D/1", "title", "old", "xsd:string", None, None, None),
        ],
        "graph string, subject string, predicate string, obj string,"
        " obj_type string, obj_num double, obj_lang string, obj_ts timestamp_ntz",
    )
    store = TripleStore(triples)
    ctx = WOQLContext(store)
    q = A.And(
        A.InsertDocument(
            {"@id": "D/2", "@type": "Doc", "title": "new", "score": 3}
        ),
        A.DeleteDocument("D/1"),
    )
    delta = ctx.run_update(q, commit_seq=1, commit_id="c1")
    rows = {(r.op, r.subject, r.predicate): (r.obj, r.obj_type) for r in delta.collect()}
    assert rows[("add", "D/2", "rdf:type")] == ("Doc", "iri")  # override, no '/'
    assert rows[("add", "D/2", "score")] == ("3", "xsd:integer")
    assert rows[("del", "D/1", "title")] == ("old", "xsd:string")
    state = apply_delta(store.df, delta)
    subjects = {r.subject for r in state.select("subject").distinct().collect()}
    assert subjects == {"D/2"}
    assert state.count() == 3


def test_update_document_word_replaces_whole_doc(spark):
    from terminus_server_spark.model.triples import TripleStore
    from terminus_server_spark.versioning.layers import apply_delta
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql.compiler import WOQLContext

    triples = spark.createDataFrame(
        [
            ("instance", "D/1", "rdf:type", "Doc", "iri", None, None, None),
            ("instance", "D/1", "title", "old", "xsd:string", None, None, None),
            ("instance", "D/1", "stale", "x", "xsd:string", None, None, None),
        ],
        "graph string, subject string, predicate string, obj string,"
        " obj_type string, obj_num double, obj_lang string, obj_ts timestamp_ntz",
    )
    store = TripleStore(triples)
    ctx = WOQLContext(store)
    delta = ctx.run_update(
        A.UpdateDocument({"@id": "D/1", "@type": "Doc", "title": "new"}),
        commit_seq=1, commit_id="c1",
    )
    state = apply_delta(store.df, delta)
    got = {(r.predicate): r.obj for r in state.collect()}
    # stale field gone, title replaced, type kept (del + re-add)
    assert got == {"rdf:type": "Doc", "title": "new"}


def test_typecast_strict_raises_safe_nulls(spark):
    """Default Typecast keeps the reference's strict casting-error
    semantics under ANSI mode; safe=True binds NULL instead."""
    import pytest as _pytest

    from terminus_server_spark.model.triples import TripleStore
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql.compiler import WOQLContext

    trips = spark.createDataFrame(
        [("instance", "X/1", "p", "12.5", "xsd:string", None),
         ("instance", "X/2", "p", "oops", "xsd:string", None)],
        "graph string, subject string, predicate string, obj string, obj_type string, obj_num double",
    )
    ctx = WOQLContext(TripleStore(trips))
    base = A.And(
        A.Triple(A.v("s"), "p", A.v("raw")),
        A.Typecast(A.v("raw"), "xsd:double", A.v("v"), safe=True),
    )
    got = {r.s: r.v for r in ctx.run(A.Select([A.v("s"), A.v("v")], base)).collect()}
    assert got == {"X/1": 12.5, "X/2": None}

    strict = A.And(
        A.Triple(A.v("s"), "p", A.v("raw")),
        A.Typecast(A.v("raw"), "xsd:double", A.v("v")),
    )
    with _pytest.raises(Exception, match="CAST_INVALID_INPUT|cannot be cast"):
        ctx.run(A.Select([A.v("s"), A.v("v")], strict)).collect()


def test_parse_path_string_grammar():
    """Textual path-regex parser covers the reference grammar:
    sequence, alternation, inverse, postfix closures, bounded
    repetition, grouping, precedence (| binds looser than ,)."""
    import pytest as _pytest

    from terminus_server_spark.woql import path_ast as P
    from terminus_server_spark.woql.path_ast import parse_path_string as pp

    assert pp("parent") == P.Pred("parent")
    assert pp("<parent") == P.Inv("parent")
    assert pp("a,b") == P.Seq(P.Pred("a"), P.Pred("b"))
    assert pp("a|b,c") == P.OrP(P.Pred("a"), P.Seq(P.Pred("b"), P.Pred("c")))
    assert pp("(a|b),c") == P.Seq(P.OrP(P.Pred("a"), P.Pred("b")), P.Pred("c"))
    assert pp("a+") == P.Plus(P.Pred("a"))
    assert pp("(a,<b)*") == P.Star(P.Seq(P.Pred("a"), P.Inv("b")))
    assert pp("a{1,3}") == P.Times(P.Pred("a"), 1, 3)
    assert pp("a{2,2},b") == P.Seq(P.Times(P.Pred("a"), 2, 2), P.Pred("b"))
    assert pp(".") == P.Any()
    assert pp(".+") == P.Plus(P.Any())
    assert pp("a,.,b") == P.Seq(P.Pred("a"), P.Any(), P.Pred("b"))
    # JSON wire form: PathPredicate with the predicate omitted/null
    from terminus_server_spark.woql.json import _path

    assert _path({"@type": "PathPredicate"}) == P.Any()
    assert _path({"@type": "PathPredicate", "predicate": None}) == P.Any()
    for bad in ("", "a,", "(a", "a{1}", "<", "a b"):
        with _pytest.raises(ValueError):
            pp(bad)


def test_anchored_closure_plus_cycle_and_star_zero(spark):
    """anchored_closure matches filter-the-full-closure semantics:
    plus includes cycle returns to the anchor at hops >= 1; star's
    with_zero self row replaces any costlier self pair."""
    from pyspark.sql import functions as F

    from terminus_server_spark.operators.path import anchored_closure, transitive_closure

    # 3-cycle a->b->c->a plus a tail c->d
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "src string, dst string"
    )
    anchors = spark.createDataFrame([("a",)], "node string")
    got = {
        (r.src, r.dst): r.hops
        for r in anchored_closure(edges, anchors).collect()
    }
    full = {
        (r.src, r.dst): r.hops
        for r in transitive_closure(edges, with_hops=True).collect()
        if r.src == "a"
    }
    assert got == full
    assert got[("a", "a")] == 3  # cycle return present at hops >= 1

    star = {
        (r.src, r.dst): r.hops
        for r in anchored_closure(edges, anchors, with_zero=True).collect()
    }
    assert star[("a", "a")] == 0  # zero row replaces the 3-hop self pair
    assert {k: v for k, v in star.items() if k != ("a", "a")} == {
        k: v for k, v in full.items() if k != ("a", "a")
    }


def test_path_constant_subject_uses_anchored_closure(spark):
    """A Plus/Star path with a bound subject matches the
    filter-the-full-closure semantics (incl. cycle returns and the
    star's zero-hop self row) through the anchored BFS fast path."""
    from terminus_server_spark.model.triples import TripleStore
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql.compiler import WOQLContext
    from terminus_server_spark.woql.path_ast import Plus, Pred, Star

    rows = [("instance", s, "next", o, "iri", None) for s, o in
            [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]]
    trips = spark.createDataFrame(
        rows,
        "graph string, subject string, predicate string, obj string, "
        "obj_type string, obj_num double",
    )
    ctx = WOQLContext(TripleStore(trips))
    plus = {
        (r.dst, r.hops)
        for r in ctx.run(
            A.Path("a", Plus(Pred("next")), A.v("dst"), hops=A.v("hops"))
        ).collect()
    }
    assert plus == {("b", 1), ("c", 2), ("a", 3), ("d", 3)}
    star = {
        (r.dst, r.hops)
        for r in ctx.run(
            A.Path("a", Star(Pred("next")), A.v("dst"), hops=A.v("hops"))
        ).collect()
    }
    assert star == {("a", 0), ("b", 1), ("c", 2), ("d", 3)}


def test_path_same_variable_at_both_ends_unifies(spark):
    """Path(x, next+, x) binds the nodes on a cycle: the variable named
    twice unifies ``src`` with ``dst``."""
    from terminus_server_spark.model.triples import TripleStore
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql.compiler import WOQLContext
    from terminus_server_spark.woql.path_ast import Plus, Pred

    rows = [("instance", s, "next", o, "iri", None) for s, o in
            [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]]
    trips = spark.createDataFrame(
        rows,
        "graph string, subject string, predicate string, obj string, "
        "obj_type string, obj_num double",
    )
    got = WOQLContext(TripleStore(trips)).run(
        A.Select([A.v("x")], A.Path(A.v("x"), Plus(Pred("next")), A.v("x")))
    )
    assert sorted(r.x for r in got.collect()) == ["a", "b", "c"]


def test_sub_same_variable_unifies(spark):
    """Sub(x, x) holds once per class (subsumption is reflexive), not
    once per subclass pair."""
    from terminus_server_spark.model.triples import TripleStore
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql.compiler import WOQLContext

    schema = spark.createDataFrame(
        [("schema", "Customer", "subClassOf", "Agent", "iri", None),
         ("schema", "Supplier", "subClassOf", "Agent", "iri", None)],
        "graph string, subject string, predicate string, obj string, "
        "obj_type string, obj_num double",
    )
    got = WOQLContext(TripleStore(schema, schema_df=schema)).run(
        A.Select([A.v("x")], A.Sub(A.v("x"), A.v("x")))
    )
    assert sorted(r.x for r in got.collect()) == ["Agent", "Customer", "Supplier"]


def test_typeof_decimal_column_is_xsd_decimal(spark):
    """TypeOf reads the same xsd table the triple store writes: a
    decimal column (Typecast to xsd:decimal) is ``xsd:decimal``."""
    from terminus_server_spark.model.triples import TripleStore
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql.compiler import WOQLContext

    trips = spark.createDataFrame(
        [("instance", "a", "weight", "1.5", "xsd:decimal", 1.5)],
        "graph string, subject string, predicate string, obj string, "
        "obj_type string, obj_num double",
    )
    got = WOQLContext(TripleStore(trips)).run(A.Select([A.v("t")], A.And(
        A.Triple("a", "weight", A.v("raw")),
        A.Typecast(A.v("raw"), "xsd:decimal", A.v("w")),
        A.TypeOf(A.v("w"), A.v("t")),
    )))
    assert [r.t for r in got.collect()] == ["xsd:decimal"]


def test_update_tags_decimal_and_binary_like_the_store(spark):
    """An update's delta rows carry the store's xsd tags, and a binary
    binding is written in base64, the lexical form of
    ``xsd:base64Binary``."""
    import base64

    from terminus_server_spark.model.triples import TripleStore
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql.compiler import WOQLContext

    trips = spark.createDataFrame(
        [("instance", "a", "weight", "1.5", "xsd:decimal", 1.5)],
        "graph string, subject string, predicate string, obj string, "
        "obj_type string, obj_num double",
    )
    delta = WOQLContext(TripleStore(trips)).run_update(A.And(
        A.Triple("a", "weight", A.v("raw")),
        A.Typecast(A.v("raw"), "xsd:decimal", A.v("w")),
        A.Typecast(A.v("raw"), "binary", A.v("b")),
        A.AddTriple("a", "w2", A.v("w")),
        A.AddTriple("a", "blob", A.v("b")),
    ), 1, "t1")
    got = {r.predicate: (r.obj_type, r.obj, r.obj_num) for r in delta.collect()}
    assert got["w2"][0] == "xsd:decimal" and got["w2"][2] == 1.5
    assert got["blob"] == ("xsd:base64Binary", base64.b64encode(b"1.5").decode(), None)
