"""Plan-quality gates: the optimizations SURVEY §4 promises must be
visible in the physical plan, not just intended."""

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted") if False else df._jdf.queryExecution().explainString("formatted")


def plan_str(df) -> str:
    from io import StringIO
    import contextlib

    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_filters_pushed_to_scan(spark, tables):
    from terminus_server_spark.operators.relational import q6_forecast_revenue

    p = plan_str(q6_forecast_revenue(tables))
    assert "PushedFilters" in p
    # discount/quantity predicates reach the parquet reader
    assert re.search(r"PushedFilters:.*l_discount", p), p[:2000]
    assert re.search(r"PushedFilters:.*l_quantity", p)


def test_q1_prunes_columns(spark, tables):
    from terminus_server_spark.operators.relational import q1_pricing_summary

    p = plan_str(q1_pricing_summary(tables))
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, "no ReadSchema in plan"
    cols = m.group(1)
    assert "l_comment" not in cols
    assert "l_partkey" not in cols  # unused column pruned from scan
    assert "l_quantity" in cols


def test_q5_broadcasts_dimensions(spark, tables):
    from terminus_server_spark.operators.relational import q5_local_supplier

    p = plan_str(q5_local_supplier(tables))
    assert "BroadcastHashJoin" in p
    # the fact-fact join may be shuffle; dims must not induce extra sort-merge
    assert p.count("BroadcastHashJoin") >= 3


def test_q1_wholestage_codegen(spark, tables):
    from io import StringIO
    import contextlib

    from terminus_server_spark.operators.relational import q1_pricing_summary

    # AQE defers codegen compilation, so inspect with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        buf = StringIO()
        with contextlib.redirect_stdout(buf):
            q1_pricing_summary(tables).explain("codegen")
        p = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen" in p
    # the aggregate expressions stay inside generated code (no Python)
    assert "Found 0 WholeStageCodegen subtrees" not in p


def test_triple_pattern_pushes_predicate_filter(spark, store):
    p = plan_str(store.spo("c_acctbal"))
    # constant-predicate access becomes a scan-level filter (and a
    # partition-pruned scan under the partitioned layout)
    assert re.search(r"PushedFilters:.*predicate", p) or "predicate" in p


def test_brute_topk_broadcasts_queries(spark):
    from terminus_server_spark.operators.similarity import brute_force_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)], "vec_id long, embedding array<float>"
    )
    p = plan_str(brute_force_topk(emb, emb.where(F.col("vec_id") < 2), k=3))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_partitioned_triple_layout_prunes(spark, store, tmp_path):
    path = str(tmp_path / "triples")
    store.write_partitioned(path)
    df = spark.read.parquet(path).where(
        (F.col("graph") == "instance") & (F.col("predicate") == "c_acctbal")
    )
    p = plan_str(df)
    assert "PartitionFilters" in p
    assert re.search(r"PartitionFilters:.*predicate", p)


def test_chunking_is_shuffle_free(spark, tables):
    from terminus_server_spark.operators.pipeline import chunk_documents

    p = plan_str(chunk_documents(tables["documents"]))
    assert "Exchange" not in p  # pure map stage: explode + project only
    assert "Generate" in p


def test_hash_sample_prunes_columns(spark, tables):
    from terminus_server_spark.operators.pipeline import hash_sample

    p = plan_str(hash_sample(tables["documents"]).select("doc_id", "lang"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p[:2000]
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "text" not in read_cols  # projection reaches the scan


def test_topk_ngrams_single_shuffle_partial_agg(spark, tables):
    from terminus_server_spark.operators.pipeline import topk_ngrams

    p = plan_str(topk_ngrams(tables["documents"]))
    # exactly one exchange (the count shuffle), map-side partial agg
    # before it, and top-k via TakeOrderedAndProject — no global sort
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "HashAggregate" in p and "TakeOrderedAndProject" in p


def test_bucketed_join_has_no_exchange(spark, tables):
    from terminus_server_spark.sources import bucketed_pair

    c, o = bucketed_pair(
        spark, tables["customer"], "c_custkey", tables["orders"], "o_custkey",
        cache_key=("plan_gate",),
    )
    j = c.hint("merge").join(o, c["c_custkey"] == o["o_custkey"]).select(
        "c_custkey", "o_orderkey"
    )
    p = plan_str(j)
    assert "SortMergeJoin" in p
    assert not re.findall(r"\(\d+\) Exchange", p), p[:2000]  # bucket co-location


def test_q2_broadcasts_and_prunes(spark, tables):
    from terminus_server_spark.operators.relational import q2_min_cost_supplier

    p = plan_str(q2_min_cost_supplier(tables))
    assert "BroadcastHashJoin" in p and p.count("BroadcastHashJoin") >= 3
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and "l_tax" not in m.group(1)  # lineitem scan pruned to used cols


def test_q12_pushes_shipdate(spark, tables):
    from terminus_server_spark.operators.relational import q12_priority_shipping

    p = plan_str(q12_priority_shipping(tables))
    assert re.search(r"PushedFilters:.*l_shipdate", p)


def test_q16_anti_join_is_broadcast(spark, tables):
    from terminus_server_spark.operators.relational import q16_supplier_cnt

    p = plan_str(q16_supplier_cnt(tables))
    assert "BroadcastHashJoin" in p
    assert "LeftAnti" in p


def test_decontaminate_probe_has_no_candidate_shuffle_when_broadcast(spark):
    from terminus_server_spark.operators.text import decontaminate

    bench = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    docs = spark.createDataFrame([(2, "a b c d e x y z")], "doc_id long, text string")
    p = plan_str(decontaminate(docs, bench, broadcast_benchmark=True))
    assert "BroadcastHashJoin" in p


def test_partitioned_triples_prunes_partitions(spark, tmp_path):
    from terminus_server_spark.model.triples import tpch_store
    from terminus_server_spark.session import load_tables
    import os

    tabs = load_tables(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"),
                       ("region", "nation", "customer", "supplier", "orders"))
    store = tpch_store(tabs)
    path = str(tmp_path / "triples")
    store.write_partitioned(path)
    back = spark.read.parquet(path)
    df = back.where((F.col("graph") == "instance") & (F.col("predicate") == "c_acctbal"))
    p = plan_str(df)
    assert re.search(r"PartitionFilters:.*predicate.*c_acctbal", p) or \
           re.search(r"PartitionFilters:.*isnotnull\(predicate", p), p[:3000]


def test_relational_and_text_plans_have_no_python_eval(spark, tables):
    """The hot paths must stay in whole-stage codegen — a Python UDF
    would appear as BatchEvalPython/ArrowEvalPython in the plan."""
    from terminus_server_spark.operators.relational import (
        q1_pricing_summary,
        q5_local_supplier,
    )
    from terminus_server_spark.operators.text import quality_score, repetition_signals

    docs = tables["documents"]
    for df in (
        q1_pricing_summary(tables),
        q5_local_supplier(tables),
        quality_score(docs),
        repetition_signals(docs),
    ):
        p = plan_str(df)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bucketed_range_join_avoids_nested_loop(spark, tables):
    from pyspark.sql import functions as F

    from terminus_server_spark.operators.temporal import bucketed_range_join

    promos = spark.createDataFrame(
        [("a", "1995-03-01", "1995-09-01")], "promo string, s string, e string"
    ).select("promo", F.col("s").cast("timestamp").alias("s"), F.col("e").cast("timestamp").alias("e"))
    df = bucketed_range_join(tables["orders"], promos, "o_orderdate", "s", "e")
    p = plan_str(df)
    assert "BroadcastNestedLoopJoin" not in p  # equi-join on bucket instead
    # while a NAIVE non-equi join would nested-loop:
    naive = tables["orders"].join(
        promos, (F.col("o_orderdate") >= F.col("s")) & (F.col("o_orderdate") < F.col("e"))
    )
    assert "BroadcastNestedLoopJoin" in plan_str(naive)


def test_asof_join_single_shuffle_on_key(spark, tables):
    from pyspark.sql import functions as F

    from terminus_server_spark.operators.temporal import asof_join

    ev = tables["events"]
    left = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    p = plan_str(asof_join(left, right, "user_id", "ts", "ts", ["value"]))
    # union-window formulation: no join operator at all, one window
    assert "Join" not in p or "BroadcastNestedLoopJoin" not in p
    assert p.count("Exchange") <= 2  # union sides coalesce into the window shuffle


def test_embed_dedup_lsh_never_all_pairs(spark):
    """The default embedding near-dup path must pair rows only within
    LSH band buckets: no cartesian product, no driver materialization,
    no Python eval anywhere in the plan (VERDICT r1 scale-killer)."""
    from terminus_server_spark.operators.dedup import embedding_near_dup_pairs_lsh

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    p = plan_str(embedding_near_dup_pairs_lsh(emb))
    for bad in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BatchEvalPython",
        "ArrowEvalPython",
    ):
        assert bad not in p, f"{bad} in embed-dedup plan"


def test_bm25_stays_codegen_and_single_scan(spark, tables):
    from terminus_server_spark.operators.retrieval import bm25_topk

    df = bm25_topk(tables["documents"], ["spark", "join", "stream"])
    p = plan_str(df)
    # corpus scanned for features + once for the tiny stats aggregate;
    # never a third time, and no per-row Python
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) <= 2, p[:3000]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # tf expressions must not fall out of codegen into interpreted
    # higher-order functions
    assert "LambdaFunction" not in p


def test_inverted_index_prunes_to_two_columns(spark, tables):
    import re

    from terminus_server_spark.operators.retrieval import inverted_index

    p = plan_str(inverted_index(tables["documents"]))
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m
    cols = m.group(1)
    assert "doc_id" in cols and "text" in cols
    assert "source" not in cols and "lang" not in cols


def test_unfold_read_broadcasts_dimensions(spark):
    from terminus_server_spark.registry import QUERIES
    import tests.conftest as C

    df = QUERIES["doc_read_unfold"](spark, C.SF_DIR)
    p = plan_str(df)
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_semantic_dedup_joins_only_on_cluster(spark):
    from pyspark.sql import functions as F

    from terminus_server_spark.operators.dedup import semantic_dedup

    emb = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(8)), lambda i: i.cast("float")).alias(
            "embedding"
        ),
        (F.col("id") % 4).cast("int").alias("label"),
    )
    p = plan_str(semantic_dedup(emb))
    # the pair join must be keyed (hash/sort-merge/broadcast on the
    # cluster), never a cartesian product over the corpus
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_sorted_write_prunes_rowgroups(spark, tables, tmp_path):
    """File-level data skipping: a time-sorted layout lets parquet
    row-group min/max stats prune most of the scan for a narrow time
    filter.  Gotcha this pins down: the sort key must be an integer
    (or LTZ timestamp) column — TIMESTAMP_NTZ predicates were not
    pruning row groups on this Spark version."""
    ev = tables["events"].select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    sorted_p = str(tmp_path / "sorted")
    shuffled_p = str(tmp_path / "shuffled")
    ev.repartitionByRange(8, "ts_us").sortWithinPartitions("ts_us").write.parquet(sorted_p)
    ev.repartition(8).write.parquet(shuffled_p)
    lo = ev.agg(F.min("ts_us")).collect()[0][0]
    hi = lo + 24 * 3600 * 1_000_000  # one day

    def scanned_rows(path):
        df = (
            spark.read.parquet(path)
            .where((F.col("ts_us") >= lo) & (F.col("ts_us") < hi))
            .select("event_id")
        )
        df.collect()
        scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        it = scan.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numOutputRows":
                return kv._2().value()
        raise AssertionError("no numOutputRows metric on scan")

    total = ev.count()
    s, u = scanned_rows(sorted_p), scanned_rows(shuffled_p)
    assert u == total            # unsorted layout decodes everything
    assert s < total / 2         # sorted layout skips most row groups


def _scan_rows(spark, df):
    df.collect()
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    it = scan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() == "numOutputRows":
            return kv._2().value()
    raise AssertionError("no numOutputRows metric")


def test_zorder_layout_skips_in_both_dimensions(spark, tables, tmp_path):
    """OPTIMIZE ZORDER semantics: one layout, data skipping on EITHER
    filter dimension — vs a single-column sort which only helps its
    own column."""
    from terminus_server_spark.sources import write_zordered

    base = tables["events"].select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
    )
    lo0, hi0 = base.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    # z-order wants comparable bit-widths: bucket both dims to 8 bits
    ev = base.withColumn(
        "ts_b",
        ((F.col("ts_us") - F.lit(lo0)) * 256 / F.lit(hi0 - lo0 + 1)).cast("bigint"),
    ).withColumn("user_b", (F.col("user_id") * 17) % 256)
    z_p, t_p = str(tmp_path / "zorder"), str(tmp_path / "tsorted")
    write_zordered(ev, z_p, ["ts_b", "user_b"], n_files=8, bits=8)
    ev.repartitionByRange(8, "ts_us").sortWithinPartitions("ts_us").write.parquet(t_p)

    total = ev.count()
    users = [r.user_id for r in ev.select("user_id").distinct().limit(1).collect()]
    u = users[0]
    z_user = _scan_rows(
        spark, spark.read.parquet(z_p).where(F.col("user_id") == u).select("event_id")
    )
    t_user = _scan_rows(
        spark, spark.read.parquet(t_p).where(F.col("user_id") == u).select("event_id")
    )
    # user filter: zorder layout skips, pure time-sort cannot
    assert t_user == total
    assert z_user < total * 0.8
    lo = ev.agg(F.min("ts_us")).collect()[0][0]
    hi = lo + 3 * 24 * 3600 * 1_000_000
    z_time = _scan_rows(
        spark,
        spark.read.parquet(z_p)
        .where((F.col("ts_us") >= lo) & (F.col("ts_us") < hi))
        .select("event_id"),
    )
    # the time dimension must not be lost either: still well under a
    # full decode (single-column sort remains better on its own axis)
    assert z_time < total


def _scan_block(plan: str, table: str) -> str:
    """The formatted plan's ``Scan parquet`` node reading ``table``."""
    [block] = [b for b in plan.split("\n\n")
               if "Scan parquet" in b and f"{table}.parquet" in b]
    return block


def test_gql_execute_pushes_filter_and_prunes(spark):
    """The GraphQL wire format must cost nothing: the compiled plan
    pushes the filter disjunction to the parquet scan and prunes to
    the selected fields (+ filter columns).  An unpaged nested
    relation (the shape of perfbench's read_mix GraphQL request)
    pushes its own filter to the child scan and is never ranked."""
    import os

    from terminus_server_spark.docs.graphql import execute_graphql
    from terminus_server_spark.session import load_tables

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    t = load_tables(spark, sf, ("customer", "orders"))
    for orders in ("", 'orders(filter: {o_orderstatus: {eq: "F"}}) { o_orderkey }'):
        out = execute_graphql(
            {"Customer": t["customer"], "Order": t["orders"]},
            'query { Customer(filter: {c_acctbal: {gt: 1000.0}}, '
            f"orderBy: {{c_acctbal: DESC}}, limit: 10) {{ c_custkey c_name {orders} }} }}",
            relations={("Customer", "orders"): ("Order", "c_custkey", "o_custkey")},
        )["Customer"]
        p = plan_str(out)
        scan = _scan_block(p, "customer")
        assert re.search(r"PushedFilters:.*c_acctbal", scan), p[:2000]
        m = re.search(r"ReadSchema: struct<([^>]*)>", scan)
        assert m and "c_mktsegment" not in m.group(1)  # unselected, unfiltered
        assert "TakeOrderedAndProject" in p  # orderBy+limit never a global sort
    assert re.search(r"PushedFilters:.*EqualTo\(o_orderstatus,F\)",
                     _scan_block(p, "orders")), p
    assert "Window" not in p  # unpaged children are never ranked


def test_resolve_curies_broadcasts_prefix_table(spark):
    from terminus_server_spark.woql.prefixes import resolve_curies

    refs = spark.createDataFrame(
        [("db1", "ex:A")] * 10, "db string, curie string"
    )
    prefixes = spark.createDataFrame(
        [("db1", "ex", "http://x/#")], "db string, prefix string, iri string"
    )
    p = plan_str(resolve_curies(refs, prefixes))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_shard_assign_has_no_global_window(spark):
    """The token prefix sum must never be a single-partition window:
    every Window's partition spec is non-empty except over the
    bounded 256-row bucket table (which sits under a tiny exchange)."""
    from terminus_server_spark.operators.pipeline import shard_assign

    docs = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1)) for i in range(100)], "doc_id long, text string"
    )
    p = plan_str(shard_assign(docs))
    # the only empty-partition-spec window is the bucket-offset prefix
    # sum, whose input is the <=256-row aggregate — identified by its
    # rows coming from a HashAggregate on _bucket
    wins = re.findall(r"Window .*?partitionBy=\[([^\]]*)\]", p) or re.findall(
        r"\bWindow\b[^\n]*", p
    )
    # cheap structural check: a windowed sort over the full docs input
    # would show 'Sort [_h' without a partition key; assert absent
    assert not re.search(r"Sort \[_h[^\]]*\], true", p.split("Window")[0]), p[:3000]


def test_sniff_headers_stays_codegen_no_python(spark):
    """Header sniffing must be pure JVM byte expressions: no
    BatchEvalPython / ArrowEvalPython anywhere in the plan, and the
    projection runs inside whole-stage codegen."""
    from terminus_server_spark.operators.multimodal import sniff_headers

    mm = spark.createDataFrame(
        [(1, b"GIF89a\x02\x00\x03\x00")], "doc_id long, payload binary"
    )
    p = plan_str(sniff_headers(mm))
    assert "EvalPython" not in p, p
    assert "codegen id" in p  # formatted explain marks codegen stages this way


def test_betweenness_state_is_source_keyed_not_quadratic(spark):
    """The forward BFS must aggregate on (source, node) — never
    materialize per-path rows; spot-check the first expansion plan
    has a hash aggregate keyed by source+node."""
    from terminus_server_spark.operators.graph import betweenness

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    out = betweenness(edges)
    # end-to-end value check doubles as the state-shape guard: a path
    # P31 has closed-form i*(n-1-i)
    got = {r.node: r.betweenness for r in out.collect()}
    assert got[15] == 15.0 * 15.0
    assert got[0] == 0.0 and got[30] == 0.0


def test_classifier_score_broadcasts_weights(spark, tables):
    """Model inference = broadcast weight table, never a shuffled
    join on the bucket key."""
    from terminus_server_spark.operators.text import classifier_score

    p = plan_str(classifier_score(tables["documents"]))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "EvalPython" not in p


def test_gopher_rules_single_scan_no_shuffle(spark, tables):
    """The composite quality filter is one map-side projection: one
    parquet scan, zero exchanges, no Python."""
    from terminus_server_spark.operators.text import gopher_rules

    p = plan_str(gopher_rules(tables["documents"]))
    # count the detail entries, not the tree echo of the same node
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_binary_quant_no_python_eval(spark, tables):
    """Sign packing / popcount Hamming stays JVM-side."""
    from terminus_server_spark.operators.similarity import binary_quant_topk_audit

    emb = tables["embeddings"]
    p = plan_str(binary_quant_topk_audit(emb, emb.where(F.col("vec_id") < 3), k=3))
    assert "EvalPython" not in p


def test_ohlc_is_one_partial_aggregate(spark, tables):
    """Candlestick rollup: exactly one exchange (the groupBy on
    key+bucket), with a map-side partial aggregate before it."""
    from terminus_server_spark.operators.temporal import ohlc_downsample

    ev = tables["events"].withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    p = plan_str(ohlc_downsample(ev))
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1
    assert "partial" in p.lower()


def test_bloom_filter_write_skips_rowgroups(spark, tables, tmp_path):
    """Parquet BLOOM FILTERS: the data-skipping lever for point
    lookups on high-cardinality UNSORTED columns, where row-group
    min/max stats are useless (every group spans the full value
    range).  Written via parquet.bloom.filter.enabled#<col> (+
    expected ndv); an equality predicate then decodes only the row
    group(s) whose bloom admits the value — measured 8x fewer rows
    here — while the bloom-less layout decodes everything.  The
    complement to sorted-write/Z-order skipping (those need a sort
    key; blooms work on hash-random columns like content digests,
    the join keys a 100 TB dedup pipeline probes)."""
    ev = tables["events"].select(
        F.md5(F.col("event_id").cast("string")).alias("h"), "event_id"
    )
    bloom_p = str(tmp_path / "bloom")
    plain_p = str(tmp_path / "plain")
    (
        ev.repartition(8)
        .write.option("parquet.bloom.filter.enabled#h", "true")
        .option("parquet.bloom.filter.expected.ndv#h", "100000")
        .parquet(bloom_p)
    )
    ev.repartition(8).write.parquet(plain_p)
    target = ev.limit(1).collect()[0].h
    total = ev.count()
    b = _scan_rows(
        spark,
        spark.read.parquet(bloom_p).where(F.col("h") == target).select("event_id"),
    )
    p = _scan_rows(
        spark,
        spark.read.parquet(plain_p).where(F.col("h") == target).select("event_id"),
    )
    assert p == total          # min/max can't prune random digests
    assert b <= total / 4      # blooms skip the other row groups


def test_cursor_keyset_predicate_reaches_scan(spark, tables):
    """Relay cursor paging: the `after` bound must appear in the
    parquet scan's pushed filters (the reason cursor beats offset at
    depth — pre-cursor rows are skipped at the source, not read and
    discarded)."""
    from terminus_server_spark.docs.graphql import execute_graphql

    df = execute_graphql(
        {"Customer": tables["customer"]},
        "query { Customer(first: 10, after: 500) { c_custkey } }",
        id_cols={"Customer": "c_custkey"},
    )["Customer"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "c_custkey" in plan
    # the keyset bound shows up as a data filter on the scan
    assert "GreaterThan(c_custkey,500)" in plan.replace(" ", "") or (
        "(c_custkey#" in plan and "> 500" in plan
    ), plan[:2000]
    # a nested page's bound filters the child scan, before its ranking
    nested = execute_graphql(
        {"Customer": tables["customer"], "Order": tables["orders"]},
        "query { Customer(id: 4) { c_custkey cs(first: 2, after: 41) { o_orderkey } } }",
        relations={("Customer", "cs"): ("Order", "c_custkey", "o_custkey")},
        id_cols={"Customer": "c_custkey", "Order": "o_orderkey"},
    )["Customer"]
    scan = _scan_block(plan_str(nested), "orders")
    assert re.search(r"PushedFilters:.*GreaterThan\(o_orderkey,41\)", scan), scan


def test_operators_never_write_session_conf():
    """Operators plan loops, and stream harnesses start queries with
    pinned state partitions, in a cloned session
    (``checkpoint.run_in_clone``), and pick write modes through writer
    options, so no package code writes the caller's SQL conf.  The one
    exception is ``load_tables``' read setting (session.py).
    ``run_in_clone`` is the one place that writes a conf, its own
    clone's."""
    import pathlib

    import terminus_server_spark

    root = pathlib.Path(terminus_server_spark.__file__).parent
    allowed = {"conf.set(": {"session.py"},
               "setConfString(": {"checkpoint.py"}}
    hits = [
        f"{rel}: {needle}"
        for src in sorted(root.rglob("*.py"))
        for rel in [src.relative_to(root).as_posix()]
        for needle, ok in allowed.items()
        if needle in src.read_text() and rel not in ok
    ]
    assert hits == []


def test_fixpoint_operators_take_no_round_cap():
    """Fixpoint loops stop on their own probe (changed rows, an empty
    frontier, no row dropped), so an answer never depends on a round
    cap: no function in the package takes one."""
    import ast
    import pathlib

    import terminus_server_spark

    caps = {"max_iters", "rounds_per_k", "max_doublings"}
    root = pathlib.Path(terminus_server_spark.__file__).parent
    hits = [
        f"{src.relative_to(root).as_posix()}:{arg.lineno} {arg.arg}"
        for src in sorted(root.rglob("*.py"))
        for arg in ast.walk(ast.parse(src.read_text()))
        if isinstance(arg, ast.arg) and arg.arg in caps
    ]
    assert hits == []


def test_only_compile_path_picks_a_closure_plan():
    """``compile_path`` alone decides between an anchored and a global
    closure: no package module outside ``operators/path.py`` calls
    ``anchored_closure`` or ``transitive_closure_doubling`` itself."""
    import pathlib

    import terminus_server_spark

    root = pathlib.Path(terminus_server_spark.__file__).parent
    hits = [
        f"{rel}: {needle}"
        for src in sorted(root.rglob("*.py"))
        for rel in [src.relative_to(root).as_posix()]
        if rel != "operators/path.py"
        for needle in ("anchored_closure(", "transitive_closure_doubling(")
        if needle in src.read_text()
    ]
    assert hits == []


def test_one_canonical_edge_store():
    """Every graph maintainer and stream harness shares one canonical
    edge store: ``graph._pairs`` alone orders an undirected pair, and
    ``graph._fresh`` alone narrows the store to the adds' rows before
    the anti join.  No function takes a flag saying its base is
    canonical (the base always is), and neither ``graph.py`` nor
    ``events.py`` defines its own ``und``/``canon``."""
    import ast
    import pathlib
    import re

    import terminus_server_spark

    root = pathlib.Path(terminus_server_spark.__file__).parent
    owned = {
        r'F\.least\("src", "dst"\)': ("operators/graph.py", "_pairs"),
        r'\.select\("(?:src|a)"\)\.distinct\(\)\),\s*"(?:src|a)",\s*"left_semi"':
            ("operators/graph.py", "_fresh"),
    }
    hits = []
    for src in sorted(root.rglob("*.py")):
        rel = src.relative_to(root).as_posix()
        text = src.read_text()
        tree = ast.parse(text)
        for node in ast.walk(tree):
            if isinstance(node, ast.arg) and node.arg == "canonical_base":
                hits.append(f"{rel}:{node.lineno} canonical_base")
            if (
                rel in ("operators/graph.py", "streaming/events.py")
                and isinstance(node, ast.FunctionDef)
                and node.name in ("und", "canon")
            ):
                hits.append(f"{rel}:{node.lineno} def {node.name}")
        for pattern, (home, fn) in owned.items():
            n = len(re.findall(pattern, text))
            if rel == home:
                body = "".join(
                    ast.get_source_segment(text, f)
                    for f in tree.body
                    if isinstance(f, ast.FunctionDef) and f.name == fn
                )
                n -= len(re.findall(pattern, body))
            if n:
                hits.append(f"{rel}: {n} x {pattern}")
    assert hits == []


def test_one_driver_walk_guard():
    """Small graphs walk on the driver under one size guard:
    ``path.collect_small`` alone holds a ``limit(N + 1).collect()``,
    and no module keeps its own limit or its own driver BFS."""
    import ast
    import pathlib
    import re

    import terminus_server_spark

    root = pathlib.Path(terminus_server_spark.__file__).parent
    gone = {"_DRIVER_WALK_LIMIT", "_METADATA_SCC_LIMIT", "_bfs_depths"}
    guard = r"\.limit\([^()]*\+\s*1\s*\)\s*\.collect\(\)"
    hits = []
    for src in sorted(root.rglob("*.py")):
        rel = src.relative_to(root).as_posix()
        text = src.read_text()
        tree = ast.parse(text)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
                name = node.id
            elif isinstance(node, ast.FunctionDef):
                name = node.name
            else:
                continue
            if name in gone:
                hits.append(f"{rel}:{node.lineno} {name}")
        n = len(re.findall(guard, text))
        if rel == "operators/path.py":
            n -= sum(
                len(re.findall(guard, ast.get_source_segment(text, f)))
                for f in tree.body
                if isinstance(f, ast.FunctionDef) and f.name == "collect_small"
            )
        if n:
            hits.append(f"{rel}: {n} x limit(N + 1).collect()")
    assert hits == []
