

def test_stream_cc_cdc_split_invariance(spark):
    """run_stream_cc_cdc: re-batching a CDC op sequence (respecting
    the within-batch convention: deletes apply against the pre-batch
    state, inserts after) leaves the labels identical, and they equal
    batch CC of the net edge set (adds, splits, heals, vanishing
    nodes all present)."""
    from terminus_server_spark.operators.graph import connected_components
    from terminus_server_spark.streaming.events import run_stream_cc_cdc

    schema = "op string, src long, dst long"
    b1 = [("add", i, i + 1) for i in range(12)] + [("add", 20, 21)]
    b2 = [("del", 4, 5), ("del", 9, 8), ("del", 20, 21)]
    b3 = [("add", 4, 5)]
    three = [spark.createDataFrame(b, schema) for b in (b1, b2, b3)]
    # batches 2+3 merged: its dels hit the post-batch-1 state, its
    # add applies after — the same net under the convention
    two = [
        spark.createDataFrame(b1, schema),
        spark.createDataFrame(b2 + b3, schema),
    ]
    got3 = {(r.node, r.component)
            for r in run_stream_cc_cdc(spark, three).collect()}
    got2 = {(r.node, r.component)
            for r in run_stream_cc_cdc(spark, two).collect()}
    # a dirty batch 1: a reversed duplicate, a null endpoint, a
    # self-loop and an edge added twice change nothing
    junk = [("add", 1, 0), ("add", 3, None), ("add", 5, 5), ("add", 2, 3)]
    dirty = [spark.createDataFrame(b, schema) for b in (b1 + junk, b2, b3)]
    got_dirty = {(r.node, r.component)
                 for r in run_stream_cc_cdc(spark, dirty).collect()}
    net = [(i, i + 1) for i in range(12) if (i, i + 1) != (8, 9)]
    want = {(r.node, r.component)
            for r in connected_components(
                spark.createDataFrame(net, "src long, dst long")).collect()}
    want |= {(20, 20), (21, 21)}  # vanished pair stays as singletons
    assert got3 == want
    assert got2 == want
    assert got_dirty == want


def test_stream_kcore_cdc_split_invariance(spark):
    """run_stream_kcore_cdc: re-batching a CDC op sequence (deletes
    against the pre-batch state, inserts after) leaves the core
    identical, and it equals batch k-core of the net edge set —
    peel cascades, re-entry after deletion, and same-batch add+del
    netting to present are all exercised."""
    from terminus_server_spark.operators.graph import kcore
    from terminus_server_spark.streaming.events import run_stream_kcore_cdc

    schema = "op string, src long, dst long"
    # K5 on 0..4 and K4 on 10..13
    b1 = [("add", i, j) for i in range(5) for j in range(i + 1, 5)] + [
        ("add", i, j) for i in range(10, 14) for j in range(i + 1, 14)
    ]
    # carve node 0 out of the K5 (degree 2 -> peels); same-batch
    # add+del of (10,11) nets to present (del against pre-state,
    # re-add after)
    b2 = [("del", 0, 1), ("del", 2, 0), ("del", 10, 11), ("add", 10, 11)]
    # restore (0,1): node 0 back at degree 3, re-enters
    b3 = [("add", 0, 1)]
    three = [spark.createDataFrame(b, schema) for b in (b1, b2, b3)]
    two = [
        spark.createDataFrame(b1, schema),
        spark.createDataFrame(b2 + b3, schema),
    ]
    got3 = {(r.node, r.degree)
            for r in run_stream_kcore_cdc(spark, three, k=3).collect()}
    got2 = {(r.node, r.degree)
            for r in run_stream_kcore_cdc(spark, two, k=3).collect()}
    # a dirty batch 1: a reversed duplicate, a null endpoint, a
    # self-loop and an edge added twice change nothing
    junk = [("add", 1, 0), ("add", 3, None), ("add", 4, 4), ("add", 10, 11)]
    dirty = [spark.createDataFrame(b, schema) for b in (b1 + junk, b2, b3)]
    got_dirty = {(r.node, r.degree)
                 for r in run_stream_kcore_cdc(spark, dirty, k=3).collect()}
    net = [(i, j) for i in range(5) for j in range(i + 1, 5)
           if (i, j) != (0, 2)] + [
        (i, j) for i in range(10, 14) for j in range(i + 1, 14)
    ]
    want = {(r.node, r.degree)
            for r in kcore(
                spark.createDataFrame(net, "src long, dst long"), k=3
            ).collect()}
    assert got3 == want
    assert got2 == want
    assert got_dirty == want


def test_stream_ktruss_cdc_split_invariance(spark):
    """run_stream_ktruss_cdc: re-batching a CDC op sequence leaves
    the truss identical, and it equals batch k-truss of the net edge
    set — deletion cascade, re-entry of previously-peeled edges, and
    same-batch add+del netting to present all exercised."""
    from terminus_server_spark.operators.graph import ktruss
    from terminus_server_spark.streaming.events import run_stream_ktruss_cdc

    schema = "op string, src long, dst long"
    # K5 on 0..4 and K4 on 10..13
    b1 = [("add", i, j) for i in range(5) for j in range(i + 1, 5)] + [
        ("add", i, j) for i in range(10, 14) for j in range(i + 1, 14)
    ]
    # drop two edges at node 4: (0,4)/(1,4) fall to support 1 and
    # peel, leaving K4 on 0..3; same-batch add+del of (10,11)
    b2 = [("del", 3, 4), ("del", 2, 4), ("del", 10, 11), ("add", 10, 11)]
    # restore one edge: (3,4) back -> 4 has partners 0,1,3 but
    # support for (0,4): via 1 and 3 -> wait, (2,4) still deleted
    b3 = [("add", 2, 4)]
    three = [spark.createDataFrame(b, schema) for b in (b1, b2, b3)]
    two = [
        spark.createDataFrame(b1, schema),
        spark.createDataFrame(b2 + b3, schema),
    ]
    got3 = {(r.a, r.b)
            for r in run_stream_ktruss_cdc(spark, three, k=4).collect()}
    got2 = {(r.a, r.b)
            for r in run_stream_ktruss_cdc(spark, two, k=4).collect()}
    # a dirty batch 1: a reversed duplicate, a null endpoint, a
    # self-loop and an edge added twice change nothing
    junk = [("add", 1, 0), ("add", 3, None), ("add", 4, 4), ("add", 10, 11)]
    dirty = [spark.createDataFrame(b, schema) for b in (b1 + junk, b2, b3)]
    got_dirty = {(r.a, r.b)
                 for r in run_stream_ktruss_cdc(spark, dirty, k=4).collect()}
    net = [(i, j) for i in range(5) for j in range(i + 1, 5)
           if (i, j) != (3, 4)] + [
        (i, j) for i in range(10, 14) for j in range(i + 1, 14)
    ]
    want = {(r.a, r.b)
            for r in ktruss(
                spark.createDataFrame(net, "src long, dst long"), k=4
            ).collect()}
    assert got3 == want
    assert got2 == want
    assert got_dirty == want


def test_stream_msf_cdc_split_invariance(spark):
    """run_stream_msf_cdc: re-batching a CDC op sequence leaves the
    forest identical, and it equals batch msf_boruvka of the net edge
    set — replacement after a forest-edge delete, a cheap-chord swap
    evicting the cycle max, and same-batch add+del netting to present
    all exercised (weights globally distinct)."""
    from terminus_server_spark.operators.graph import msf_boruvka
    from terminus_server_spark.streaming.events import run_stream_msf_cdc

    schema = "op string, src long, dst long, w double"
    # 5-cycle 0-1-2-3-4-0 with weights 1,2,3,4,5 (MSF drops (0,4,5))
    # and a separate path 10-11-12 with weights 21,22
    b1 = (
        [("add", i, (i + 1) % 5, 1.0 + i) for i in range(5)]
        + [("add", 10, 11, 21.0), ("add", 11, 12, 22.0)]
    )
    # delete forest edge (0,1): replacement (0,4,5) rejoins; the
    # same-batch add+del of (10,11) nets to present
    b2 = [("del", 0, 1, 0.0), ("del", 10, 11, 0.0),
          ("add", 10, 11, 21.0)]
    # cheap chord (0,2,0.5): closes the cycle 0-2-3-4-0 and evicts
    # its max edge (0,4,5)
    b3 = [("add", 0, 2, 0.5)]
    three = [spark.createDataFrame(b, schema) for b in (b1, b2, b3)]
    two = [
        spark.createDataFrame(b1, schema),
        spark.createDataFrame(b2 + b3, schema),
    ]
    got3 = {(r.a, r.b, r.w)
            for r in run_stream_msf_cdc(spark, three).collect()}
    got2 = {(r.a, r.b, r.w)
            for r in run_stream_msf_cdc(spark, two).collect()}
    # a dirty batch 1: a reversed duplicate (its heavier weight loses
    # to the pair's minimum), a null endpoint, a self-loop and an edge
    # added twice change nothing
    junk = [("add", 1, 0, 7.0), ("add", 3, None, 9.0),
            ("add", 2, 2, 0.25), ("add", 11, 12, 22.0)]
    dirty = [spark.createDataFrame(b, schema) for b in (b1 + junk, b2, b3)]
    got_dirty = {(r.a, r.b, r.w)
                 for r in run_stream_msf_cdc(spark, dirty).collect()}
    net = (
        [(i, (i + 1) % 5, 1.0 + i) for i in range(5) if i != 0]
        + [(0, 2, 0.5), (10, 11, 21.0), (11, 12, 22.0)]
    )
    want = {(r.a, r.b, r.w)
            for r in msf_boruvka(
                spark.createDataFrame(net, "src long, dst long, w double")
            ).collect()}
    assert got3 == want
    assert got2 == want
    assert got_dirty == want


def test_stream_triangles_cdc_split_invariance(spark):
    """run_stream_triangles_cdc: re-batching a CDC op sequence leaves
    the count identical, and it equals batch triangle_count of the
    net edge set — deletion subtraction, triangle re-entry after a
    re-add, and same-batch add+del netting to present all
    exercised."""
    from terminus_server_spark.operators.graph import triangle_count
    from terminus_server_spark.streaming.events import (
        run_stream_triangles_cdc,
    )

    schema = "op string, src long, dst long"
    # K5 on 0..4 (10 triangles) and a triangle 10-11-12
    b1 = [("add", i, j) for i in range(5) for j in range(i + 1, 5)] + [
        ("add", 10, 11), ("add", 11, 12), ("add", 10, 12)
    ]
    # delete (0,1)/(0,2): 5 triangles gone; same-batch add+del of
    # (10,11) nets to present (triangle 10-11-12 survives)
    b2 = [("del", 0, 1), ("del", 0, 2), ("del", 10, 11),
          ("add", 10, 11)]
    # re-add (0,1): common neighbors {3,4} -> 2 triangles return
    b3 = [("add", 0, 1)]
    three = [spark.createDataFrame(b, schema) for b in (b1, b2, b3)]
    two = [
        spark.createDataFrame(b1, schema),
        spark.createDataFrame(b2 + b3, schema),
    ]
    got3 = run_stream_triangles_cdc(spark, three).collect()[0].n_triangles
    got2 = run_stream_triangles_cdc(spark, two).collect()[0].n_triangles
    # a dirty batch 1: a reversed duplicate, a null endpoint, a
    # self-loop and an edge added twice change nothing
    junk = [("add", 1, 0), ("add", 3, None), ("add", 4, 4), ("add", 10, 11)]
    dirty = [spark.createDataFrame(b, schema) for b in (b1 + junk, b2, b3)]
    got_dirty = run_stream_triangles_cdc(spark, dirty).collect()[0].n_triangles
    net = [(i, j) for i in range(5) for j in range(i + 1, 5)
           if (i, j) != (0, 2)] + [(10, 11), (11, 12), (10, 12)]
    want = triangle_count(
        spark.createDataFrame(net, "src long, dst long")
    ).collect()[0].n_triangles
    assert got3 == want == 7 + 1
    assert got2 == want
    assert got_dirty == want


def test_stream_scc_cdc_split_invariance(spark):
    """run_stream_scc_cdc: re-batching a CDC op sequence leaves the
    labels identical, and they equal batch SCC of the net directed
    edge set — class split (decremental), merge through the
    maintained condensation (incremental), re-merge after a split,
    and fresh nodes all exercised."""
    from terminus_server_spark.operators.graph import (
        strongly_connected_components,
    )
    from terminus_server_spark.streaming.events import run_stream_scc_cdc

    schema = "op string, src long, dst long"
    # 3-cycle {1,2,3}, bridge to 2-cycle {5,6}
    b1 = [("add", 1, 2), ("add", 2, 3), ("add", 3, 1), ("add", 3, 5),
          ("add", 5, 6), ("add", 6, 5)]
    # split the 3-cycle (del 3->1), merge {5,6} with fresh 7 via a
    # new cycle 6->7, 7->5
    b2 = [("del", 3, 1), ("add", 6, 7), ("add", 7, 5)]
    # re-merge: restore 3->1
    b3 = [("add", 3, 1)]
    three = [spark.createDataFrame(b, schema) for b in (b1, b2, b3)]
    two = [
        spark.createDataFrame(b1, schema),
        spark.createDataFrame(b2 + b3, schema),
    ]
    got3 = {(r.node, r.component)
            for r in run_stream_scc_cdc(spark, three).collect()}
    got2 = {(r.node, r.component)
            for r in run_stream_scc_cdc(spark, two).collect()}
    net = [(1, 2), (2, 3), (3, 1), (3, 5), (5, 6), (6, 5), (6, 7),
           (7, 5)]
    want = {(r.node, r.component)
            for r in strongly_connected_components(
                spark.createDataFrame(net, "src long, dst long")
            ).collect()}
    assert got3 == want
    assert got2 == want
    # a node whose only edge is a self-loop is its own class, as in
    # batch SCC
    loop = [("add", 1, 2), ("add", 2, 1), ("add", 2, 3), ("add", 5, 5)]
    got_loop = {(r.node, r.component)
                for r in run_stream_scc_cdc(
                    spark, [spark.createDataFrame(loop, schema)]).collect()}
    want_loop = {(r.node, r.component)
                 for r in strongly_connected_components(
                     spark.createDataFrame(
                         [e[1:] for e in loop], "src long, dst long")
                 ).collect()}
    assert (5, 5) in want_loop
    assert got_loop == want_loop


def test_stream_pagerank_cdc_keeps_self_loops(spark):
    """The CDC PageRank harness keeps directed self-loops, as batch
    ``pagerank`` and the insert-only ``run_stream_pagerank`` do: on
    one add batch the three agree bit for bit."""
    from terminus_server_spark.operators.graph import pagerank
    from terminus_server_spark.streaming.events import (
        run_stream_pagerank,
        run_stream_pagerank_cdc,
    )

    edges = [(1, 2), (2, 3), (3, 1), (3, 3), (2, 4)]
    plain = spark.createDataFrame(edges, "src long, dst long")
    ops = spark.createDataFrame(
        [("add", a, b) for a, b in edges], "op string, src long, dst long"
    )
    ranks = lambda df: {r.node: r.rank for r in df.collect()}
    batch = ranks(pagerank(plain, iters=3))
    assert abs(batch[3] - 0.2116171875) < 1e-12
    assert ranks(run_stream_pagerank(spark, [plain], cold_iters=3)) == batch
    assert ranks(run_stream_pagerank_cdc(spark, [ops], cold_iters=3)) == batch


def test_stream_inverted_index_cross_batch_key_collisions(spark):
    """The delta-sized merge must bump tf for (tok, doc_id) keys
    re-delivered in later batches (broadcast-left-join path) AND
    append genuinely new keys — the registry fixture splits by doc_id
    so its batches never collide; this pins the collision path."""
    from terminus_server_spark.streaming.events import (
        run_stream_inverted_index,
    )

    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma")], schema
    )
    # doc 1 re-appears with more text (same key (alpha,1) collides;
    # (delta,1) is new); doc 3 is entirely new
    b2 = spark.createDataFrame(
        [(1, "alpha delta"), (3, "gamma gamma epsilon")], schema
    )
    got = {
        (r.tok, r.doc_id): (r.tf, r.df, r.cf)
        for r in run_stream_inverted_index(spark, [b1, b2]).collect()
    }
    # batch-split-invariant: identical to indexing the concatenation
    want = {
        ("alpha", 1): (3, 1, 3),
        ("beta", 1): (1, 2, 2),
        ("beta", 2): (1, 2, 2),
        ("gamma", 2): (1, 2, 3),
        ("gamma", 3): (2, 2, 3),
        ("delta", 1): (1, 1, 1),
        ("epsilon", 3): (1, 1, 1),
    }
    assert got == want


def test_stream_state_partitions_leave_caller_conf(spark):
    """A harness that pins a query's state partitions builds the query
    in a cloned session: the caller's conf reads its own width while
    the query is built, the query reports the pinned count, and the
    answer comes back bound to the caller."""
    import json

    from terminus_server_spark.streaming.events import (
        run_stream_batches_to_table,
    )

    seen = []

    def transform(stream):
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        return stream.groupBy("k").count()

    b = spark.createDataFrame([(1,), (2,), (1,)], "k long")
    out, progresses = run_stream_batches_to_table(
        spark, [b, b], transform, "tss_conf_scope",
        output_mode="complete", shuffle_partitions=4,
    )
    assert seen == ["8"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    parts = {
        so["numShufflePartitions"]
        for p in progresses
        for so in json.loads(p.json)["stateOperators"]
    }
    assert parts == {4}
    assert out.sparkSession is spark
    assert sorted(map(tuple, out.collect())) == [(1, 4), (2, 2)]


def test_stream_harnesses_leave_only_the_answer(spark, tmp_path, monkeypatch):
    """Harness directories live under the temp dir and are removed
    once the query has ended: a memory-sink replay leaves nothing, and
    a versioned-state sink leaves only the files its answer reads."""
    import os
    import tempfile
    from urllib.parse import urlparse

    from terminus_server_spark.streaming.events import (
        run_stream_batches_to_table,
        run_stream_cdc,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    b = spark.createDataFrame([(1,), (2,)], "k long")
    out, _ = run_stream_batches_to_table(spark, [b, b], lambda s: s, "tss_hygiene")
    assert out.count() == 4
    assert list(tmp_path.iterdir()) == []

    schema = "k long, v string, op string, seq long"
    b1 = spark.createDataFrame([(1, "a", "I", 1), (2, "b", "I", 2)], schema)
    b2 = spark.createDataFrame([(1, "c", "U", 3), (2, None, "D", 4)], schema)
    got = run_stream_cdc(spark, [b1, b2], ["k"])
    answer = {urlparse(f).path for f in got.inputFiles()}
    left = {str(f) for f in tmp_path.rglob("*") if f.is_file()}
    assert answer and answer <= left
    assert {os.path.dirname(f) for f in left} == {os.path.dirname(f) for f in answer}
    assert sorted(map(tuple, got.collect())) == [(1, "c")]


def test_bpe_fold_rewrite_matches_python_greedy(spark):
    """The aggregate-fold rewrite must reproduce greedy left-to-right
    non-overlapping merging exactly, including runs of a self-pair
    (island parity) and merged tokens as pair members in later
    rounds."""
    from pyspark.sql import functions as F

    from terminus_server_spark.operators.bpe import (
        _chars_col,
        _merged_syms_col,
    )

    def py_greedy(syms, a, b):
        out, lm = [], False
        for s in syms:
            if not lm and out and out[-1] == a and s == b:
                out[-1] = a + b
                lm = True
            else:
                out.append(s)
                lm = False
        return out

    cases = [
        ("aaaa", "a", "a"),       # island parity: (aa)(aa)
        ("aaa", "a", "a"),        # (aa)a
        ("ababab", "a", "b"),     # three disjoint merges
        ("aab", "a", "b"),        # match mid-word
        ("xyx", "x", "y"),        # single merge then tail
        ("zzz", "a", "b"),        # no match at all
        ("a", "a", "a"),          # single-symbol word
    ]
    rows = [(w, a, b) for (w, a, b) in cases]
    df = spark.createDataFrame(rows, "word string, ba string, bb string")
    got = {
        r.word: list(r.merged)
        for r in df.withColumn("syms", _chars_col("word"))
        .select("word", _merged_syms_col("syms", "ba", "bb").alias("merged"))
        .collect()
    }
    for w, a, b in cases:
        assert got[w] == py_greedy(list(w), a, b), (w, a, b)
