import pytest



def test_merge_readd_of_base_row_does_not_duplicate(spark):
    """A branch 'add' of a triple already present in base (no opposing
    del, so no conflict) must keep set semantics — exactly one row in
    the merged result, matching the reference's layer model."""
    from pyspark.sql import functions as F

    from terminus_server_spark.versioning.layers import merge_branches

    key = ["graph", "subject", "predicate", "obj"]
    base = spark.createDataFrame(
        [("g", "s1", "p", "v1"), ("g", "s2", "p", "v2")],
        "graph string, subject string, predicate string, obj string",
    )
    left = spark.createDataFrame(
        [("add", "g", "s1", "p", "v1")],  # re-add of an existing base row
        "op string, graph string, subject string, predicate string, obj string",
    )
    right = spark.createDataFrame(
        [("add", "g", "s3", "p", "v3")],
        "op string, graph string, subject string, predicate string, obj string",
    )
    merged, conflicts = merge_branches(base, left, right, key)
    assert conflicts.count() == 0
    rows = sorted(map(tuple, merged.collect()))
    assert rows == [
        ("g", "s1", "p", "v1"),
        ("g", "s2", "p", "v2"),
        ("g", "s3", "p", "v3"),
    ]
    assert merged.groupBy(*key).count().where(F.col("count") > 1).count() == 0


def test_push_pack_is_minimal_and_pull_fast_forwards(spark):
    """Push ships only the layers above the remote's head (zero rows
    when up to date); a pull with no local divergence is a pure
    fast-forward — merged state equals the remote's head state with
    an empty conflict report."""
    from pyspark.sql import functions as F

    from terminus_server_spark.versioning.layers import materialize
    from terminus_server_spark.versioning.remote import clone_store, pull, push

    key = ["k", "v"]
    local = spark.createDataFrame(
        [
            (1, "a", "add", 1, "x"),
            (1, "a", "add", 2, "y"),
            (2, "b", "del", 1, "x"),
            (2, "b", "add", 3, "z"),
            (3, "c", "add", 4, "w"),
        ],
        "commit_seq int, commit_id string, op string, k int, v string",
    )
    remote = local.where(F.col("commit_seq") <= 2)
    new_remote, pack = push(local, remote, remote_head_seq=2)
    assert pack.count() == 1 and pack.collect()[0].commit_id == "c"
    assert new_remote.count() == local.count()
    # push against an up-to-date remote ships nothing
    _, empty_pack = push(local, new_remote, remote_head_seq=3)
    assert empty_pack.count() == 0
    # fast-forward pull: stale clone (head 1) pulls the rest
    stale = local.where(F.col("commit_seq") <= 1)
    merged, conflicts = pull(stale, local, base_seq=1, key_cols=key)
    assert conflicts.count() == 0
    want = sorted(
        (r.k, r.v) for r in materialize(local, 3, key).select("k", "v").collect()
    )
    assert sorted((r.k, r.v) for r in merged.select("k", "v").collect()) == want
    # clone carries the complete layer set
    assert sorted(map(tuple, clone_store(local).collect())) == sorted(
        map(tuple, local.collect())
    )


def test_commit_dag_log_walk_min_depth(spark):
    from terminus_server_spark.versioning.dag import log_from, log_walk

    # diamond on top of a chain: f <- e <- d(merge of b,c) ; b,c <- a
    commits = spark.createDataFrame(
        [
            ("a", [], "u", "root", None),
            ("b", ["a"], "u", "left", None),
            ("c", ["a"], "u", "right", None),
            ("d", ["b", "c"], "u", "merge", None),
            ("e", ["d"], "u", "next", None),
            ("f", ["e"], "u", "head", None),
        ],
        "commit_id string, parent_ids array<string>, author string, "
        "message string, committed_at timestamp_ntz",
    )
    depths = {r["commit_id"]: r["depth"] for r in log_walk(commits, "f").collect()}
    assert depths == {"f": 0, "e": 1, "d": 2, "b": 3, "c": 3, "a": 4}
    # walk from an interior ref sees only its ancestors
    assert {r["commit_id"] for r in log_walk(commits, "b").collect()} == {"b", "a"}
    # metadata join: merge commit reports both parents
    log = {r["commit_id"]: r["n_parents"] for r in log_from(commits, "f").collect()}
    assert log["d"] == 2 and log["a"] == 0


def test_apply_and_cherry_pick(spark):
    from pyspark.sql import functions as F

    from terminus_server_spark.versioning.layers import (
        apply_as_commit,
        cherry_pick,
        diff_rows,
        materialize,
        reset,
    )

    key = ["k"]
    layers = spark.createDataFrame(
        [
            (1, "a", "add", 1, "x"),
            (1, "a", "add", 2, "y"),
            (2, "b", "del", 1, "x"),
            (2, "b", "add", 3, "z"),
            (3, "c", "add", 4, "w"),
        ],
        "commit_seq int, commit_id string, op string, k int, v string",
    )
    # diff(c3 -> c1) re-adds k=1 and removes k=3,4
    d = diff_rows(layers, 3, 1, key)
    got = {(r.op, r.k) for r in d.collect()}
    assert got == {("added", 1), ("removed", 3), ("removed", 4)}
    # applied onto a branch at c2 (state {2,3}): -> {2, 1}
    applied = apply_as_commit(reset(layers, 2), d, 10, "applied")
    state = materialize(applied, 99, key)
    assert {(r.k, r.commit_id) for r in state.select("k", "commit_id").collect()} == {
        (2, "a"),
        (1, "applied"),
    }
    # cherry-pick c3 onto a branch at c1 skips c2's delete entirely
    picked = cherry_pick(reset(layers, 1), layers, 3, 5, "picked")
    state2 = materialize(picked, 99, key)
    assert {r.k for r in state2.collect()} == {1, 2, 4}
    assert (
        state2.where(F.col("k") == 4).collect()[0].commit_id == "picked"
    )


@pytest.mark.parametrize("walk", ["driver", "distributed"])
def test_log_walk_covers_a_long_linear_history(spark, monkeypatch, walk):
    """The ancestor walk reaches the root of a 1,200-commit chain, on
    the driver BFS and on the distributed semi-naive loop alike — no
    depth cap truncates the history."""
    from terminus_server_spark.operators import path
    from terminus_server_spark.versioning import dag

    if walk == "distributed":
        monkeypatch.setattr(path, "_DRIVER_LIMIT", 0)
    n = 1200
    ids = [f"c{i:04d}" for i in range(n)]
    commits = spark.createDataFrame(
        [(c, [ids[i - 1]] if i else []) for i, c in enumerate(ids)],
        "commit_id string, parent_ids array<string>",
    )
    depths = {r.commit_id: r.depth for r in dag.log_walk(commits, ids[-1]).collect()}
    assert depths == {c: n - 1 - i for i, c in enumerate(ids)}


def test_distributed_walks_match_driver_walks(spark, monkeypatch):
    """log_walk, reachable_commits and merge_base give the same answer
    on the distributed loop as on the driver BFS (merges included)."""
    from terminus_server_spark.operators import path
    from terminus_server_spark.versioning import dag

    commits = spark.createDataFrame(
        [
            ("a", []), ("b", ["a"]), ("c", ["a"]), ("d", ["b", "c"]),
            ("e", ["d"]), ("x", ["c"]), ("y", ["x"]),
        ],
        "commit_id string, parent_ids array<string>",
    )

    def answers():
        return (
            sorted(map(tuple, dag.log_walk(commits, "e").collect())),
            sorted(r.commit_id for r in dag.reachable_commits(commits, ["e", "y"]).collect()),
            [tuple(r) for r in dag.merge_base(commits, "e", "y").collect()],
        )

    driver = answers()
    monkeypatch.setattr(path, "_DRIVER_LIMIT", 0)
    assert answers() == driver
    assert driver[2] == [("c", 2, 2)]


def test_gc_commits_orphan_chain(spark):
    from terminus_server_spark.versioning.dag import gc_commits, reachable_commits

    commits = spark.createDataFrame(
        [("a", []), ("b", ["a"]), ("c", ["b"]), ("x", ["a"]), ("y", ["x"])],
        "commit_id string, parent_ids array<string>",
    )
    # two refs: both chains live
    live = {r.commit_id for r in reachable_commits(commits, ["c", "y"]).collect()}
    assert live == {"a", "b", "c", "x", "y"}
    # drop the feature ref: x,y become garbage
    out = {r.commit_id: r.status for r in gc_commits(commits, {"main": "c"}).collect()}
    assert out == {"a": "kept", "b": "kept", "c": "kept", "x": "dropped", "y": "dropped"}


def test_maintain_rollup_matches_recompute_and_drops_empty_groups(spark):
    from pyspark.sql import functions as F

    from terminus_server_spark.versioning.layers import maintain_rollup, materialize

    layers = spark.createDataFrame(
        [
            # seq 1: group a = {k1: 10, k2: 20}, group b = {k3: 5}
            (1, "c1", "add", "k1", "a", 10.0),
            (1, "c1", "add", "k2", "a", 20.0),
            (1, "c1", "add", "k3", "b", 5.0),
            # seq 2: update k1 (del+add), delete all of group b
            (2, "c2", "del", "k1", "a", 10.0),
            (2, "c2", "add", "k1", "a", 15.0),
            (2, "c2", "del", "k3", "b", 5.0),
            # seq 3: new group c
            (3, "c3", "add", "k4", "c", 7.0),
        ],
        "commit_seq int, commit_id string, op string, k string, g string, val double",
    )
    base = (
        materialize(layers, 1, ["k"])
        .groupBy(F.col("g").alias("g"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("val").cast("decimal(28,6)")).alias("sum_val"),
        )
    )
    out = maintain_rollup(base, layers, 1, 3, F.col("g"), "val", "g")
    got = {r.g: (r.n, float(r.sum_val)) for r in out.collect()}
    # recompute ground truth at seq 3: a={k1:15,k2:20}, b gone, c={k4:7}
    assert got == {"a": (2, 35.0), "c": (1, 7.0)}
    assert "b" not in got


def test_merge_base_criss_cross_tie_break(spark):
    import datetime

    from terminus_server_spark.versioning.dag import merge_base

    # criss-cross: both x and y are common ancestors at equal combined
    # distance; the deterministic tie-break picks the lower id
    d = datetime.datetime(2024, 1, 1)
    commits = spark.createDataFrame(
        [
            ("r", [], "a", "root", d),
            ("x", ["r"], "a", "x", d),
            ("y", ["r"], "a", "y", d),
            ("h1", ["x", "y"], "a", "head1", d),
            ("h2", ["x", "y"], "a", "head2", d),
        ],
        "commit_id string, parent_ids array<string>, author string,"
        " message string, committed_at timestamp_ntz",
    )
    r = merge_base(commits, "h1", "h2").collect()[0]
    assert r.merge_base == "x" and r.depth_a == 1 and r.depth_b == 1


def test_patch_ids_order_and_position_invariant(spark):
    from pyspark.sql import functions as F

    from terminus_server_spark.versioning.layers import patch_ids

    rows_a = [(1, "ca", "add", 10), (1, "ca", "add", 11), (1, "ca", "del", 12)]
    # same change, different seq/commit/row-order
    rows_b = [(9, "cb", "del", 12), (9, "cb", "add", 11), (9, "cb", "add", 10)]
    rows_c = [(3, "cc", "add", 10), (3, "cc", "add", 11)]  # different change
    df = spark.createDataFrame(
        rows_a + rows_b + rows_c,
        "commit_seq int, commit_id string, op string, k long",
    )
    ids = {r["commit_id"]: r["patch_id"] for r in patch_ids(df, ["k"]).collect()}
    assert ids["ca"] == ids["cb"]
    assert ids["ca"] != ids["cc"]


def test_bisect_probe_count_and_not_found(spark):
    from terminus_server_spark.versioning.layers import bisect_first_bad

    layers = spark.createDataFrame(
        [(s, f"c{s}", "add", s) for s in range(1, 9)],
        "commit_seq int, commit_id string, op string, k long",
    )
    # bad once state holds >= 6 keys -> first bad seq 6
    seq, probes = bisect_first_bad(
        layers, ["k"], lambda st: st.count() >= 6, 1, 8
    )
    assert seq == 6
    assert probes <= 4  # ceil(log2(8+1)) binary-search bound
    # predicate never fires -> hi+1
    seq2, _ = bisect_first_bad(layers, ["k"], lambda st: False, 1, 8)
    assert seq2 == 9


def test_verify_integrity_flags_parent_tamper(spark):
    from pyspark.sql import functions as F

    from terminus_server_spark.versioning.layers import patch_ids, verify_integrity

    layers = spark.createDataFrame(
        [(1, "c1", "add", 1), (2, "c2", "add", 2)],
        "commit_seq int, commit_id string, op string, k long",
    )
    ids = patch_ids(layers, ["k"])
    meta = spark.createDataFrame(
        [("c1", []), ("c2", ["c1"])], "commit_id string, parents array<string>"
    )
    good = meta.join(ids, "commit_id").select(
        "commit_id",
        "parents",
        F.md5(
            F.concat_ws(
                "|",
                F.col("commit_id"),
                F.concat_ws(",", F.sort_array("parents")),
                F.col("patch_id").cast("string"),
            )
        ).alias("stored_hash"),
    )
    ok = {r["commit_id"]: r["ok"] for r in verify_integrity(good, ids).collect()}
    assert ok == {"c1": True, "c2": True}
    # rewrite c2's parent pointer without recomputing the hash
    tampered = good.withColumn(
        "parents",
        F.when(F.col("commit_id") == "c2", F.array(F.lit("c0"))).otherwise(
            F.col("parents")
        ),
    )
    ok2 = {r["commit_id"]: r["ok"] for r in verify_integrity(tampered, ids).collect()}
    assert ok2 == {"c1": True, "c2": False}



def test_reflog_and_shallow_clone(spark):
    from pyspark.sql import functions as F

    from terminus_server_spark.versioning.layers import (
        materialize,
        reflog_positions,
        shallow_clone,
    )

    reflog = spark.createDataFrame(
        [("main", 1, "a", "commit"), ("main", 2, "b", "commit"),
         ("main", 3, "a", "reset")],
        "ref string, move_seq int, commit_id string, action string",
    )
    pos = {r["moves_ago"]: r["commit_id"] for r in reflog_positions(reflog).collect()}
    assert pos == {0: "a", 1: "b", 2: "a"}

    layers = spark.createDataFrame(
        [(1, "c1", "add", 1), (2, "c2", "add", 2), (2, "c2", "del", 1),
         (3, "c3", "add", 3), (4, "c4", "add", 4)],
        "commit_seq int, commit_id string, op string, k long",
    )
    sh = shallow_clone(layers, ["k"], head_seq=4, depth=1)
    # graft correctness: head state identical to the full stack's
    full = sorted(r["k"] for r in materialize(layers, 4, ["k"]).collect())
    grafted = sorted(r["k"] for r in materialize(sh, 4, ["k"]).collect())
    assert full == grafted == [2, 3, 4]
    assert sh.select("commit_id").distinct().count() == 2  # base + c4


def test_merge_octopus_first_wins_and_conflicts(spark):
    from pyspark.sql import functions as F

    from terminus_server_spark.versioning.layers import merge_octopus

    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    b1 = spark.createDataFrame([("del", 1, "a")], "op string, k long, v string")
    b2 = spark.createDataFrame(
        [("add", 1, "a2"), ("add", 4, "d")], "op string, k long, v string"
    )
    b3 = spark.createDataFrame(
        [("del", 4, "d"), ("add", 5, "e")], "op string, k long, v string"
    )
    merged, conflicts = merge_octopus(base, [b1, b2, b3], ["k"])
    got = {(r["k"], r["v"]) for r in merged.collect()}
    # k=1: b1 del wins over b2 add; k=4: b2 add wins over b3 del; k=5 added
    assert got == {(2, "b"), (3, "c"), (4, "d"), (5, "e")}
    cf = {(r["k"], r["ops"]) for r in conflicts.collect()}
    assert cf == {(1, "add|del"), (4, "add|del")}


def test_replace_documents_drops_absent_fields(spark):
    from terminus_server_spark.docs.documents import (
        docs_to_triples,
        replace_documents,
    )
    from terminus_server_spark.versioning.layers import apply_delta

    docs = spark.createDataFrame(
        [(1, "hello", 5), (2, "world", 5)], "doc_id long, text string, n long"
    )
    tri = docs_to_triples(docs, "Doc", "doc_id")
    new = spark.createDataFrame([(1, "fr")], "doc_id long, lang string")
    post = apply_delta(tri, replace_documents(tri, new, "Doc", "doc_id"))
    d1 = {
        (r["predicate"], r["obj"])
        for r in post.where("subject = 'Doc/1' AND predicate <> 'rdf:type'").collect()
    }
    assert d1 == {("lang", "fr")}  # text and n vanished
    assert post.where("subject = 'Doc/2' AND predicate = 'text'").count() == 1


def test_doc_merge_three_way_statuses(spark):
    from terminus_server_spark.docs.documents import merge_documents_three_way

    base = spark.createDataFrame(
        [(1, "en", "web"), (2, "fr", "web"), (3, "de", "web"), (4, None, "web")],
        "doc_id long, lang string, source string",
    )
    left = spark.createDataFrame(
        [(1, "en-US", "web"), (2, "fr", "web"), (3, "de-AT", "web"), (4, "xx", "web")],
        "doc_id long, lang string, source string",
    )
    right = spark.createDataFrame(
        [(1, "en", "web"), (2, "fr-CA", "web"), (3, "de-CH", "web"), (4, "xx", "web")],
        "doc_id long, lang string, source string",
    )
    out = {
        (r["doc_id"], r["field"]): (r["status"], r["merged_v"])
        for r in merge_documents_three_way(
            base, left, right, "doc_id", ["lang", "source"]
        ).collect()
    }
    assert out[(1, "lang")] == ("left", "en-US")
    assert out[(2, "lang")] == ("right", "fr-CA")
    assert out[(3, "lang")] == ("conflict", "de")   # both changed differently
    assert out[(4, "lang")] == ("both_same", "xx")  # NULL base, same change
    assert out[(1, "source")] == ("unchanged", "web")
