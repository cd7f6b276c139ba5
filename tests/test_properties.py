"""Property-based tests (hypothesis) for algebraic laws the engine
must uphold regardless of data (SURVEY §5).

Spark jobs are slow per-example, so examples are few but each drives
a whole generated dataset through one plan; deadlines are off
(cluster scheduling jitter would otherwise flake).
"""

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

node_ids = st.integers(min_value=0, max_value=15)
edge_lists = st.lists(
    st.tuples(node_ids, node_ids).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
    unique=True,
)


def _py_closure(edges):
    reach = set(edges)
    while True:
        grown = reach | {(a, d) for a, b in reach for c, d in edges if b == c}
        if grown == reach:
            return reach
        reach = grown


@settings(**SETTINGS)
@given(edge_lists)
def test_transitive_closure_matches_python_oracle(spark, edges):
    from terminus_server_spark.operators.path import transitive_closure

    df = spark.createDataFrame(edges, "src int, dst int")
    got = {(r.src, r.dst) for r in transitive_closure(df).collect()}
    assert got == _py_closure(edges)


@settings(**SETTINGS)
@given(edge_lists, node_ids)
def test_anchored_closure_matches_python_oracle(spark, edges, anchor):
    """The anchored closure is the full closure filtered on its anchor,
    on the driver walk and on the distributed loop alike."""
    from unittest import mock

    from terminus_server_spark.operators import path

    df = spark.createDataFrame(edges, "src int, dst int")
    want = {e for e in _py_closure(edges) if e[0] == anchor}
    for limit in (path._DRIVER_LIMIT, 0):
        with mock.patch.object(path, "_DRIVER_LIMIT", limit):
            got = {(r.src, r.dst) for r in path.anchored_closure(df, [anchor]).collect()}
        assert got == want, limit


@settings(**SETTINGS)
@given(edge_lists)
def test_components_partition_the_node_set(spark, edges):
    from terminus_server_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "src int, dst int")
    rows = connected_components(df).collect()
    nodes = {n for e in edges for n in e}
    # every node labelled exactly once, label is a member of the graph,
    # and endpoints of every edge share a component
    assert {r.node for r in rows} == nodes and len(rows) == len(nodes)
    label = {r.node: r.component for r in rows}
    assert all(label[a] == label[b] for a, b in edges)
    assert all(c in nodes for c in label.values())


texts = st.text(
    alphabet=st.sampled_from("abcd "), min_size=12, max_size=60
).filter(lambda s: len(s.split()) >= 3)


@settings(**SETTINGS)
@given(st.lists(texts, min_size=2, max_size=8, unique=True))
def test_exact_duplicate_always_yields_lsh_candidate_pair(spark, docs):
    """Identical docs have identical shingle sets, hence identical
    MinHash signatures, hence share every LSH band."""
    from terminus_server_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    rows = [(i, t) for i, t in enumerate(docs)] + [(1000, docs[0])]  # clone doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(minhash_signatures(shingles(df))).collect()
    }
    assert (0, 1000) in pairs


@settings(**SETTINGS)
@given(st.lists(texts, min_size=1, max_size=6), st.integers(min_value=2, max_value=9))
def test_chunking_partitions_text_exactly_when_stride_equals_size(spark, docs, size):
    """stride == chunk_size ⇒ chunks are a partition: concatenating
    them in order reconstructs each document exactly."""
    from terminus_server_spark.operators.pipeline import chunk_documents

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    out = chunk_documents(df, chunk_size=size, stride=size).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text))
    for i, t in enumerate(docs):
        assert "".join(c for _, c in sorted(by_doc.get(i, []))) == t


@settings(**SETTINGS)
@given(edge_lists)
def test_woql_and_is_commutative(spark, edges):
    """And(p1, p2) ≡ And(p2, p1) as solution sets (join reordering
    must never change semantics)."""
    from terminus_server_spark.model.triples import TripleStore
    from terminus_server_spark.woql import And, Select, Triple, WOQLContext, v

    tri = spark.createDataFrame(
        [("instance", f"N/{a}", "edge", f"N/{b}", "iri", None) for a, b in edges],
        "graph string, subject string, predicate string, obj string, obj_type string, obj_num double",
    )
    ctx = WOQLContext(TripleStore(tri))
    p1 = Triple(v("x"), "edge", v("y"))
    p2 = Triple(v("y"), "edge", v("z"))
    q12 = Select([v("x"), v("y"), v("z")], And(p1, p2))
    q21 = Select([v("x"), v("y"), v("z")], And(p2, p1))
    got12 = {tuple(r) for r in ctx.run(q12).collect()}
    got21 = {tuple(r) for r in ctx.run(q21).collect()}
    assert got12 == got21


@given(edges=edge_lists)
@settings(**SETTINGS)
def test_doubling_closure_equals_frontier_closure(spark, edges):
    from terminus_server_spark.operators.path import (
        transitive_closure,
        transitive_closure_doubling,
    )

    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "src string, dst string"
    )
    a = {(r.src, r.dst, r.hops) for r in transitive_closure(df, with_hops=True).collect()}
    b = {
        (r.src, r.dst, r.hops)
        for r in transitive_closure_doubling(df, with_hops=True).collect()
    }
    assert a == b


@given(edges=edge_lists, k=st.integers(min_value=1, max_value=4))
@settings(**SETTINGS)
def test_kcore_all_degrees_at_least_k(spark, edges, k):
    from terminus_server_spark.operators.graph import kcore

    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "src string, dst string"
    )
    out = kcore(df, k=k, rounds=8).collect()
    # bounded rounds with early fixpoint: surviving nodes all have
    # degree >= k within the surviving subgraph
    assert all(r.degree >= k for r in out)


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.sampled_from(["s1", "s2"]),
            st.text(alphabet="ab ", min_size=1, max_size=40),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda d: d[0],
    ),
    capacity=st.integers(min_value=2, max_value=16),
)
@settings(**SETTINGS)
def test_pack_offsets_within_capacity_and_monotone(spark, docs, capacity):
    from terminus_server_spark.operators.pipeline import pack_sequences

    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    out = pack_sequences(df, capacity=capacity).collect()
    assert len(out) == len(docs)  # every doc lands somewhere
    for r in out:
        assert 0 <= r.bin_offset < capacity
        assert r.bin_id.startswith(r.source + "#")


# nested documents: (name, meta.level, items[].{id, score}, tags[]) —
# meta/items/tags may each be NULL outright (r3 verdict #10: the r2
# patch bug hid exactly in the NULL-list/NULL-struct shapes the old
# strategy never generated)
_doc_strategy = st.lists(
    st.tuples(
        st.integers(0, 7),  # key
        st.sampled_from(["a", "b", "c", None]),  # name
        st.one_of(st.none(), st.integers(0, 3)),  # meta.level (None = NULL meta)
        st.one_of(
            st.none(),
            st.lists(
                st.tuples(st.integers(0, 5), st.floats(0, 10, width=16)), max_size=3
            ),
        ),
        st.one_of(
            st.none(),
            st.lists(st.sampled_from(["x", "y", "z"]), max_size=3, unique=True),
        ),
    ),
    max_size=6,
    unique_by=lambda r: r[0],
)


def _mk_docs(spark, rows):
    return spark.createDataFrame(
        [
            (
                k,
                n,
                None if lv is None else (lv,),
                None if items is None else [(i, s) for i, s in items],
                tags,
            )
            for k, n, lv, items, tags in rows
        ],
        "key bigint, name string, meta struct<level:bigint>, "
        "items array<struct<id:bigint, score:double>>, tags array<string>",
    )


@settings(**SETTINGS)
@given(_doc_strategy, _doc_strategy)
def test_nested_patch_roundtrip_property(spark, old_rows, new_rows):
    """patch(old, diff(old, new)) flattens equal to new for every key
    present in old — for ANY pair of document corpora, list and set
    semantics alike."""
    from terminus_server_spark.docs.patch import (
        doc_diff_nested,
        doc_patch_nested,
        flatten_documents,
    )

    old, new = _mk_docs(spark, old_rows), _mk_docs(spark, new_rows)
    for set_paths in ((), ("tags",)):
        d = doc_diff_nested(old, new, "key", set_paths=set_paths)
        patched = flatten_documents(
            doc_patch_nested(old, d, "key", set_paths=set_paths),
            "key",
            set_paths=set_paths,
        )
        want = flatten_documents(
            new.join(old.select("key"), "key", "left_semi"), "key", set_paths=set_paths
        )
        assert sorted(map(tuple, patched.collect())) == sorted(
            map(tuple, want.collect())
        )


_layer_rows = st.lists(
    st.tuples(
        st.integers(1, 4),  # commit_seq
        st.sampled_from(["add", "del"]),
        st.integers(0, 9),  # entity key
        st.integers(0, 3),  # payload
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda r: (r[0], r[2]),  # one op per (commit, key)
)


def _py_materialize(rows, at_seq):
    latest = {}
    for seq, op, k, v in sorted(rows):
        if seq <= at_seq:
            latest[k] = (seq, op, v)
    return {(k, v) for k, (seq, op, v) in latest.items() if op == "add"}


@settings(**SETTINGS)
@given(_layer_rows, st.integers(1, 4))
def test_versioning_laws_property(spark, rows, at_seq):
    """materialize matches a python oracle; squash preserves state;
    diff(a, a) is empty — for ANY generated layer stack."""
    from terminus_server_spark.versioning.layers import diff, materialize, squash

    layers = spark.createDataFrame(
        [(seq, f"c{seq}", op, k, v) for seq, op, k, v in rows],
        "commit_seq int, commit_id string, op string, k int, v int",
    )
    got = {
        (r["k"], r["v"])
        for r in materialize(layers, at_seq, ["k"]).select("k", "v").collect()
    }
    assert got == _py_materialize(rows, at_seq)

    squashed = squash(layers, at_seq, ["k"], "s")
    got_sq = {
        (r["k"], r["v"])
        for r in materialize(squashed, at_seq, ["k"]).select("k", "v").collect()
    }
    assert got_sq == got

    assert diff(layers, at_seq, at_seq, ["k"]).count() == 0


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1,
        max_size=30,
    ),
    st.integers(1, 50),
)
@settings(**SETTINGS)
def test_interval_union_matches_python_oracle(spark, pairs, dur):
    from terminus_server_spark.operators.temporal import interval_union

    rows = [(int(u), int(s) * 1_000_000) for u, s in pairs]
    df = spark.createDataFrame(rows, "user_id bigint, ts bigint")
    got = {
        r.user_id: (r.n_islands, r.covered_s)
        for r in interval_union(df, dur, ["user_id"], ts_col="ts").collect()
    }
    # python oracle: merge [s, s+dur) per user
    want = {}
    by_user = {}
    for u, s_us in rows:
        by_user.setdefault(u, []).append((s_us, s_us + dur * 1_000_000))
    for u, iv in by_user.items():
        iv.sort()
        islands = []
        for s, e in iv:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        want[u] = (len(islands), sum(e - s for s, e in islands) / 1_000_000)
    assert got == want


words = st.sampled_from(["spark", "join", "stream", "the", "fox", "data"])
docs_texts = st.lists(
    st.lists(words, min_size=1, max_size=12).map(" ".join),
    min_size=2,
    max_size=12,
)


@settings(**SETTINGS)
@given(docs_texts)
def test_bm25_matches_python_reference(spark, texts):
    import math

    from terminus_server_spark.operators.retrieval import bm25_topk

    terms = ["spark", "join"]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.bm25 for r in bm25_topk(df, terms, k=len(rows)).collect()}

    toks = {i: t.split() for i, t in rows}
    n = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfreq = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    want = {}
    for i, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(v) / avgdl))
        if round(s, 6) > 0:
            want[i] = round(s, 6)
    assert got == want


@st.composite
def _xsd_durations(draw):
    """One xsd:duration lexical form + its expected shadows.
    Covers negatives, fractional seconds, pure yearMonth, pure
    dayTime, and mixed (both-shadow-NULL) forms."""
    neg = draw(st.booleans())
    y = draw(st.one_of(st.none(), st.integers(0, 40)))
    mo = draw(st.one_of(st.none(), st.integers(0, 30)))
    d = draw(st.one_of(st.none(), st.integers(0, 40)))
    h = draw(st.one_of(st.none(), st.integers(0, 40)))
    mi = draw(st.one_of(st.none(), st.integers(0, 99)))
    s_int = draw(st.one_of(st.none(), st.integers(0, 99)))
    s_frac = draw(st.one_of(st.none(), st.integers(0, 99)))
    if (y, mo, d, h, mi, s_int) == (None,) * 6:
        y = draw(st.integers(0, 40))  # at least one part
    s_lex = None
    s_val = None
    if s_int is not None:
        s_lex = str(s_int) if s_frac is None else f"{s_int}.{s_frac:02d}"
        s_val = float(s_lex)
    lex = ("-" if neg else "") + "P"
    lex += f"{y}Y" if y is not None else ""
    lex += f"{mo}M" if mo is not None else ""
    lex += f"{d}D" if d is not None else ""
    if h is not None or mi is not None or s_lex is not None:
        lex += "T"
        lex += f"{h}H" if h is not None else ""
        lex += f"{mi}M" if mi is not None else ""
        lex += f"{s_lex}S" if s_lex is not None else ""
    sign = -1.0 if neg else 1.0
    ym_bearing = y is not None or mo is not None
    dt_bearing = any(v is not None for v in (d, h, mi, s_val))
    exp_sec = (
        None
        if ym_bearing
        else sign * ((d or 0) * 86400.0 + (h or 0) * 3600.0 + (mi or 0) * 60.0 + (s_val or 0.0))
    )
    exp_months = None if dt_bearing else sign * (12.0 * (y or 0) + (mo or 0))
    return (lex, exp_sec, exp_months)


@settings(**SETTINGS)
@given(st.lists(_xsd_durations(), min_size=1, max_size=15, unique_by=lambda t: t[0]))
def test_duration_roundtrip_and_shadow_invariants(spark, durs):
    """import∘export identity through N-Triples for xsd:duration
    lexical forms, plus the shadow laws: duration_seconds is the
    signed total-seconds exactly for day/time-only forms (NULL iff
    year/month-bearing), duration_months the signed month count
    exactly for yearMonth-only forms (NULL iff day/time-bearing) —
    the invariant pair that would have caught the P1M-as-60-seconds
    bug a round earlier."""
    from terminus_server_spark.model.triples import (
        duration_months,
        from_ntriples,
        to_ntriples,
    )

    base = "http://example.org/"
    rows = [(f"D/{i}", "dur", lex, "xsd:duration", None) for i, (lex, _, _) in enumerate(durs)]
    trips = spark.createDataFrame(
        rows, "subject string, predicate string, obj string, obj_type string, obj_lang string"
    )
    lines = to_ntriples(trips, base=base).select("line")
    back = from_ntriples(lines, base=base).select(
        "subject", "obj", "obj_type", "obj_num", duration_months(F.col("obj")).alias("obj_mo")
    )
    got = {r.subject: r for r in back.collect()}
    assert len(got) == len(durs)
    for i, (lex, exp_sec, exp_months) in enumerate(durs):
        r = got[f"D/{i}"]
        assert r.obj == lex and r.obj_type == "xsd:duration"
        assert r.obj_num == exp_sec, (lex, r.obj_num, exp_sec)
        assert r.obj_mo == exp_months, (lex, r.obj_mo, exp_months)


@st.composite
def _cdc_ops(draw):
    key = draw(st.integers(0, 9))
    op = draw(st.sampled_from(["I", "U", "D"]))
    price = None if op == "D" else float(draw(st.integers(1, 999)))
    return (key, op, price)


@settings(**SETTINGS)
@given(
    st.lists(st.tuples(st.integers(0, 9), st.integers(1, 999)), max_size=8, unique_by=lambda t: t[0]),
    st.lists(_cdc_ops(), min_size=1, max_size=20),
)
def test_cdc_apply_matches_sequential_replay(spark, base_rows, ops):
    """cdc_apply (newest-op-per-key merge) must equal replaying the
    ops one by one onto a Python dict."""
    from terminus_server_spark.sources import cdc_apply

    table = {k: float(v) for k, v in base_rows}
    for k, op, price in ops:
        if op == "D":
            table.pop(k, None)
        else:
            table[k] = price

    base = spark.createDataFrame(
        [(k, float(v)) for k, v in base_rows] or [(None, None)],
        "k long, price double",
    ).where(F.col("k").isNotNull())
    cdc = spark.createDataFrame(
        [(k, op, price, i) for i, (k, op, price) in enumerate(ops)],
        "k long, op string, price double, seq int",
    )
    got = {r.k: r.price for r in cdc_apply(base, cdc, ["k"]).collect()}
    assert got == table


@settings(**SETTINGS)
@given(st.lists(st.binary(min_size=0, max_size=40), min_size=1, max_size=12))
def test_sniff_headers_total_on_arbitrary_bytes(spark, blobs):
    """Header sniffing must be TOTAL: any byte blob (including empty
    and truncated headers) classifies without error, and only exact
    magic prefixes earn a media mime."""
    from terminus_server_spark.operators.multimodal import sniff_headers

    df = spark.createDataFrame(
        list(enumerate(blobs)), "doc_id long, payload binary"
    )
    rows = sniff_headers(df).collect()
    assert len(rows) == len(blobs)
    magic = {
        "image/png": bytes.fromhex("89504E470D0A1A0A"),
        "image/gif": b"GIF89a",
        "audio/wav": b"RIFF",
        "image/jpeg": bytes.fromhex("FFD8FF"),
    }
    for r in rows:
        blob = blobs[r.doc_id]
        if r.mime in magic:
            assert blob.startswith(magic[r.mime])
        else:
            assert r.mime == "application/octet-stream"
            assert r.width is None and r.sample_rate is None


_pred_names = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,6}", fullmatch=True)


def _path_patterns():
    from terminus_server_spark.woql import path_ast as P

    leaves = st.one_of(
        _pred_names.map(P.Pred),
        _pred_names.map(P.Inv),
        st.just(P.Any()),
    )

    def compound(children):
        two = st.lists(children, min_size=2, max_size=3)
        return st.one_of(
            two.map(lambda ps: P.Seq(*ps)),
            two.map(lambda ps: P.OrP(*ps)),
            children.map(P.Plus),
            children.map(P.Star),
            st.tuples(
                children,
                st.integers(min_value=0, max_value=3),
                st.integers(min_value=1, max_value=4),
            ).map(lambda t: P.Times(t[0], min(t[1], t[2]), max(t[1], t[2]))),
        )

    return st.recursive(leaves, compound, max_leaves=8)


@settings(max_examples=200, deadline=None)
@given(_path_patterns())
def test_path_string_roundtrip(pattern):
    """parse(render(p)) == p for every path-regex AST the textual
    syntax can express (the generator emits default closure
    strategies — the strategy field is an execution hint the grammar
    has no spelling for, and rendering normalizes it).  Pure
    driver-side parsing, no Spark, so examples are cheap."""
    from terminus_server_spark.woql.path_ast import (
        parse_path_string,
        render_path_string,
    )

    rendered = render_path_string(pattern)
    assert parse_path_string(rendered) == pattern


@settings(max_examples=500, deadline=None)
@given(st.floats(min_value=1e-6, max_value=1.0, allow_nan=False))
def test_threshold_ratio_sound_and_tight(t):
    """The prefix-filter threshold rational must be SOUND (p/q <= t,
    so a smaller effective threshold only enlarges the candidate set
    — losslessness) and TIGHT (within 1e-6, so the extra candidates
    stay negligible), with q bounded so every length-filter product
    stays deep inside int64.  Pure driver-side arithmetic."""
    from fractions import Fraction

    from terminus_server_spark.operators.dedup import _threshold_ratio

    p, q = _threshold_ratio(t)
    assert 1 <= q <= 1_000_000
    assert Fraction(p, q) <= Fraction(t)
    assert t - p / q <= 1e-6  # equality only at the grid floor (t ~ q^-1)


# --- sys:JSON laws -----------------------------------------------------

_json_scalars = st.one_of(
    st.integers(min_value=-1000, max_value=1000),
    st.booleans(),
    st.none(),
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x7F
        ),
        max_size=6,
    ),
)
_json_keys = st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122),
    min_size=1,
    max_size=5,
)
_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(_json_keys, children, max_size=4),
    ),
    max_leaves=12,
)
_json_docs = st.lists(
    st.dictionaries(_json_keys, _json_values, max_size=4),
    min_size=1,
    max_size=5,
)


@settings(**SETTINGS)
@given(_json_docs)
def test_json_leaves_assemble_roundtrip_law(spark, docs):
    """assemble(leaves(x)) == canonical_json(x) for ARBITRARY
    generated JSON documents (nested objects/arrays, nulls, empty
    containers, unicode-free keys per the path grammar) — the
    flattener and the assembler are mutual inverses on the canonical
    form."""
    import json as _json

    from terminus_server_spark.docs.json_docs import (
        canonical_json,
        json_leaf_assemble,
        json_leaves,
    )

    rows = [(i, _json.dumps(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, j string")
    asm = json_leaf_assemble(json_leaves(df, "doc_id", "j"), "id")
    want = df.select(
        F.col("doc_id").alias("id"), canonical_json("j").alias("w")
    )
    bad = asm.join(want, "id").where(F.col("json") != F.col("w")).collect()
    assert bad == [], bad


@settings(**SETTINGS)
@given(_json_docs, _json_docs)
def test_json_diff_patch_roundtrip_law(spark, olds, news):
    """patch(old, diff(old, new)) == canonical(new) for arbitrary
    generated old/new JSON pairs (aligned by index; unequal list
    lengths exercise whole-document add/remove through the leaf
    grain)."""
    import json as _json

    from terminus_server_spark.docs.json_docs import (
        canonical_json,
        json_field_diff,
        json_field_patch,
    )

    n = min(len(olds), len(news))
    if n == 0:
        return
    old_df = spark.createDataFrame(
        [(i, _json.dumps(olds[i])) for i in range(n)], "doc_id long, j string"
    )
    new_df = spark.createDataFrame(
        [(i, _json.dumps(news[i])) for i in range(n)], "doc_id long, j string"
    )
    d = json_field_diff(old_df, new_df, "doc_id", "j")
    got = json_field_patch(old_df, d, "doc_id", "j")
    want = new_df.select(
        F.col("doc_id").alias("id"), canonical_json("j").alias("w")
    )
    bad = got.join(want, "id").where(F.col("json") != F.col("w")).collect()
    assert bad == [], bad


# sparse arrays: interior holes anywhere, but the LAST element
# non-null (dense reassembly cannot recover trailing holes — the
# documented sparse-storage trim)
sparse_arrays = st.lists(
    st.lists(
        st.one_of(st.none(), st.integers(min_value=-99, max_value=99)),
        min_size=0,
        max_size=6,
    ).map(
        lambda xs: xs[
            : max((i + 1 for i, v in enumerate(xs) if v is not None), default=0)
        ]
    ),
    min_size=1,
    max_size=8,
)


@settings(**SETTINGS)
@given(sparse_arrays)
def test_array_triples_roundtrip_property(spark, arrays):
    """array_to_triples ∘ triples_to_array is the identity on 1-D
    arrays with no trailing holes; empty arrays store nothing and
    drop out of the reassembled frame."""
    from terminus_server_spark.docs.arrays import (
        array_to_triples,
        triples_to_array,
    )

    rows = [(i, xs) for i, xs in enumerate(arrays)]
    docs = spark.createDataFrame(rows, "doc_id long, xs array<bigint>")
    tri = array_to_triples(docs, "D", "doc_id", "xs", dims=1)
    back = {
        r.subject: list(r.xs)
        for r in triples_to_array(tri, "xs", 1, "bigint").collect()
    }
    want = {
        f"D/{i}": xs
        for i, xs in rows
        if any(v is not None for v in xs)
    }
    assert back == want


@settings(**SETTINGS)
@given(sparse_arrays, sparse_arrays)
def test_array_patch_roundtrip_property(spark, old_arrays, new_arrays):
    """array_patch(old, array_diff(old, new)) == new for 1-D arrays
    with no trailing holes.  All-null/empty new arrays are INCLUDED:
    the triple-store convention trims them to empty, and the patched
    document keeps its key with an empty array (r10 advice pinned:
    no silent document drop)."""
    from terminus_server_spark.docs.arrays import array_diff, array_patch

    n = min(len(old_arrays), len(new_arrays))
    old_rows = [(i, old_arrays[i]) for i in range(n)]
    new_rows = [(i, new_arrays[i]) for i in range(n)]
    if not new_rows:
        return
    old = spark.createDataFrame(old_rows, "doc_id long, xs array<bigint>")
    new = spark.createDataFrame(new_rows, "doc_id long, xs array<bigint>")
    d = array_diff(old, new, "doc_id", "xs")
    got = {
        r.doc_id: list(r.xs)
        for r in array_patch(old, d, "doc_id", "xs").collect()
    }
    # expected = new under the trailing-null trim (all-null -> []);
    # interior nulls survive as holes up to the last non-null
    def trim(xs):
        last = max((j for j, v in enumerate(xs) if v is not None), default=-1)
        return list(xs[: last + 1])

    want = {i: trim(xs) for i, xs in new_rows}
    assert got == want
