"""Regex path queries as iterative DataFrame joins.

Parity: terminus-server path patterns (src/core/query/path.pl)
evaluate a regex over edges by Prolog search per start node.  The
scale translation is *set-at-a-time*: compile the pattern to an
``(src, dst, hops)`` DataFrame; closure operators (plus/star) run
**semi-naive iteration** — join only the newest frontier against the
base edges each step, dedupe against the accumulated result, stop on
an empty frontier.  :func:`semi_naive` is that loop, written once.

Small graphs walk on the driver.  Every per-round loop costs a Spark
job and a checkpoint per round, more than a whole walk of a small
graph, so :func:`bfs` (the one breadth-first search: the anchored
closures, ``graph.shortest_hops`` and the commit-DAG walks of
``versioning.dag``) collects its edges and sources through one guard,
:func:`collect_small` (a ``limit(N+1)`` collect, ``None`` above
``_DRIVER_LIMIT`` rows), walks an adjacency dict on the driver and
returns a local frame; above the guard, or once a walk emits more
rows than it, :func:`semi_naive` runs instead.  The driver-side
labelings (``graph.cc_metadata``, ``graph.scc_metadata``) take the
same guard.  Both branches give the same rows, in the edge frame's
types, null ends dropped.  A closure part's adjacency, or its
too-big verdict, is cached on the ``TripleStore`` (``memo``) per
(part, graph): a store is immutable (a commit yields a new one), so
nothing invalidates it.

Anchoring: :func:`compile_path` takes the start node ``src`` when the
caller has one, and it alone decides where a closure is anchored.
Leaves filter ``src`` (pushed into the scan), ``Seq`` anchors its
first part on ``src`` and every later ``Plus``/``Star`` part on the
distinct ``dst`` of the rows so far (collected through the guard),
``OrP`` anchors every part, and ``Times`` is the ``Seq`` of its
repetitions, its ``{0,m}`` identity rows read off the part's nodes.
An anchored ``Plus``/``Star`` runs :func:`anchored_closure`, whose
state is the anchors' reachable set, whatever the pattern's
``strategy``; only an unanchored one builds the all-pairs closure.
``compile_path(p, src=x)`` equals ``compile_path(p)`` filtered on
``src == x``.

Scale notes (100 TB):
- the edge set once and every round's layer are checkpointed to cut
  lineage (otherwise plan depth grows linearly and the optimizer
  chokes by iteration ~20); layers are folded into a few runs so the
  dedup anti-join reads few leaves at any depth, and the loop
  releases every block but the answer's, so a closure holds one
  block set;
- the dedup anti-join against everything reached makes each round
  add at least one new key from a finite set, so the loop runs to a
  true fixpoint on any graph, cycles included — there is no round
  cap to truncate an answer; hop counts make the result usable for
  shortest-path analytics;
- the rounds plan in a clone of the caller's session
  (``checkpoint.run_loop``) with AQE off and shuffles sized to the
  frontier, and the answer comes back bound to the caller's session:
  the caller's conf is never written, so other requests sharing the
  session never plan under a loop's tuning.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F, types as T

from terminus_server_spark.checkpoint import (
    _checkpoint,
    loop_checkpoint,
    loop_checkpoint_count,
    release,
    run_loop,
)

from terminus_server_spark.woql import path_ast as P


def _dedup_min_hops(df: DataFrame) -> DataFrame:
    return df.groupBy("src", "dst").agg(F.min("hops").alias("hops"))


def _compose(a: DataFrame, b: DataFrame) -> DataFrame:
    """``a ; b``: (a.src, b.dst, a.hops + b.hops) over a.dst = b.src."""
    return (
        a.alias("a")
        .join(b.alias("b"), F.col("a.dst") == F.col("b.src"))
        .select(
            F.col("a.src").alias("src"),
            F.col("b.dst").alias("dst"),
            (F.col("a.hops") + F.col("b.hops")).alias("hops"),
        )
    )


def _nodes(edges: DataFrame) -> DataFrame:
    """Every end of every edge, as one ``src`` column (not deduped)."""
    return edges.select("src").union(edges.select(F.col("dst").alias("src")))


def _zero(nodes: DataFrame) -> DataFrame:
    """(n, n, 0) for each ``src`` node: the empty repetition."""
    return nodes.select("src", F.col("src").alias("dst"), F.lit(0).alias("hops"))


# A closure's reached state is a stack of checkpointed runs of
# layers; once _FOLD runs of one length pile up they are folded into
# one (a base-_FOLD counter), so the anti-join reads few leaves and a
# row is rewritten about log_FOLD(rounds) times however deep the loop
# runs.
_FOLD = 8


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def semi_naive(
    edges: DataFrame,
    seed: Callable[..., DataFrame],
    step: Callable[[DataFrame, DataFrame], DataFrame],
    key: list[str],
    agg: list[Column],
    *inputs: DataFrame,
    recent_only: bool = False,
    max_rounds: int | None = None,
) -> DataFrame:
    """Semi-naive fixpoint, the one frontier loop of the engine.

    ``edges`` is checkpointed once; ``seed(edges, *inputs)`` is round
    0's layer; each round ``step(frontier, edges)`` proposes the next
    rows from the last layer, the ones whose ``key`` was already
    reached are anti-joined away, and the rest are grouped by ``key``
    under ``agg`` (``min`` of the payload columns) into the next
    layer.  A layer therefore holds exactly the keys first reached in
    its round.  An empty layer ends the loop: every round adds a new
    key from a finite set, so the loop always terminates.  ``seed``
    reads any other frame it needs (anchors, sources) through
    ``inputs``, so the loop's session plans it too.

    ``recent_only``: the caller promises ``edges`` is symmetric, so a
    round can only re-reach keys of the last two layers and the
    anti-join reads those instead of the whole reached state.  Since
    termination then rests on that promise, a loop that outruns the
    edge count (a bound on any BFS depth over symmetric edges) raises.
    ``max_rounds`` is a hop radius for queries that ask for one.

    The edge and seed checkpoints run as the loop's prologue, the
    rounds in a session tuned to the seed's size (``run_loop``).  A
    round is one Spark job that checkpoints its layer and counts it;
    the layer is the next round's frontier and joins the reached
    state as a run of its own, and runs are folded as ``_FOLD``
    describes.  The answer is the runs folded into one checkpointed
    frame (one more job when more than one run is left).  Every
    other block the call made, the edge set included, is released as
    soon as it is dead: a call leaves exactly one block set behind,
    the answer it returns."""

    def prologue(edges: DataFrame, *inputs: DataFrame) -> DataFrame:
        base, n_edges = loop_checkpoint_count(edges)
        try:
            frontier, n_new = loop_checkpoint_count(seed(base, *inputs))
            return run_loop(
                edges.sparkSession, max(n_new, 1), iterate, base, frontier, n_edges, n_new
            )
        finally:
            release(base)

    def iterate(base: DataFrame, frontier: DataFrame, n_edges: int, n_new: int) -> DataFrame:
        prev = answer = None
        runs: list[tuple[DataFrame, int, int]] = [(frontier, 1, n_new)]  # (frame, layers, rows)
        try:
            rounds = 0
            while n_new and (max_rounds is None or rounds < max_rounds):
                rounds += 1
                if recent_only and rounds > n_edges + 1:
                    raise RuntimeError(
                        f"semi_naive: {rounds} rounds over {n_edges} "
                        "edges; recent_only requires symmetric edges"
                    )
                anti = [frontier, prev] if recent_only else [f for f, _, _ in runs]
                reached = _union([f for f in anti if f is not None]).select(*key)
                # checkpoint + empty-layer probe fused into one job
                layer, n_new = loop_checkpoint_count(
                    step(frontier, base)
                    .join(reached, key, "left_anti")
                    .groupBy(*key)
                    .agg(*agg)
                )
                dead = frontier
                if recent_only:
                    dead, prev = prev, frontier
                if dead is not None and not any(dead is f for f, _, _ in runs):
                    release(dead)
                frontier = layer
                if n_new:
                    runs.append((layer, 1, n_new))
                while len(runs) >= _FOLD and runs[-_FOLD][1] == runs[-1][1]:
                    tail, runs = runs[-_FOLD:], runs[:-_FOLD]
                    rows = sum(r for _, _, r in tail)
                    runs.append((
                        loop_checkpoint(_union([f for f, _, _ in tail]), rows),
                        sum(n for _, n, _ in tail),
                        rows,
                    ))
                    for f, _, _ in tail:
                        if f is not frontier and f is not prev:
                            release(f)
            if len(runs) == 1:
                answer = runs[0][0]
            else:
                answer = loop_checkpoint(
                    _union([f for f, _, _ in runs]), sum(r for _, _, r in runs)
                )
            return answer
        finally:
            for df in [frontier, prev, *(f for f, _, _ in runs)]:
                if df is not None and df is not answer:
                    release(df)

    return run_loop(edges.sparkSession, None, prologue, edges, *inputs)


def _not_null(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )


def _hop(frontier: DataFrame, edges: DataFrame, *payload: Column) -> DataFrame:
    """One (src, dst, hops, *payload) step of a closure frontier;
    ``payload`` reads the frontier as ``f`` and the edges as ``e``."""
    return (
        frontier.alias("f")
        .join(edges.alias("e"), F.col("f.dst") == F.col("e.src"))
        .select(
            F.col("f.src").alias("src"),
            F.col("e.dst").alias("dst"),
            (F.col("f.hops") + 1).alias("hops"),
            *payload,
        )
    )


def transitive_closure(edges: DataFrame, with_hops: bool = False) -> DataFrame:
    """plus-closure: all (src, dst) connected by >=1 edge.

    Semi-naive: frontier_{k+1} = frontier_k ⋈ edges − reached.
    """
    reached = semi_naive(
        _not_null(edges),
        lambda e: e.withColumn("hops", F.lit(1)),
        _hop,
        ["src", "dst"],
        [F.min("hops").alias("hops")],
    )
    return reached if with_hops else reached.select("src", "dst")


def transitive_closure_doubling(edges: DataFrame, with_hops: bool = False) -> DataFrame:
    """plus-closure by min-plus path doubling: R_{i+1} = min-hops of
    R_i ∪ (R_i ⋈ R_i).  Converges in ceil(log2(diameter)) rounds vs
    the frontier method's `diameter` rounds.

    Trade-off vs ``transitive_closure``: each round joins the FULL
    closure with itself, so intermediate size is O(|closure|) — the
    right choice for long-diameter graphs whose closure fits
    comfortably (hierarchies, linked lists, version chains).  For
    bushy graphs where |closure| ≫ |edges| the frontier method
    shuffles far less per round; callers pick by shape.  The rounds
    run as a loop prologue (``run_loop`` with no state size): the
    closure is the state, so they keep AQE and the session's width."""

    def ckpt_stats(df: DataFrame) -> tuple[DataFrame, tuple, int]:
        # lazy checkpoint + stats probe fused: the agg action
        # materializes the checkpoint blocks in the same job; the
        # size-estimate strip matters doubly here — each doubling
        # round self-joins the checkpointed closure, the exact shape
        # that squares the propagated estimate per round
        out = _checkpoint(df, None, eager=False)
        row = out.agg(F.count(F.lit(1)), F.sum("hops"), F.max("hops")).collect()[0]
        return out, (row[0], row[1]), row[2]

    def doubling(edges: DataFrame) -> DataFrame:
        r, stats, max_hops = ckpt_stats(
            _not_null(edges)
            .withColumn("hops", F.lit(1))
            .groupBy("src", "dst")
            .agg(F.min("hops").alias("hops"))
        )
        covered = 1  # R holds every min-hop pair with hops <= covered
        # Diameter proof, no confirmation round needed: if a pair at
        # min-distance d > covered existed, the length-`covered` prefix
        # of its shortest path is itself a shortest path (subpaths of
        # shortest paths are shortest), so R would contain a pair with
        # hops == covered exactly — so max_hops < covered ends the loop,
        # after at most log2(diameter) rounds.
        while max_hops is not None and max_hops >= covered:
            r, new_stats, max_hops = ckpt_stats(
                r.unionByName(_compose(r, r))
                .groupBy("src", "dst")
                .agg(F.min("hops").alias("hops"))
            )
            covered *= 2
            if new_stats == stats:  # no new pairs, no shorter paths
                break
            stats = new_stats
        return r

    r = run_loop(edges.sparkSession, None, doubling, edges)
    return r if with_hops else r.select("src", "dst")


# The one size guard: below it a walk or a labeling runs on the
# driver (module docstring).  Tests force the distributed loops by
# setting it to 0.
_DRIVER_LIMIT = 100_000


def collect_small(df: DataFrame) -> list | None:
    """``df``'s rows on the driver, or ``None`` when there are more
    than ``_DRIVER_LIMIT``: one ``limit(N+1)`` collect, not a count
    and a second collect."""
    rows = df.limit(_DRIVER_LIMIT + 1).collect()
    return None if len(rows) > _DRIVER_LIMIT else rows


def adjacency(edges: DataFrame) -> tuple[dict, T.StructType] | None:
    """``edges``' driver adjacency: ``{node: [successor, ...]}`` with
    every end of an edge a key, and the ``(src, dst)`` schema; ``None``
    above the guard."""
    rows = collect_small(edges)
    if rows is None:
        return None
    adj: dict = {}
    for r in rows:
        s, d = r["src"], r["dst"]
        if s is not None and d is not None:
            adj.setdefault(s, []).append(d)
            adj.setdefault(d, [])
    return adj, T.StructType([edges.schema["src"], edges.schema["dst"]])


def _walk(adj: dict, sources: list, radius: int | None, plus: bool) -> list | None:
    """(source, node, hops) rows of a BFS from each source, or
    ``None`` once they pass the guard."""
    out: list = []
    for s in sources:
        hops = {} if plus else {s: 0}
        frontier, d = [s], 0
        while frontier and (radius is None or d < radius):
            d += 1
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in hops:
                        hops[v] = d
                        nxt.append(v)
            frontier = nxt
        out.extend((s, v, h) for v, h in hops.items())
        if len(out) > _DRIVER_LIMIT:
            return None
    return out


def bfs(
    edges: DataFrame,
    sources: list | DataFrame,
    radius: int | None = None,
    *,
    plus: bool = False,
    isolated: bool = True,
    symmetric: bool = False,
    lookup: Callable[[DataFrame], tuple | None] = adjacency,
) -> DataFrame:
    """(src, dst, hops): the minimum hops from each source to every
    node it reaches within ``radius`` hops (no bound when None).  A
    source reaches itself at hops 0 (a source that is no end of an
    edge too, unless ``isolated`` is off); with ``plus`` every row has
    hops >= 1 and a source reaches itself only through a cycle.

    ``sources``: node values, or a frame with one ``node`` column.
    ``symmetric``: the caller promises symmetric edges
    (``semi_naive``'s ``recent_only``).  ``lookup(edges)`` gives their
    :func:`adjacency`; a caller that caches it passes its cache
    lookup.  Under the guard on the edges, the sources and the rows
    emitted the walk runs on the driver; otherwise ``semi_naive`` runs
    it.  Null ends never appear, and the rows keep the edge frame's
    types."""
    spark = edges.sparkSession
    g = lookup(edges)
    if g is not None:
        adj, schema = g
        vals = sources
        if isinstance(sources, DataFrame):
            rows = collect_small(sources.select("node"))
            vals = None if rows is None else [r[0] for r in rows]
        if vals is not None:
            vals = [v for v in dict.fromkeys(vals) if v is not None and (isolated or v in adj)]
            rows = _walk(adj, vals, radius, plus)
            if rows is not None:
                return spark.createDataFrame(
                    rows, T.StructType([*schema.fields, T.StructField("hops", T.IntegerType())])
                )
    e = _not_null(edges)
    if not isinstance(sources, DataFrame):
        sources = spark.createDataFrame(
            [(v,) for v in sources], T.StructType([T.StructField("node", e.schema["src"].dataType)])
        )

    def seed(e: DataFrame, s: DataFrame) -> DataFrame:
        s = s.select(F.col("node").alias("src")).where(F.col("src").isNotNull()).distinct()
        if plus:
            return e.join(s, "src").select("src", "dst", F.lit(1).alias("hops")).distinct()
        if not isolated:
            s = s.join(_nodes(e), "src", "left_semi")
        return _zero(s)

    return semi_naive(
        e,
        seed,
        _hop,
        ["src", "dst"],
        [F.min("hops").alias("hops")],
        sources,
        recent_only=symmetric,
        max_rounds=None if radius is None else radius - int(plus),
    )


def anchored_closure(
    edges: DataFrame,
    anchors: list | DataFrame,
    with_zero: bool = False,
    lookup: Callable[[DataFrame], tuple | None] = adjacency,
) -> DataFrame:
    """(src, dst, hops): min-repetition closure pairs whose ``src``
    is one of ``anchors`` (values, or one ``node`` column) — the
    ``from:``-bound form of :func:`transitive_closure`, a :func:`bfs`
    whose state is the anchors' reachable set, never the all-pairs
    closure a filter-after-closure plan would build first.

    Plus semantics: hops >= 1, INCLUDING cycle returns to the anchor
    (identical to filtering the full plus-closure by src).
    ``with_zero`` gives the hops-0 self row instead (star) — ONLY for
    an anchor that is an end of some edge, matching the un-anchored
    plan exactly: ``compile_path(Star)`` derives its zero rows from
    the graph's nodes, so an anchor absent from the graph yields no
    row, not a phantom (a, a, 0)."""
    return bfs(edges, anchors, plus=not with_zero, isolated=False, lookup=lookup)


def _from(df: DataFrame, src: str | None) -> DataFrame:
    return df if src is None else df.where(F.col("src") == F.lit(src))


def _closure(
    store, pattern: P.Plus | P.Star, graph: str, anchors: list | DataFrame | None
) -> DataFrame:
    """``pattern``'s closure grown from ``anchors`` (values, or one
    ``node`` column), or the all-pairs closure when there are none.
    The anchored walk reads the part's adjacency cached on the store."""
    edges = compile_path(store, pattern.part, graph)
    star = isinstance(pattern, P.Star)
    if anchors is not None:
        return anchored_closure(
            edges, anchors, with_zero=star,
            lookup=lambda e: store.memo((pattern.part, graph), lambda: adjacency(e)),
        )
    close = transitive_closure_doubling if pattern.strategy == "doubling" else transitive_closure
    plus = close(edges, with_hops=True)
    return _dedup_min_hops(plus.unionByName(_zero(_nodes(edges)))) if star else plus


def _then(store, out: DataFrame, part: P.PathPattern, graph: str) -> DataFrame:
    """``out ; part``: a ``Plus``/``Star`` part is grown only from the
    middles the join can keep, ``out``'s distinct ``dst``."""
    if not isinstance(part, (P.Plus, P.Star)):
        return _compose(out, compile_path(store, part, graph))
    out = _dedup_min_hops(out)
    mids = out.select(F.col("dst").alias("node")).distinct()
    return _compose(out, _closure(store, part, graph, mids))


def compile_path(
    store, pattern: P.PathPattern, graph: str = "instance", src: str | None = None
) -> DataFrame:
    """Compile a path pattern to an (src, dst, hops) DataFrame.

    ``graph`` scopes every step's edge scan (the WOQL compiler passes
    the active Using(...) graph down, so path words see the same
    graph the surrounding triple patterns do).  ``src`` is the start
    node, when bound; the module docstring gives the anchoring rule."""
    if isinstance(pattern, P.Pred):
        return _from(store.edges(pattern.predicate, graph), src).withColumn("hops", F.lit(1))
    if isinstance(pattern, P.Any):
        # wildcard: every node-to-node edge in the instance graph —
        # the obj_type filter keeps literal objects out of the node
        # domain (a literal is a dead end, not a vertex), and it
        # pushes into the union's branch scans like any predicate
        # filter would.
        return _from(
            store.spo(None, graph)
            .where(F.col("obj_type") == "iri")
            .select(F.col("subject").alias("src"), F.col("obj").alias("dst")),
            src,
        ).withColumn("hops", F.lit(1))
    if isinstance(pattern, P.Inv):
        e = store.edges(pattern.predicate, graph)
        return _from(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")), src
        ).withColumn("hops", F.lit(1))
    if isinstance(pattern, P.Seq):
        out = compile_path(store, pattern.parts[0], graph, src)
        for part in pattern.parts[1:]:
            out = _then(store, out, part, graph)
        return _dedup_min_hops(out)
    if isinstance(pattern, P.OrP):
        return _dedup_min_hops(
            _union([compile_path(store, p, graph, src) for p in pattern.parts])
        )
    if isinstance(pattern, (P.Plus, P.Star)):
        return _closure(store, pattern, graph, None if src is None else [src])
    if isinstance(pattern, P.Times):
        # {0,m} admits the empty repetition ({0,0} is pure identity) of
        # the part's nodes, which a closure shares with its own part
        acc = []
        if pattern.n == 0:
            inner = pattern.part
            while isinstance(inner, (P.Plus, P.Star)):
                inner = inner.part
            acc.append(_zero(_from(_nodes(compile_path(store, inner, graph)), src)))
        cur = None
        for k in range(1, pattern.m + 1):
            cur = (
                compile_path(store, pattern.part, graph, src)
                if cur is None
                else _then(store, cur, pattern.part, graph)
            )
            cur = _dedup_min_hops(cur)
            if k >= pattern.n:
                acc.append(cur)
        return _dedup_min_hops(_union(acc))
    raise NotImplementedError(f"path pattern {type(pattern).__name__}")


def trace_paths(edges: DataFrame) -> DataFrame:
    """(src, dst, hops, path): the full node chain for every
    plus-closure pair, as 'a>b>c' strings — the projection of the
    reference's bound path objects (path.pl binds an edge list per
    solution, not just reachability).

    Semi-naive like transitive_closure, with the chain accumulated as
    a string column; only the minimum-hop path per pair is kept (ties
    broken by lexicographically smallest chain, a total order both
    engines share).  Intended for hierarchy-shaped graphs where paths
    are short; the accumulator row width grows with hop count."""

    def step(f: DataFrame, e: DataFrame) -> DataFrame:
        return _hop(f, e, F.concat_ws(">", F.col("f.path"), F.col("e.dst")).alias("path"))

    return semi_naive(
        _not_null(edges),
        lambda e: e.select(
            "src", "dst", F.lit(1).alias("hops"),
            F.concat_ws(">", F.col("src"), F.col("dst")).alias("path"),
        ),
        step,
        ["src", "dst"],
        [F.min("hops").alias("hops"), F.min("path").alias("path")],
    )
