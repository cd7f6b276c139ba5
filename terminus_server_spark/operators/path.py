"""Regex path queries as iterative DataFrame joins.

Parity: terminus-server path patterns (src/core/query/path.pl)
evaluate a regex over edges by Prolog search per start node.  The
scale translation is *set-at-a-time*: compile the pattern to an
``(src, dst, hops)`` DataFrame; closure operators (plus/star) run
**semi-naive iteration** — join only the newest frontier against the
base edges each step, dedupe against the accumulated result, stop on
an empty frontier.  :func:`semi_naive` is that loop, written once; the
closures here, the multi-source BFS in ``operators.graph`` and the
distributed commit-DAG walk in ``versioning.dag`` are its callers.

Anchoring: :func:`compile_path` takes the start node ``src`` when the
caller has one, and it alone decides where a closure is anchored.
Leaves filter ``src`` (pushed into the scan), ``Seq`` anchors its
first part on ``src`` and every later ``Plus``/``Star`` part on the
distinct ``dst`` of the rows so far, ``OrP`` anchors every part and
``Times`` its first step (its later steps and ``{0,m}`` identity rows
compose the unanchored part, which ``{1,1}`` never builds).  An
anchored ``Plus``/``Star`` runs :func:`anchored_closure`, whose state
is the anchors' reachable set, whatever the pattern's ``strategy``;
only an unanchored one builds the all-pairs closure.
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

from pyspark.sql import Column, DataFrame, functions as F

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


def anchored_closure(
    edges: DataFrame, anchors: DataFrame, with_zero: bool = False
) -> DataFrame:
    """(src, dst, hops): min-repetition closure pairs whose ``src``
    is in ``anchors`` (one ``node`` column) — the ``from:``-bound
    form of :func:`transitive_closure`.  THIS is the 100 TB shape for
    anchored path traversal: state is the anchors' reachable set
    (frontier-sized shuffles), never the all-pairs closure a
    filter-after-closure plan would materialize first.

    Plus semantics: hops >= 1, INCLUDING cycle returns to the anchor
    (the seed is the anchors' one-step successors, so the anchor
    itself is reachable at hops >= 1 through a cycle — identical to
    filtering the full plus-closure by src).  ``with_zero`` seeds the
    hops-0 self row instead, so the anti-join drops any costlier self
    pair (star) — ONLY for anchors that appear in the edge universe,
    matching the un-anchored plan exactly: ``compile_path(Star)``
    derives its zero rows from the graph's nodes, so an anchor absent
    from the graph must yield zero rows, not a phantom (a, a, 0)."""
    def seed(e: DataFrame, a: DataFrame) -> DataFrame:
        if not with_zero:
            return e.join(a, "src").select("src", "dst", F.lit(1).alias("hops"))
        return _zero(a.join(_nodes(e), "src", "left_semi"))

    return semi_naive(
        _not_null(edges),
        seed,
        _hop,
        ["src", "dst"],
        [F.min("hops").alias("hops")],
        anchors.select(F.col("node").alias("src")).distinct(),
    )


def _from(df: DataFrame, src: str | None) -> DataFrame:
    return df if src is None else df.where(F.col("src") == F.lit(src))


def _closure(
    store, pattern: P.Plus | P.Star, graph: str, anchors: DataFrame | None
) -> DataFrame:
    """``pattern``'s closure grown from ``anchors`` (one ``node``
    column), or the all-pairs closure when there are none."""
    edges = compile_path(store, pattern.part, graph)
    star = isinstance(pattern, P.Star)
    if anchors is not None:
        return anchored_closure(edges, anchors, with_zero=star)
    close = transitive_closure_doubling if pattern.strategy == "doubling" else transitive_closure
    plus = close(edges, with_hops=True)
    return _dedup_min_hops(plus.unionByName(_zero(_nodes(edges)))) if star else plus


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
            if isinstance(part, (P.Plus, P.Star)):
                # grow the closure only from the middles the join can keep
                out = _dedup_min_hops(out)
                nxt = _closure(
                    store, part, graph, out.select(F.col("dst").alias("node")).distinct()
                )
            else:
                nxt = compile_path(store, part, graph)
            out = _compose(out, nxt)
        return _dedup_min_hops(out)
    if isinstance(pattern, P.OrP):
        return _dedup_min_hops(
            _union([compile_path(store, p, graph, src) for p in pattern.parts])
        )
    if isinstance(pattern, (P.Plus, P.Star)):
        anchors = None if src is None else store.df.sparkSession.createDataFrame(
            [(src,)], "node string"
        )
        return _closure(store, pattern, graph, anchors)
    if isinstance(pattern, P.Times):
        # the unanchored part, built only where it is read
        base = None
        if src is None or pattern.n == 0 or pattern.m > 1:
            base = compile_path(store, pattern.part, graph)
        # {0,m} admits the empty repetition ({0,0} is pure identity)
        acc = [_zero(_from(_nodes(base), src))] if pattern.n == 0 else []
        cur = None
        for k in range(1, pattern.m + 1):
            if cur is None:
                cur = base if src is None else compile_path(store, pattern.part, graph, src)
            else:
                cur = _compose(cur, base)
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
