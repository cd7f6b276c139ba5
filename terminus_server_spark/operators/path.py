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
            squared = (
                r.alias("a")
                .join(r.alias("b"), F.col("a.dst") == F.col("b.src"))
                .select(
                    F.col("a.src").alias("src"),
                    F.col("b.dst").alias("dst"),
                    (F.col("a.hops") + F.col("b.hops")).alias("hops"),
                )
            )
            r, new_stats, max_hops = ckpt_stats(
                r.unionByName(squared)
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
        universe = e.select(F.col("src").alias("n")).union(e.select("dst"))
        return a.join(universe, a["src"] == universe["n"], "left_semi").select(
            "src", F.col("src").alias("dst"), F.lit(0).alias("hops")
        )

    return semi_naive(
        _not_null(edges),
        seed,
        _hop,
        ["src", "dst"],
        [F.min("hops").alias("hops")],
        anchors.select(F.col("node").alias("src")).distinct(),
    )


def _seq_into_closure(
    left: DataFrame, b: DataFrame, with_zero: bool
) -> DataFrame:
    """``left ; B*`` / ``left ; B+`` without the global closure:
    anchor the B-closure on left's distinct endpoints (the only
    middles the join could keep), then extend left by the anchored
    distances.  ``with_zero`` (star) keeps each left pair itself —
    but only when its endpoint exists in B's node universe, matching
    ``compile_path(Star)``'s graph-derived zero rows exactly."""
    mids = left.select(F.col("dst").alias("node")).distinct()
    d = anchored_closure(b, mids)
    grown = (
        left.alias("a")
        .join(d.alias("c"), F.col("a.dst") == F.col("c.src"))
        .select(
            F.col("a.src").alias("src"),
            F.col("c.dst").alias("dst"),
            (F.col("a.hops") + F.col("c.hops")).alias("hops"),
        )
    )
    if with_zero:
        universe = (
            b.select(F.col("src").alias("n"))
            .union(b.select(F.col("dst")))
            .distinct()
        )
        kept = left.join(
            universe, left["dst"] == universe["n"], "left_semi"
        ).select("src", "dst", "hops")
        grown = grown.unionByName(kept)
    return grown


def compile_path(
    store, pattern: P.PathPattern, graph: str = "instance"
) -> DataFrame:
    """Compile a path pattern to an (src, dst, hops) DataFrame.

    ``graph`` scopes every step's edge scan (the WOQL compiler passes
    the active Using(...) graph down, so path words see the same
    graph the surrounding triple patterns do)."""
    if isinstance(pattern, P.Pred):
        return store.edges(pattern.predicate, graph).withColumn("hops", F.lit(1))
    if isinstance(pattern, P.Any):
        # wildcard: every node-to-node edge in the instance graph —
        # the obj_type filter keeps literal objects out of the node
        # domain (a literal is a dead end, not a vertex), and it
        # pushes into the union's branch scans like any predicate
        # filter would.
        return (
            store.spo(None, graph)
            .where(F.col("obj_type") == "iri")
            .select(F.col("subject").alias("src"), F.col("obj").alias("dst"))
            .withColumn("hops", F.lit(1))
        )
    if isinstance(pattern, P.Inv):
        e = store.edges(pattern.predicate, graph)
        return e.select(F.col("dst").alias("src"), F.col("src").alias("dst")).withColumn(
            "hops", F.lit(1)
        )
    if isinstance(pattern, P.Seq):
        out = compile_path(store, pattern.parts[0], graph)
        for nxt_ast in pattern.parts[1:]:
            if (
                isinstance(nxt_ast, (P.Plus, P.Star))
                and getattr(nxt_ast, "strategy", "frontier") == "frontier"
            ):
                # Push the sequence restriction INTO the closure: a
                # plain compile would materialize the GLOBAL star/plus
                # closure and then join (filter-after-closure — the
                # all-pairs state this module exists to avoid).  The
                # anchored closure grows only from the left side's
                # endpoints; its first-reach/min-hop discipline is the
                # same as transitive_closure restricted to those
                # sources, so results are identical, just cheaper.
                out = _seq_into_closure(
                    _dedup_min_hops(out),
                    compile_path(store, nxt_ast.part, graph),
                    with_zero=isinstance(nxt_ast, P.Star),
                )
            else:
                nxt = compile_path(store, nxt_ast, graph)
                out = (
                    out.alias("a")
                    .join(nxt.alias("b"), F.col("a.dst") == F.col("b.src"))
                    .select(
                        F.col("a.src").alias("src"),
                        F.col("b.dst").alias("dst"),
                        (F.col("a.hops") + F.col("b.hops")).alias("hops"),
                    )
                )
        return _dedup_min_hops(out)
    if isinstance(pattern, P.OrP):
        parts = [compile_path(store, p, graph) for p in pattern.parts]
        out = parts[0]
        for nxt in parts[1:]:
            out = out.unionByName(nxt)
        return _dedup_min_hops(out)
    if isinstance(pattern, P.Plus):
        close = transitive_closure_doubling if pattern.strategy == "doubling" else transitive_closure
        return close(compile_path(store, pattern.part, graph), with_hops=True)
    if isinstance(pattern, P.Star):
        close = transitive_closure_doubling if pattern.strategy == "doubling" else transitive_closure
        plus = close(compile_path(store, pattern.part, graph), with_hops=True)
        base = compile_path(store, pattern.part, graph)
        nodes = base.select(F.col("src").alias("n")).union(base.select(F.col("dst"))).distinct()
        zero = nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"), F.lit(0).alias("hops"))
        return _dedup_min_hops(plus.unionByName(zero))
    if isinstance(pattern, P.Times):
        base = compile_path(store, pattern.part, graph)
        acc = None
        if pattern.n == 0:
            # {0,m} admits the empty repetition: identity pairs over
            # the base pattern's node universe, matching Star's
            # zero-hop rows ({0,0} is pure identity)
            nodes = base.select(F.col("src").alias("n")).union(
                base.select(F.col("dst"))
            ).distinct()
            acc = nodes.select(
                F.col("n").alias("src"), F.col("n").alias("dst"), F.lit(0).alias("hops")
            )
        cur = None
        for k in range(1, pattern.m + 1):
            cur = base if cur is None else (
                cur.alias("a")
                .join(base.alias("b"), F.col("a.dst") == F.col("b.src"))
                .select(
                    F.col("a.src").alias("src"),
                    F.col("b.dst").alias("dst"),
                    (F.col("a.hops") + F.col("b.hops")).alias("hops"),
                )
            )
            cur = _dedup_min_hops(cur)
            if k >= pattern.n:
                acc = cur if acc is None else acc.unionByName(cur)
        return _dedup_min_hops(acc)
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
