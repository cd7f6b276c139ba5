"""Scale probe for the r11 shuffle-free CDC streaming-CC steady path.

The r10 verdict's acceptance test: with a large stored edge set and a
FIXED small CDC delta (adds AND dels), the per-batch update must ride
the delta and the dirty components, never the corpus.  Two costs were
corpus-sized before r11 and are probed here after the fix:

1. ``connected_components_decremental``'s ``und()`` ended in a
   full-base ``distinct()`` even when the base was the canonical
   streaming store — ``canonical_base=True`` (threaded from
   ``run_stream_cc_cdc``) now skips it;
2. the store update was ``edges.unionByName(adds).distinct()`` — a
   second full-store exchange — now the delta-only anti-join +
   disjoint unionByName (the kcore_incremental store pattern).

Topology: disjoint 100-node chains (n/100 components — deleting one
edge dirties ONE 100-node component, not the corpus).  Fixed delta:
3 splits (one mid-chain delete each in components 0/1/2), one merge
(edge bridging components 5 and 6), one fresh node attached to
component 3, and one delete of an absent edge (no-op path).  The
probe times the composed steady-path body (decremental with
canonical_base → store delete → fresh singletons → incremental →
delta-only store append) over a cached canonical store at 1x and
10x, best-of-3, and checks the 1x result against batch CC of the net
edge set.

Run: python scripts/scaling_cc_cdc.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from terminus_server_spark.operators.graph import (
    connected_components,
    connected_components_decremental,
    connected_components_incremental,
)
from terminus_server_spark.session import get_spark


def chains(spark, n):
    # canonical (src<dst), duplicate-free by construction — the
    # streaming store contract
    return (
        spark.range(n)
        .where(F.col("id") % 100 != 99)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )


def delta(spark, n):
    dels = [(50, 51), (150, 151), (250, 251), (7, 9)]  # last one absent
    adds = [(599, 600), (300, n + 1)]  # merge 5+6; fresh node on comp 3
    d = spark.createDataFrame(dels, "src long, dst long")
    a = spark.createDataFrame(adds, "src long, dst long")
    return a, d


def steady_batch(edges, labels, adds, dels):
    """The run_stream_cc_cdc merge body (streaming/events.py), minus
    the parquet I/O — exactly the per-batch steady-path plan."""
    labels = connected_components_decremental(labels, edges, dels, canonical_base=True)
    edges = edges.join(F.broadcast(dels), ["src", "dst"], "left_anti")
    add_nodes = (
        adds.select(F.col("src").alias("node"))
        .union(adds.select(F.col("dst")))
        .distinct()
    )
    fresh = add_nodes.join(labels.select("node"), "node", "left_anti")
    labels = labels.unionByName(
        fresh.select("node", F.col("node").alias("component"))
    )
    labels = connected_components_incremental(labels, adds)
    adds_only = adds.join(
        edges.join(
            F.broadcast(adds.select("src").distinct()), "src", "left_semi"
        ),
        ["src", "dst"],
        "left_anti",
    )
    edges = edges.unionByName(adds_only)
    return edges, labels


def main():
    spark = get_spark("tss-cccdc-scale")
    spark.sparkContext.setLogLevel("ERROR")
    for n in (100_000, 1_000_000):
        base = chains(spark, n).cache()
        ne = base.count()
        labels = connected_components(base).cache()
        labels.count()
        adds, dels = delta(spark, n)
        adds, dels = adds.cache(), dels.cache()
        adds.count(), dels.count()
        best = None
        for _ in range(3):
            t0 = time.time()
            e2, l2 = steady_batch(base, labels, adds, dels)
            n_edges, = e2.agg(F.count(F.lit(1))).collect()[0]
            n_comp, = l2.agg(F.countDistinct("component")).collect()[0]
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        # expected: n/100 comps + 3 splits - 1 merge (fresh node joins
        # comp 3's component, no new comp)
        want = n // 100 + 3 - 1
        if n == 100_000:
            e2, l2 = steady_batch(base, labels, adds, dels)
            exact = connected_components(e2)
            mism = (
                l2.join(exact.withColumnRenamed("component", "c2"), "node")
                .where(F.col("component") != F.col("c2"))
                .count()
            )
            extra = l2.count() - exact.count()
            print(f"  1x exact check: {mism} label mismatches, "
                  f"{extra} node-count delta", flush=True)
        print(
            f"n={n} store={ne} edges -> comps={n_comp} (want {want}) "
            f"edges_new={n_edges} best={best:.2f}s",
            flush=True,
        )
        base.unpersist()
        labels.unpersist()


if __name__ == "__main__":
    main()
