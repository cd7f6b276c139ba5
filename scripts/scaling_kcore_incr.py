"""Scale probe for the r10 delta-sized kcore_incremental peel.

The r9 verdict's acceptance test: with a stored core that DOMINATES
the graph and a FIXED small commit delta, per-batch cost must be flat
in corpus size (the old peel re-aggregated the full new-core edge set
every round — Θ(|E_core|)/round; the new one aggregates candidate-
incident edges once and then only decrements, with output degrees
assembled from the STORED degrees + delta-sized increments).

Topology: ring lattice, each node linked to its next 3 neighbors
(degree 6 ⇒ the ENTIRE graph is the 3-core — the core dominates by
construction).  Delta: a fixed 60-edge chain gadget hanging off node
0: 20 new nodes in mutually-supporting cliques of 4 (each enters the
core) plus 10 dangling nodes that peel away — exercises closure,
entry, and the peel cascade identically at both scales.

Run: python scripts/scaling_kcore_incr.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from terminus_server_spark.operators.graph import _und, kcore, kcore_incremental
from terminus_server_spark.session import get_spark


def ring(spark, n):
    nodes = spark.range(n).select(F.col("id").alias("src"))
    e = None
    for step in (1, 2, 3):
        part = nodes.select(
            "src", ((F.col("src") + step) % n).alias("dst")
        )
        e = part if e is None else e.unionByName(part)
    return e


def delta_gadget(spark, n):
    # 5 cliques of 4 fresh nodes (ids n..n+19), each clique wired to
    # node 0 — every clique node reaches degree >= 3 and enters; plus
    # 10 dangling nodes (n+20..n+29) with one edge each that peel off
    rows = []
    for c in range(5):
        ids = [n + 4 * c + i for i in range(4)]
        for i in range(4):
            for j in range(i + 1, 4):
                rows.append((ids[i], ids[j]))
        rows.append((0, ids[0]))
    for d in range(10):
        rows.append((1, n + 20 + d))
    return spark.createDataFrame(rows, "src long, dst long")


def main():
    spark = get_spark("tss-kcore-scale")
    spark.sparkContext.setLogLevel("ERROR")
    for n in (50_000, 500_000):
        base = _und(ring(spark, n)).cache()
        base.count()
        core = kcore(base, k=3, rounds=20).cache()
        n_core = core.count()  # == n by construction
        delta = delta_gadget(spark, n).cache()
        delta.count()
        best = None
        for _ in range(3):
            t0 = time.time()
            out = kcore_incremental(core, base, delta, k=3)
            n_out, sum_deg = out.agg(
                F.count(F.lit(1)), F.sum("degree")
            ).collect()[0]
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        print(
            f"n={n} edges={3*n} core={n_core} -> core_new={n_out} "
            f"sum_deg={sum_deg} best={best:.2f}s",
            flush=True,
        )
        base.unpersist()
        core.unpersist()
        delta.unpersist()


if __name__ == "__main__":
    main()
