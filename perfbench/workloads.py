"""The three workloads: set-up, request execution and result checks.

A workload object owns the store it serves.  ``setup`` builds inputs
and stores from the seed (the runner repeats it and keeps the last
one), ``execute`` serves one request and returns its result rows, and
``check`` compares a result with the oracle after the timed loop.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import gen
import oracles

TPCH_NAMES = ("region", "nation", "customer", "supplier", "orders")


class Workload:
    name = ""
    cycle: tuple = ()
    cycle_seconds = 1.0  # nominal time of one cycle, measured on a 4-CPU host
    max_requests = 0

    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.last_qe = None  # QueryExecution of the last collected frame

    def collect(self, df) -> list[tuple]:
        """Plan, then run, one frame: the two Spark phases of a request."""
        qe = df._jdf.queryExecution()
        with self.tracer.span("spark.plan"):
            qe.executedPlan()
        with self.tracer.span("spark.exec"):
            rows = df.collect()
        self.last_qe = qe
        return [tuple(r) for r in rows]

    def close(self) -> None:
        """Release what ``setup`` opened outside Spark."""

    def extra_metrics(self) -> dict[str, float]:
        return {}


def _parquet_files(directory: str) -> list[str]:
    return [os.path.join(directory, f) for f in os.listdir(directory) if f.endswith(".parquet")]


def _write_tables(tables: dict, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- read_mix -----------------------------------------------------------------


class ReadMix(Workload):
    """Interactive WOQL/GraphQL reads over the TPC-H knowledge graph."""

    name = "read_mix"
    cycle = gen.READ_CYCLE
    cycle_seconds = 5.2
    max_requests = 200
    customers = 600  # ~40k triples

    def setup(self, rep_dir: str) -> dict[str, float]:
        from terminus_server_spark.model.triples import tpch_store
        from terminus_server_spark.session import load_tables

        t0 = time.perf_counter()
        _write_tables(gen.tpch_tables(self.seed, self.customers), rep_dir)
        self.requests = gen.read_requests(self.seed, self.customers, self.max_requests)
        t1 = time.perf_counter()
        self.frames = load_tables(self.spark, rep_dir, TPCH_NAMES)
        self.store = tpch_store(self.frames)
        t2 = time.perf_counter()
        self.oracle = oracles.ReadOracle(rep_dir, TPCH_NAMES)
        return {"input_gen": t1 - t0, "store_build": t2 - t1}

    def warmup_requests(self) -> list[tuple]:
        return gen.read_requests(self.seed + 1, self.customers, 4)

    def execute(self, req: tuple) -> list[tuple]:
        from terminus_server_spark.docs import graphql
        from terminus_server_spark.woql import compiler

        kind, template, p = req
        if kind == "gql":
            out = graphql.execute_graphql(
                {"Customer": self.frames["customer"], "Order": self.frames["orders"]},
                _gql_source(p),
                relations={("Customer", "orders"): ("Order", "c_custkey", "o_custkey")},
            )["Customer"]
            return self.collect(out)
        ctx = compiler.WOQLContext(self.store, self.spark)
        return self.collect(ctx.run(_read_term(req)))

    def check(self, req: tuple, rows: list[tuple]) -> bool:
        return self.oracle.check(req, rows)

    def close(self) -> None:
        self.oracle.close()


def _read_term(req: tuple):
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql import path_ast as P

    v = A.Var
    kind, template, p = req
    if kind == "point":
        cls, key = p
        return A.Select((v("p"), v("o")), A.Triple(f"{cls}/{key}", v("p"), v("o")))
    if template == "count_by_customer":
        nation, status = p
        return A.GroupBy((v("c"),), (("count", v("o"), v("n")),), A.And(
            A.Triple(v("c"), "c_nation", f"Nation/{nation}"),
            A.Triple(v("o"), "o_customer", v("c")),
            A.Triple(v("o"), "o_orderstatus", status),
        ))
    if template == "chain5":
        region, seg, prio = p
        return A.GroupBy((v("n"),), (("count", v("o"), v("k")),), A.And(
            A.Triple(v("c"), "c_nation", v("n")),
            A.Triple(v("n"), "n_region", f"Region/{region}"),
            A.Triple(v("c"), "c_mktsegment", seg),
            A.Triple(v("o"), "o_customer", v("c")),
            A.Triple(v("o"), "o_orderpriority", prio),
        ))
    if template == "opt":
        nation, seg, prio = p
        return A.Select((v("c"), v("o")), A.And(
            A.Triple(v("c"), "c_nation", f"Nation/{nation}"),
            A.Triple(v("c"), "c_mktsegment", seg),
            A.Opt(A.And(
                A.Triple(v("o"), "o_customer", v("c")),
                A.Triple(v("o"), "o_orderpriority", prio),
            )),
        ))
    if template == "not":
        nation, seg, status = p
        return A.Select((v("c"),), A.And(
            A.Triple(v("c"), "c_nation", f"Nation/{nation}"),
            A.Triple(v("c"), "c_mktsegment", seg),
            A.Not(A.And(
                A.Triple(v("o"), "o_customer", v("c")),
                A.Triple(v("o"), "o_orderstatus", status),
            )),
        ))
    if template == "typecast":
        nation, floor = p
        return A.Select((v("c"), v("d")), A.And(
            A.Triple(v("c"), "c_nation", f"Nation/{nation}"),
            A.Triple(v("c"), "c_acctbal", v("b")),
            A.Typecast(v("b"), "xsd:decimal", v("d")),
            A.Greater(v("d"), floor),
        ))
    if template == "orders_in_nation":
        (nation,) = p
        return A.Select((v("o"),), A.Path(
            v("o"), P.Seq(P.Pred("o_customer"), P.Pred("c_nation")), f"Nation/{nation}"
        ))
    if template == "order_region":
        (order,) = p
        return A.Select((v("r"),), A.Path(
            f"Order/{order}",
            P.Seq(P.Pred("o_customer"), P.Pred("c_nation"), P.Pred("n_region")),
            v("r"),
        ))
    raise ValueError(f"unknown read request {req!r}")


def _gql_source(p: tuple) -> str:
    seg, nation, floor, status, limit = p
    return f"""
    query {{
      Customer(filter: {{_and: [{{c_mktsegment: {{eq: "{seg}"}}}},
                                {{c_nationkey: {{eq: {nation}}}}},
                                {{c_acctbal: {{gt: {floor}}}}}]}},
               orderBy: {{c_custkey: ASC}}, limit: {limit}) {{
        c_custkey
        c_name
        c_acctbal
        orders(filter: {{o_orderstatus: {{eq: "{status}"}}}}) {{
          o_orderkey
          o_totalprice
        }}
      }}
    }}
    """


# -- path_closure -------------------------------------------------------------


PATH_PATTERNS = {
    "up_plus": lambda P: P.Plus(P.Pred("parent")),
    "up_star": lambda P: P.Star(P.Pred("parent")),
    "down_plus": lambda P: P.Plus(P.Inv("parent")),
    "down_star": lambda P: P.Star(P.Inv("parent")),
    "times_up": lambda P: P.Times(P.Pred("parent"), 1, 3),
    "seq_link_plus": lambda P: P.Seq(P.Pred("link"), P.Plus(P.Pred("parent"))),
}


class PathClosure(Workload):
    """Anchored and bounded path queries over a generated hierarchy."""

    name = "path_closure"
    cycle = gen.PATH_CYCLE
    cycle_seconds = 15.5
    max_requests = 60

    def setup(self, rep_dir: str) -> dict[str, float]:
        from terminus_server_spark.model.triples import TripleStore

        t0 = time.perf_counter()
        self.graph = gen.Hierarchy(self.seed)
        os.makedirs(rep_dir, exist_ok=True)
        path = os.path.join(rep_dir, "triples.parquet")
        pq.write_table(self.graph.triples(), path)
        self.requests = gen.path_requests(self.seed, self.graph, self.max_requests)
        t1 = time.perf_counter()
        self.store = TripleStore(self.spark.read.parquet(path))
        t2 = time.perf_counter()
        self.oracle = oracles.PathOracle(self.graph.parent_edges, self.graph.link_edges)
        return {"input_gen": t1 - t0, "store_build": t2 - t1}

    def warmup_requests(self) -> list[tuple]:
        return [("anchored", "up_plus", self.graph.levels[1][0])]

    def execute(self, req: tuple) -> list[tuple]:
        from terminus_server_spark.woql import ast as A
        from terminus_server_spark.woql import compiler
        from terminus_server_spark.woql import path_ast as P

        _, shape, anchor = req
        term = A.Select((A.Var("x"),), A.Path(anchor, PATH_PATTERNS[shape](P), A.Var("x")))
        return self.collect(compiler.WOQLContext(self.store, self.spark).run(term))

    def check(self, req: tuple, rows: list[tuple]) -> bool:
        return self.oracle.check(req, rows)


# -- commit_timetravel --------------------------------------------------------


KEY = ["graph", "subject", "predicate", "obj"]
POOL_SCHEMA = (
    "commit_id string, op string, graph string, subject string, predicate string, "
    "obj string, obj_type string, obj_num double, commit_seq int"
)


class CommitTimetravel(Workload):
    """WOQL update commits beside as-of reads, delta queries and diffs
    over an on-disk layer pool.

    Flush policy: each commit writes its delta layer as one parquet file
    (``pool/commit_seq=<n>/``) before the commit returns; nothing is
    cached between requests, so every read lists and scans the pool."""

    name = "commit_timetravel"
    cycle = gen.COMMIT_CYCLE
    cycle_seconds = 6.5
    max_requests = 100
    customers = 500  # ~33k base triples

    def setup(self, rep_dir: str) -> dict[str, float]:
        from pyspark.sql import functions as F

        from terminus_server_spark.model.triples import tpch_store
        from terminus_server_spark.session import load_tables

        t0 = time.perf_counter()
        tables = gen.tpch_tables(self.seed, self.customers)
        _write_tables(tables, rep_dir)
        self.requests = gen.commit_requests(
            self.seed, tables["orders"], self.customers, self.max_requests
        )
        t1 = time.perf_counter()
        self.base_store = tpch_store(load_tables(self.spark, rep_dir, TPCH_NAMES))
        t2 = time.perf_counter()
        self.pool_dir = os.path.join(rep_dir, "pool")
        self.base_store.df.select(
            F.lit("c0").alias("commit_id"), F.lit("add").alias("op"),
            "graph", "subject", "predicate", "obj", "obj_type", "obj_num",
        ).coalesce(1).write.parquet(os.path.join(self.pool_dir, "commit_seq=0"))
        t3 = time.perf_counter()
        base = pq.read_table(os.path.join(self.pool_dir, "commit_seq=0"),
                             columns=["subject", "predicate", "obj"]).to_pydict()
        self.model = oracles.LiveModel(zip(base["subject"], base["predicate"], base["obj"]))
        self.written: dict[int, tuple] = {}
        return {"input_gen": t1 - t0, "store_build": t2 - t1, "base_write": t3 - t2}

    def warmup_requests(self) -> list[tuple]:
        """The stream's first half cycle, commits included: it runs on an
        earlier set-up's pool, which the timed loop does not use."""
        return self.requests[:len(self.cycle) // 2]

    def pool(self):
        return self.spark.read.schema(POOL_SCHEMA).parquet(self.pool_dir)

    def execute(self, req: tuple) -> list[tuple]:
        from terminus_server_spark.model.triples import TripleStore
        from terminus_server_spark.versioning import layers
        from terminus_server_spark.woql import ast as A
        from terminus_server_spark.woql import compiler

        v = A.Var
        kind = req[0]
        if kind == "commit":
            _, seq, parts = req
            head = TripleStore(layers.materialize(self.pool(), seq - 1, KEY))
            ctx = compiler.WOQLContext(head, self.spark)
            delta = ctx.run_update(_transaction_term(parts), seq, f"c{seq}")
            out = os.path.join(self.pool_dir, f"commit_seq={seq}")
            with self.tracer.span("layers.write"):
                delta.drop("commit_seq").coalesce(1).write.parquet(out)
            return []
        if kind == "asof":
            _, at, query = req
            state = TripleStore(layers.materialize(self.pool(), at, KEY))
            if query[0] == "count":
                term = A.Count(A.Triple(v("x"), query[1], query[2]), v("n"))
            else:
                term = A.Select((v("p"), v("o")), A.Triple(query[1], v("p"), v("o")))
            return self.collect(compiler.WOQLContext(state, self.spark).run(term))
        if kind == "delta":
            _, seq, which = req
            word = A.AddedTriple if which == "added" else A.RemovedTriple
            ctx = compiler.WOQLContext(self.base_store, self.spark, layers=self.pool())
            term = A.Select((v("s"), v("p"), v("o")), word(v("s"), v("p"), v("o"), f"c{seq}"))
            return self.collect(ctx.run(term))
        _, a, b = req
        return self.collect(layers.diff(self.pool(), a, b, KEY))

    def check(self, req: tuple, rows: list[tuple]) -> bool:
        kind = req[0]
        m = self.model
        if kind == "commit":
            _, seq, parts = req
            adds, dels = m.commit(seq, parts)
            path = os.path.join(self.pool_dir, f"commit_seq={seq}")
            if not os.path.isdir(path):
                return False
            t = pq.read_table(path, columns=["commit_id", "op", "subject", "predicate", "obj"])
            got = list(zip(*t.to_pydict().values()))
            rows.extend(got)  # a commit's result is the delta layer it wrote
            self.written[seq] = (t.num_rows, sum(os.path.getsize(f) for f in _parquet_files(path)))
            want = [(f"c{seq}", "add") + k for k in adds] + [(f"c{seq}", "del") + k for k in dels]
            return oracles.same_rows(got, want)
        if kind == "asof":
            _, at, query = req
            if query[0] == "count":
                return oracles.same_rows(rows, [(len(m.with_po(query[1], query[2], at)),)])
            return oracles.same_rows(rows, [k[1:] for k in m.document(query[1], at)])
        if kind == "delta":
            _, seq, which = req
            return oracles.same_rows(rows, m.deltas[seq][0 if which == "added" else 1])
        _, a, b = req
        return oracles.same_rows(rows, m.diff(a, b))

    def extra_metrics(self) -> dict[str, float]:
        """Write and space costs of the layer pool at the end of the run."""
        pool_rows = sum(
            pq.read_metadata(f).num_rows
            for d in os.listdir(self.pool_dir) if d.startswith("commit_seq=")
            for f in _parquet_files(os.path.join(self.pool_dir, d))
        )
        rows = sum(r for r, _ in self.written.values())
        size = sum(b for _, b in self.written.values())
        return {
            "layers.pool_rows_end": pool_rows,
            "layers.space_amp": pool_rows / max(1, self.model.live_rows()),
            "layers.write_bytes_per_triple": size / rows if rows else 0.0,
        }


def _transaction_term(parts: tuple):
    """One commit's WOQL update: the pattern words first (their
    solutions drive every staged update), then the update words."""
    from terminus_server_spark.woql import ast as A

    v = A.Var
    words = []
    updates = []
    for part in parts:
        if part[0] == "close":
            words += [A.Triple(v("o"), "o_customer", f"Customer/{part[1]}"),
                      A.Triple(v("o"), "o_orderstatus", "O")]
            updates += [A.DeleteTriple(v("o"), "o_orderstatus", "O"),
                        A.AddTriple(v("o"), "o_orderstatus", "F")]
        elif part[0] == "reprioritize":
            _, src, dst, status = part
            words += [A.Triple(v("o"), "o_orderpriority", src),
                      A.Triple(v("o"), "o_orderstatus", status)]
            updates += [A.DeleteTriple(v("o"), "o_orderpriority", src),
                        A.AddTriple(v("o"), "o_orderpriority", dst)]
        elif part[0] == "insert":
            doc = {"@id": f"Order/{part[1]}", "@type": "Order", **dict(part[2])}
            updates.append(A.InsertDocument(doc))
        elif part[0] == "update":
            updates.append(A.UpdateDocument({"@id": f"Order/{part[1]}", **dict(part[2])}))
        else:
            updates.append(A.DeleteDocument(f"Order/{part[1]}"))
    return A.And(*words, *updates)


WORKLOADS = {w.name: w for w in (ReadMix, PathClosure, CommitTimetravel)}
