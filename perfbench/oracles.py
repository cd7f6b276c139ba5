"""Correctness oracles, run after the timed loop.

- ``read_mix``: DuckDB SQL over the same parquet files the program
  reads; every request template carries its paired SQL.
- ``path_closure``: pure-Python BFS over the generated edge list.
- ``commit_timetravel``: a Python model of the live triple set at
  every commit.

Results compare as multisets of normalised rows: numbers compare
rounded to 1e-6 whatever their text form, so ``"711.5"``,
``Decimal("711.500000")`` and ``711.5`` agree.
"""

from __future__ import annotations

import decimal
import hashlib
import json
from collections import Counter, defaultdict

ISO = "%Y-%m-%d %H:%M:%S"


def norm(value):
    if value is None or isinstance(value, bool):
        return value
    if isinstance(value, (int, float, decimal.Decimal)):
        return round(float(value), 6)
    if hasattr(value, "strftime"):
        return value.strftime(ISO)
    if isinstance(value, str):
        try:
            return round(float(value), 6)
        except ValueError:
            return value
    return str(value)


def norm_rows(rows) -> list[tuple]:
    return sorted((tuple(norm(v) for v in r) for r in rows), key=repr)


def checksum(rows) -> str:
    return hashlib.sha1(repr(norm_rows(rows)).encode()).hexdigest()[:16]


def same_rows(got, want) -> bool:
    return Counter(norm_rows(got)) == Counter(norm_rows(want))


# -- read_mix: DuckDB ---------------------------------------------------------


def _point_sql(cls: str, key: int) -> str:
    if cls == "Customer":
        return f"""
        SELECT 'rdf:type', 'Customer' FROM customer WHERE c_custkey = {key}
        UNION ALL SELECT 'c_name', c_name FROM customer WHERE c_custkey = {key}
        UNION ALL SELECT 'c_acctbal', CAST(c_acctbal AS VARCHAR) FROM customer WHERE c_custkey = {key}
        UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer WHERE c_custkey = {key}
        UNION ALL SELECT 'c_nation', 'Nation/' || c_nationkey FROM customer WHERE c_custkey = {key}"""
    return f"""
        SELECT 'rdf:type', 'Order' FROM orders WHERE o_orderkey = {key}
        UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders WHERE o_orderkey = {key}
        UNION ALL SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM orders WHERE o_orderkey = {key}
        UNION ALL SELECT 'o_orderdate', strftime(o_orderdate, '{ISO}') FROM orders WHERE o_orderkey = {key}
        UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders WHERE o_orderkey = {key}
        UNION ALL SELECT 'o_customer', 'Customer/' || o_custkey FROM orders WHERE o_orderkey = {key}"""


def read_sql(req: tuple) -> str:
    """The SQL paired with one read_mix request."""
    kind, template, p = req
    if kind == "point":
        return _point_sql(*p)
    if template == "count_by_customer":
        nation, status = p
        return f"""SELECT 'Customer/' || c_custkey, COUNT(*) FROM customer
            JOIN orders ON o_custkey = c_custkey
            WHERE c_nationkey = {nation} AND o_orderstatus = '{status}' GROUP BY c_custkey"""
    if template == "chain5":
        region, seg, prio = p
        return f"""SELECT 'Nation/' || n_nationkey, COUNT(*) FROM customer
            JOIN nation ON c_nationkey = n_nationkey JOIN orders ON o_custkey = c_custkey
            WHERE n_regionkey = {region} AND c_mktsegment = '{seg}'
              AND o_orderpriority = '{prio}' GROUP BY n_nationkey"""
    if template == "opt":
        nation, seg, prio = p
        return f"""SELECT 'Customer/' || c_custkey,
                   CASE WHEN o_orderkey IS NULL THEN NULL ELSE 'Order/' || o_orderkey END
            FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority = '{prio}')
              ON o_custkey = c_custkey
            WHERE c_nationkey = {nation} AND c_mktsegment = '{seg}'"""
    if template == "not":
        nation, seg, status = p
        return f"""SELECT 'Customer/' || c_custkey FROM customer
            WHERE c_nationkey = {nation} AND c_mktsegment = '{seg}' AND NOT EXISTS (
              SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = '{status}')"""
    if template == "typecast":
        nation, floor = p
        return f"""SELECT 'Customer/' || c_custkey, c_acctbal FROM customer
            WHERE c_nationkey = {nation} AND c_acctbal > {floor}"""
    if template == "customer_orders":
        seg, nation, floor, status, limit = p
        return f"""WITH par AS (
              SELECT c_custkey, c_name, c_acctbal FROM customer
              WHERE c_mktsegment = '{seg}' AND c_nationkey = {nation} AND c_acctbal > {floor}
              ORDER BY c_custkey LIMIT {limit}),
            ch AS (
              SELECT o_custkey, to_json(list(struct_pack(o_orderkey := o_orderkey,
                                                         o_totalprice := o_totalprice)
                                             ORDER BY o_orderkey))::VARCHAR AS orders
              FROM orders WHERE o_orderstatus = '{status}' GROUP BY o_custkey)
            SELECT c_custkey, c_name, c_acctbal, COALESCE(ch.orders, '[]')
            FROM par LEFT JOIN ch ON c_custkey = o_custkey"""
    if template == "orders_in_nation":
        (nation,) = p
        return f"""SELECT 'Order/' || o_orderkey FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_nationkey = {nation}"""
    if template == "order_region":
        (order,) = p
        return f"""SELECT 'Region/' || n_regionkey FROM orders
            JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderkey = {order}"""
    raise ValueError(f"no SQL for {req!r}")


class ReadOracle:
    def __init__(self, table_dir: str, names):
        import duckdb

        self.con = duckdb.connect()
        for name in names:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_dir}/{name}.parquet')"
            )

    def expected(self, req: tuple) -> list[tuple]:
        return self.con.execute(read_sql(req)).fetchall()

    def check(self, req: tuple, rows: list[tuple]) -> bool:
        want = self.expected(req)
        if req[1] == "customer_orders":
            # nested JSON arrays compare as parsed, normalised values
            rows = [r[:-1] + (_json_norm(r[-1]),) for r in rows]
            want = [r[:-1] + (_json_norm(r[-1]),) for r in want]
        return same_rows(rows, want)

    def close(self):
        self.con.close()


def _json_norm(text: str) -> str:
    items = [{k: norm(v) for k, v in d.items()} for d in json.loads(text)]
    return json.dumps(sorted(items, key=lambda d: json.dumps(d, sort_keys=True)), sort_keys=True)


# -- path_closure: BFS --------------------------------------------------------


class PathOracle:
    def __init__(self, parent_edges, link_edges):
        self.up = defaultdict(set)
        self.down = defaultdict(set)
        self.link = defaultdict(set)
        for s, o in parent_edges:
            self.up[s].add(o)
            self.down[o].add(s)
        for s, o in link_edges:
            self.link[s].add(o)
        self.parent_nodes = set(self.up) | set(self.down)

    @staticmethod
    def _plus(adj, starts) -> set:
        seen: set = set()
        frontier = set()
        for s in starts:
            frontier |= adj[s]
        while frontier:
            seen |= frontier
            frontier = {n for f in frontier for n in adj[f]} - seen
        return seen

    @staticmethod
    def _walks(adj, start, lo: int, hi: int) -> set:
        out: set = set()
        layer = {start}
        for k in range(1, hi + 1):
            layer = {n for f in layer for n in adj[f]}
            if k >= lo:
                out |= layer
        return out

    def expected(self, shape: str, anchor: str) -> set:
        if shape in ("up_plus", "up_star"):
            got = self._plus(self.up, [anchor])
        elif shape in ("down_plus", "down_star"):
            got = self._plus(self.down, [anchor])
        elif shape == "times_up":
            return self._walks(self.up, anchor, 1, 3)
        elif shape == "seq_link_plus":
            return self._plus(self.up, self.link[anchor])
        else:
            raise ValueError(shape)
        if shape.endswith("_star") and anchor in self.parent_nodes:
            got = got | {anchor}
        return got

    def check(self, req: tuple, rows: list[tuple]) -> bool:
        _, shape, anchor = req
        got = [r[0] for r in rows]
        return len(got) == len(set(got)) and set(got) == self.expected(shape, anchor)


# -- commit_timetravel: live-set model ----------------------------------------


def update_fields(fields) -> list[tuple[str, str]]:
    return [(p, str(v)) for p, v in fields]


class LiveModel:
    """Live triples (subject, predicate, obj) at every commit of the
    instance graph: the base layer plus, for each touched triple, its
    add/del events in commit order."""

    def __init__(self, base_keys):
        self.base = set(base_keys)
        self.base_by_subject = defaultdict(set)
        self.base_by_po = defaultdict(set)
        for k in self.base:
            self.base_by_subject[k[0]].add(k)
            self.base_by_po[k[1:]].add(k)
        self.events: dict[tuple, list] = defaultdict(list)
        self.ev_by_subject = defaultdict(set)
        self.ev_by_po = defaultdict(set)
        self.deltas: dict[int, tuple[set, set]] = {}
        self.head = 0

    def visible(self, key, at: int) -> bool:
        last = None
        for seq, op in self.events.get(key, ()):
            if seq > at:
                break
            last = op
        return key in self.base if last is None else last == "add"

    def document(self, subject: str, at: int) -> set:
        keys = self.base_by_subject.get(subject, set()) | self.ev_by_subject.get(subject, set())
        return {k for k in keys if self.visible(k, at)}

    def with_po(self, p: str, o: str, at: int) -> set:
        keys = self.base_by_po.get((p, o), set()) | self.ev_by_po.get((p, o), set())
        return {k for k in keys if self.visible(k, at)}

    def commit(self, seq: int, parts) -> tuple[set, set]:
        """Expected (adds, dels) of one transaction against the head."""
        head = self.head
        adds: set = set()
        dels: set = set()
        for part in parts:
            if part[0] == "close":
                subs = {k[0] for k in self.with_po("o_customer", f"Customer/{part[1]}", head)}
                subs &= {k[0] for k in self.with_po("o_orderstatus", "O", head)}
                dels |= {(s, "o_orderstatus", "O") for s in subs}
                adds |= {(s, "o_orderstatus", "F") for s in subs}
            elif part[0] == "reprioritize":
                _, src, dst, status = part
                subs = {k[0] for k in self.with_po("o_orderpriority", src, head)}
                subs &= {k[0] for k in self.with_po("o_orderstatus", status, head)}
                dels |= {(s, "o_orderpriority", src) for s in subs}
                adds |= {(s, "o_orderpriority", dst) for s in subs}
            elif part[0] == "insert":
                s = f"Order/{part[1]}"
                adds.add((s, "rdf:type", "Order"))
                adds |= {(s, p, o) for p, o in update_fields(part[2])}
            elif part[0] == "update":
                s = f"Order/{part[1]}"
                dels |= self.document(s, head)
                adds |= {(s, p, o) for p, o in update_fields(part[2])}
            elif part[0] == "delete":
                dels |= self.document(f"Order/{part[1]}", head)
        if adds & dels:
            raise ValueError(f"commit {seq} adds and deletes the same triple")
        for op, keys in (("add", adds), ("del", dels)):
            for k in keys:
                self.events[k].append((seq, op))
                self.ev_by_subject[k[0]].add(k)
                self.ev_by_po[k[1:]].add(k)
        self.deltas[seq] = (adds, dels)
        self.head = seq
        return adds, dels

    def diff(self, a: int, b: int) -> set:
        keys = set()
        for seq in range(a + 1, b + 1):
            adds, dels = self.deltas[seq]
            keys |= adds | dels
        out = set()
        for k in keys:
            va, vb = self.visible(k, a), self.visible(k, b)
            if vb and not va:
                out.add(("added", "instance") + k)
            elif va and not vb:
                out.add(("removed", "instance") + k)
        return out

    def live_rows(self) -> int:
        n = len(self.base)
        for k in self.events:
            n += self.visible(k, self.head) - (k in self.base)
        return n
