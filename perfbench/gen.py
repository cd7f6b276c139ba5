"""Seeded input generators for the three workloads.

Everything the program receives is made here from one ``--seed``: the
TPC-H-shaped tables behind the knowledge graph, the hierarchy graph of
``path_closure`` and the request stream of every workload, commit
transactions included.  Request streams are plain tuples, so two runs
compare them with ``==``.

Each stream repeats a fixed cycle of request kinds and the seed picks
only the constants inside each request.  The first *n* requests of any
seed therefore carry the same mix, which keeps per-kind medians
comparable from seed to seed while the requests themselves differ.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STATUSES = ("F", "O", "P")
N_NATIONS = 25
N_REGIONS = 5

# read_mix: 4 point, 3 join, 2 gql, 1 path per cycle of ten
READ_CYCLE = ("point", "join", "point", "gql", "point", "join", "path", "point", "gql", "join")
JOIN_TEMPLATES = ("count_by_customer", "chain5", "opt", "not", "typecast")
HOT_SET = 300  # entities that take about half of the point lookups

# path_closure: (kind, shape, anchor level); 4 anchored (2 up, 2 down), 2 bounded
PATH_CYCLE = (
    ("anchored", "up_plus", 8),
    ("anchored", "down_plus", 6),
    ("bounded", "times_up", 8),
    ("anchored", "up_star", 5),
    ("anchored", "down_star", 7),
    ("bounded", "seq_link_plus", None),  # anchored at a link source
)
PATH_LEVELS = 10  # depth of the hierarchy: levels 0 .. 9
PATH_ROOTS = 3
PATH_FANOUT = 2.5
PATH_SECOND_PARENT = 0.05  # share of nodes with a cross-link to a second parent
PATH_LINKS = 120  # sparse "link" edges from random nodes to shallow ones
PATH_LINK_LEVELS = 2  # link targets sit on levels 1 .. 2

# commit_timetravel: 3 commits, 4 as-of reads, 2 delta queries, 1 diff
COMMIT_CYCLE = ("commit", "asof", "delta", "asof", "commit", "asof", "diff", "commit", "asof", "delta")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input family, so adding a family never
    shifts another family's draws."""
    return np.random.default_rng([seed, sum(ord(c) * 31**i for i, c in enumerate(stream)) % 2**32])


# -- TPC-H-shaped tables ------------------------------------------------------


def tpch_tables(seed: int, n_customers: int) -> dict[str, pa.Table]:
    """region, nation, customer, supplier and orders with the column
    names and types ``tpch_store`` maps into the knowledge graph; ten
    orders per customer."""
    rng = _rng(seed, "tables")
    n_orders = 10 * n_customers
    n_suppliers = max(1, n_customers // 15)
    cust_keys = np.arange(1, n_customers + 1, dtype=np.int64)
    order_keys = np.arange(1, n_orders + 1, dtype=np.int64)
    supp_keys = np.arange(1, n_suppliers + 1, dtype=np.int64)
    days = rng.integers(0, 2400, n_orders)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(N_REGIONS), pa.int32()),
            "r_name": [f"REGION{r}" for r in range(N_REGIONS)],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": [f"NATION{n:02d}" for n in range(N_NATIONS)],
            "n_regionkey": pa.array([n % N_REGIONS for n in range(N_NATIONS)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": cust_keys,
            "c_name": [f"Customer#{k:09d}" for k in cust_keys],
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_customers), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), n_customers)],
        }),
        "supplier": pa.table({
            "s_suppkey": supp_keys,
            "s_name": [f"Supplier#{k:09d}" for k in supp_keys],
            "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_suppliers), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_suppliers), 2),
        }),
        "orders": pa.table({
            "o_orderkey": order_keys,
            "o_custkey": rng.integers(1, n_customers + 1, n_orders).astype(np.int64),
            "o_orderstatus": [STATUSES[i] for i in rng.choice(3, n_orders, p=[0.49, 0.49, 0.02])],
            "o_totalprice": np.round(rng.uniform(850.0, 500000.0, n_orders), 2),
            "o_orderdate": pa.array(
                (np.datetime64("1992-01-01") + days).astype("datetime64[us]"), pa.timestamp("us")
            ),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, len(PRIORITIES), n_orders)],
        }),
    }


# -- read_mix -----------------------------------------------------------------


def read_requests(seed: int, n_customers: int, n: int) -> list[tuple]:
    """``n`` read requests ``(kind, template, params)`` over the tables
    of :func:`tpch_tables` with the same ``n_customers``."""
    rng = _rng(seed, "read_mix")
    n_orders = 10 * n_customers
    universe = [("Customer", k) for k in range(1, n_customers + 1)] + [
        ("Order", k) for k in range(1, n_orders + 1)
    ]
    hot = [universe[i] for i in rng.permutation(len(universe))[:HOT_SET]]

    def point():
        if rng.random() < 0.5:
            cls, key = hot[rng.integers(len(hot))]
        else:
            cls, key = universe[rng.integers(len(universe))]
        return ("point", "document", (cls, key))

    def nation():
        return int(rng.integers(N_NATIONS))

    def seg():
        return SEGMENTS[rng.integers(len(SEGMENTS))]

    def prio():
        return PRIORITIES[rng.integers(len(PRIORITIES))]

    def status():
        return ("F", "O")[rng.integers(2)]

    def join(template):
        if template == "count_by_customer":
            return ("join", template, (nation(), status()))
        if template == "chain5":
            return ("join", template, (int(rng.integers(N_REGIONS)), seg(), prio()))
        if template == "opt":
            return ("join", template, (nation(), seg(), prio()))
        if template == "not":
            return ("join", template, (nation(), seg(), status()))
        return ("join", template, (nation(), round(float(rng.uniform(0, 8000)), 2)))

    def gql():
        return ("gql", "customer_orders", (
            seg(), nation(), round(float(rng.uniform(-500, 5000)), 2),
            status(), int(rng.integers(3, 12)),
        ))

    def path(i):
        if i % 2 == 0:
            return ("path", "orders_in_nation", (nation(),))
        return ("path", "order_region", (int(rng.integers(1, n_orders + 1)),))

    out = []
    joins = paths = 0
    for i in range(n):
        kind = READ_CYCLE[i % len(READ_CYCLE)]
        if kind == "point":
            out.append(point())
        elif kind == "join":
            out.append(join(JOIN_TEMPLATES[joins % len(JOIN_TEMPLATES)]))
            joins += 1
        elif kind == "gql":
            out.append(gql())
        else:
            out.append(path(paths))
            paths += 1
    return out


# -- path_closure -------------------------------------------------------------


class Hierarchy:
    """Random rooted DAG: every node below level 0 has one parent on
    the level above, a few have a second (cross-link) parent, and a
    sparse ``link`` predicate points from random nodes to shallow
    ones.  ``parent`` edges point up (child → parent)."""

    def __init__(self, seed: int):
        rng = _rng(seed, "hierarchy")
        sizes = [PATH_ROOTS]
        while len(sizes) < PATH_LEVELS:
            sizes.append(int(round(sizes[-1] * PATH_FANOUT)))
        self.levels: list[list[str]] = []
        nid = 0
        for size in sizes:
            self.levels.append([f"Node/{nid + i}" for i in range(size)])
            nid += size
        self.parent_edges: list[tuple[str, str]] = []
        for lvl in range(1, PATH_LEVELS):
            above = self.levels[lvl - 1]
            for node in self.levels[lvl]:
                first = int(rng.integers(len(above)))
                self.parent_edges.append((node, above[first]))
                if len(above) > 1 and rng.random() < PATH_SECOND_PARENT:
                    second = (first + 1 + int(rng.integers(len(above) - 1))) % len(above)
                    self.parent_edges.append((node, above[second]))
        nodes = [n for level in self.levels for n in level]
        shallow = [n for level in self.levels[1:PATH_LINK_LEVELS + 1] for n in level]
        self.link_edges = sorted({
            (nodes[a], shallow[b])
            for a, b in zip(rng.integers(0, len(nodes), PATH_LINKS),
                            rng.integers(0, len(shallow), PATH_LINKS))
            if nodes[a] != shallow[b]
        })
        self.level_of = {n: lvl for lvl, level in enumerate(self.levels) for n in level}

    def full_height(self) -> set[str]:
        """Nodes with a descendant on the deepest level."""
        reach = set(self.levels[-1])
        for child, parent in sorted(self.parent_edges, key=lambda e: -self.level_of[e[0]]):
            if child in reach:
                reach.add(parent)
        return reach

    def triples(self) -> pa.Table:
        """The graph as a triple table in the store's column layout."""
        rows = [(n, "rdf:type", "Node", "iri") for level in self.levels for n in level]
        rows += [(s, "parent", o, "iri") for s, o in self.parent_edges]
        rows += [(s, "link", o, "iri") for s, o in self.link_edges]
        s, p, o, t = zip(*rows)
        n = len(rows)
        return pa.table({
            "graph": ["instance"] * n,
            "subject": list(s),
            "predicate": list(p),
            "obj": list(o),
            "obj_type": list(t),
            "obj_num": pa.nulls(n, pa.float64()),
            "obj_lang": pa.nulls(n, pa.string()),
            "obj_ts": pa.nulls(n, pa.timestamp("us")),
        })


def path_requests(seed: int, graph: Hierarchy, n: int) -> list[tuple]:
    """``n`` path requests ``(kind, shape, anchor)``; the cycle fixes
    each request's shape and anchor level, the seed picks the anchor."""
    rng = _rng(seed, "path_closure")
    link_sources = sorted({s for s, _ in graph.link_edges})
    # downward anchors reach the deepest level, so a downward request at
    # level L always runs the same number of BFS rounds
    full = graph.full_height()
    out = []
    for i in range(n):
        kind, shape, level = PATH_CYCLE[i % len(PATH_CYCLE)]
        if level is None:
            nodes = link_sources
        elif shape.startswith("down"):
            nodes = [x for x in graph.levels[level] if x in full]
        else:
            nodes = graph.levels[level]
        out.append((kind, shape, nodes[rng.integers(len(nodes))]))
    return out


# -- commit_timetravel --------------------------------------------------------


class OrderState:
    """What the generator knows of each order while it writes the
    commit stream: enough structure (customer, status, priority,
    liveness) to pick updates that match rows and never add and delete
    one triple in the same commit.  Lexical forms of the base values
    are not needed: the generator never names a base value it did not
    create."""

    def __init__(self, orders: pa.Table):
        cols = orders.to_pydict()
        self.cust = dict(zip(cols["o_orderkey"], cols["o_custkey"]))
        self.status = dict(zip(cols["o_orderkey"], cols["o_orderstatus"]))
        self.prio = dict(zip(cols["o_orderkey"], cols["o_orderpriority"]))
        self.price: dict[int, int] = {}  # only prices the generator wrote
        self.next_key = max(self.cust) + 1


def commit_requests(seed: int, orders: pa.Table, n_customers: int, n: int) -> list[tuple]:
    """``n`` requests for ``commit_timetravel``.

    Commit transactions are ``("commit", seq, parts)``; ``parts`` is a
    tuple of update descriptions turned into WOQL terms by the runner
    (one per commit here, in the rotation ``COMMIT_KINDS``):

    - ``("close", customer_key)``: pattern update, every open order of
      the customer becomes finished (delete + add one status triple
      each);
    - ``("reprioritize", from_prio, to_prio, status)``: pattern update
      over every order with that priority and status (hundreds of
      triples);
    - ``("insert", order_key, fields)``: InsertDocument of a new order;
    - ``("update", order_key, fields)``: UpdateDocument of an order, all
      field values changed and no ``@type``;
    - ``("delete", order_key)``: DeleteDocument.

    Reads name commits that exist when they run: ``("asof", seq, query)``,
    ``("delta", seq, "added"|"removed")`` and ``("diff", seq_a, seq_b)``.
    """
    rng = _rng(seed, "commit_timetravel")
    st = OrderState(orders)
    head = 0
    out: list[tuple] = []
    for i in range(n):
        kind = COMMIT_CYCLE[i % len(COMMIT_CYCLE)]
        if kind == "commit":
            head += 1
            out.append(("commit", head, _transaction(rng, st, n_customers, head)))
        elif kind == "asof":
            at = int(rng.integers(0, head + 1))
            if i % 4 == 1:
                query = ("count", "o_orderstatus", ("F", "O")[rng.integers(2)])
            else:
                query = ("document", f"Order/{_live_order(rng, st)}")
            out.append(("asof", at, query))
        elif kind == "delta":
            out.append(("delta", int(rng.integers(1, head + 1)), ("added", "removed")[rng.integers(2)]))
        else:
            a, b = sorted(int(x) for x in rng.choice(head + 1, 2, replace=False))
            out.append(("diff", a, b))
    return out


def _live_order(rng, st: OrderState) -> int:
    keys = list(st.cust)
    return keys[rng.integers(len(keys))]


def _fields(rng, st: OrderState, n_customers: int, old: int | None) -> tuple:
    """Field values for an inserted or updated order; for an update every
    value differs from the order's current one."""
    while True:
        cust = int(rng.integers(1, n_customers + 1))
        status = STATUSES[rng.integers(2)]
        prio = PRIORITIES[rng.integers(len(PRIORITIES))]
        price = int(rng.integers(1000, 400000))
        if old is None or (
            cust != st.cust[old] and status != st.status[old]
            and prio != st.prio[old] and price != st.price.get(old)
        ):
            return (("o_customer", f"Customer/{cust}"), ("o_orderstatus", status),
                    ("o_orderpriority", prio), ("o_totalprice", price))


COMMIT_KINDS = ("close", "insert", "reprioritize", "update", "delete")


def _transaction(rng, st: OrderState, n_customers: int, seq: int) -> tuple:
    """One commit of one kind, in a fixed rotation.  No commit adds and
    deletes the same triple: updates change every field value."""
    kind = COMMIT_KINDS[(seq - 1) % len(COMMIT_KINDS)]
    if kind == "close":
        open_custs = sorted({c for k, c in st.cust.items() if st.status[k] == "O"})
        cust = open_custs[rng.integers(len(open_custs))]
        for k, c in st.cust.items():
            if c == cust and st.status[k] == "O":
                st.status[k] = "F"
        return (("close", cust),)
    if kind == "reprioritize":
        src, dst = (PRIORITIES[i] for i in rng.choice(len(PRIORITIES), 2, replace=False))
        status = ("F", "O")[rng.integers(2)]
        for k, p in st.prio.items():
            if p == src and st.status[k] == status:
                st.prio[k] = dst
        return (("reprioritize", src, dst, status),)
    if kind == "insert":
        key = st.next_key
        st.next_key += 1
        fields = _fields(rng, st, n_customers, None)
        _apply_fields(st, key, fields)
        return (("insert", key, fields),)
    key = _live_order(rng, st)
    if kind == "update":
        fields = _fields(rng, st, n_customers, key)
        _apply_fields(st, key, fields)
        return (("update", key, fields),)
    for table in (st.cust, st.status, st.prio, st.price):
        table.pop(key, None)
    return (("delete", key),)


def _apply_fields(st: OrderState, key: int, fields: tuple) -> None:
    f = dict(fields)
    st.cust[key] = int(f["o_customer"].split("/")[1])
    st.status[key] = f["o_orderstatus"]
    st.prio[key] = f["o_orderpriority"]
    st.price[key] = f["o_totalprice"]
