"""GraphQL request parsing + execution against the document read
algebra.

Parity: the reference serves a generated GraphQL schema per database
(class frames → object types, filter inputs, Query root — see
``documents.graphql_schema``) and answers GraphQL queries over HTTP.
This module closes the request side: a recursive-descent parser for
the query-document subset that schema exposes —

    query {
      Customer(filter: {c_acctbal: {gt: 1000}, _or: [...]},
               orderBy: {c_acctbal: DESC}, limit: 10, offset: 5) {
        c_custkey
        c_name
      }
    }

— compiled onto :func:`terminus_server_spark.docs.documents.
query_documents`.  Parsing is driver-side compile work on a
kilobyte-sized string; the data plane is exactly the read algebra's
plan (one filtered scan, TakeOrderedAndProject for orderBy+limit), so
query cost is unchanged by the wire format.

Grammar subset (the shapes the generated schema admits):
- one operation, optional ``query`` keyword, one or more root fields;
- root field = class name with optional (id / ids / filter / orderBy /
  limit / offset) arguments and a flat selection set of scalar fields;
- filter object: per-field operator maps ``{field: {op: value}}``
  with op in eq/ne/gt/ge/lt/le/like/regex/in, plus ``_and``/``_or``
  (lists) and ``_not`` combinators, arbitrarily nested;
- orderBy: object ``{field: ASC|DESC}`` or list of such;
- values: Int, Float, String, Boolean, enum tokens, lists.
"""

from __future__ import annotations

import re
from typing import NamedTuple

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<str>"(?:[^"\\]|\\.)*")
      | (?P<num>-?\d+(?:\.\d+)?)
      | (?P<name>[_A-Za-z][_0-9A-Za-z]*)
      | (?P<punct>\.\.\.|[{}()\[\]:,$=!@])
    )""",
    re.VERBOSE,
)


def _tokenize(src: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN.match(src, pos)
        if m is None:
            if src[pos:].strip() == "":
                break
            raise ValueError(f"graphql: bad character at {pos}: {src[pos:pos+20]!r}")
        pos = m.end()
        for kind in ("str", "num", "name", "punct"):
            tok = m.group(kind)
            if tok is not None:
                out.append((kind, tok))
                break
    return out


def _split_fragments(tokens: list[tuple[str, str]]):
    """(operation_tokens, {name: (type_condition, selection_tokens)}):
    split a GraphQL DOCUMENT into its operation and its top-level
    ``fragment Name on Type { ... }`` definitions (spec: fragments
    are document-level siblings of the operation, any order).  The
    fragment bodies stay as raw token slices — spreads expand them
    lazily at parse time, so a fragment may reference one defined
    later in the document.  Only depth-0 ``fragment`` keywords are
    definitions; a field named ``fragment`` inside a selection set
    stays a field."""
    ops, frags, i, depth = [], {}, 0, 0
    while i < len(tokens):
        kind, tok = tokens[i]
        if (
            depth == 0
            and kind == "name"
            and tok == "fragment"
            and i + 3 < len(tokens)
            and tokens[i + 1][0] == "name"
            and tokens[i + 2] == ("name", "on")
            and tokens[i + 3][0] == "name"
        ):
            name, cond = tokens[i + 1][1], tokens[i + 3][1]
            j = i + 4
            if j >= len(tokens) or tokens[j][1] != "{":
                raise ValueError(
                    f"graphql: fragment {name!r} needs a selection set"
                )
            d = 0
            k = j
            while k < len(tokens):
                if tokens[k][1] == "{":
                    d += 1
                elif tokens[k][1] == "}":
                    d -= 1
                    if d == 0:
                        break
                k += 1
            if d != 0:
                raise ValueError(
                    f"graphql: unbalanced braces in fragment {name!r}"
                )
            if name in frags:
                raise ValueError(f"graphql: duplicate fragment {name!r}")
            frags[name] = (cond, tokens[j : k + 1])
            i = k + 1
            continue
        if tok == "{":
            depth += 1
        elif tok == "}":
            depth -= 1
        ops.append(tokens[i])
        i += 1
    return ops, frags


class _Parser:
    def __init__(
        self,
        tokens: list[tuple[str, str]],
        variables: dict | None = None,
        fragments: dict | None = None,
        _expanding: set | None = None,
    ):
        self.toks = tokens
        self.i = 0
        # copy: declared defaults must not leak into the caller's
        # dict (stale defaults would shadow later requests' values)
        self.vars = dict(variables) if variables else {}
        self.frags = fragments if fragments is not None else {}
        # spread-expansion stack shared across sub-parsers: a
        # fragment spreading itself (directly or via a chain) is a
        # spec error, not an infinite loop
        self.expanding = _expanding if _expanding is not None else set()

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, value: str):
        kind, tok = self.next()
        if tok != value:
            raise ValueError(f"graphql: expected {value!r}, got {tok!r}")

    def value(self):
        kind, tok = self.next()
        if kind == "str":
            # JSON-compatible escapes
            body = tok[1:-1]
            return re.sub(
                r"\\(.)",
                lambda m: {"n": "\n", "t": "\t", "r": "\r"}.get(m.group(1), m.group(1)),
                body,
            )
        if kind == "num":
            return float(tok) if "." in tok else int(tok)
        if kind == "name":
            if tok == "true":
                return True
            if tok == "false":
                return False
            if tok == "null":
                return None
            return tok  # enum token (ASC/DESC)
        if tok == "$":
            _, vname = self.next()
            if vname not in self.vars:
                raise ValueError(f"graphql: undefined variable ${vname}")
            return self.vars[vname]
        if tok == "[":
            items = []
            while self.peek()[1] != "]":
                items.append(self.value())
                if self.peek()[1] == ",":
                    self.next()
            self.expect("]")
            return items
        if tok == "{":
            obj = {}
            while self.peek()[1] != "}":
                _, key = self.next()
                self.expect(":")
                obj[key] = self.value()
                if self.peek()[1] == ",":
                    self.next()
            self.expect("}")
            return obj
        raise ValueError(f"graphql: unexpected token {tok!r} in value")

    def arguments(self) -> dict:
        args = {}
        if self.peek()[1] != "(":
            return args
        self.expect("(")
        while self.peek()[1] != ")":
            _, key = self.next()
            self.expect(":")
            args[key] = self.value()
            if self.peek()[1] == ",":
                self.next()
        self.expect(")")
        return args

    def _directives(self) -> bool:
        """Parse the executable directives after a field / spread /
        inline fragment and return whether the selection is KEPT:
        ``@include(if:)`` and ``@skip(if:)`` — the two directives the
        GraphQL spec requires every implementation to support —
        evaluate at parse time (their arguments are booleans or
        variables, both already resolved here), so a skipped field
        never reaches compilation at all.  Multiple directives AND
        together per the spec (include all true, no skip true).
        Unknown directives raise — silently ignoring one would
        change result shape."""
        keep = True
        while self.peek()[1] == "@":
            self.next()
            kind, name = self.next()
            if kind != "name":
                raise ValueError(
                    f"graphql: expected directive name, got {name!r}"
                )
            args = self.arguments()
            if name == "include":
                keep = keep and bool(args.get("if"))
            elif name == "skip":
                keep = keep and not bool(args.get("if"))
            else:
                raise ValueError(f"graphql: unknown directive @{name}")
        return keep

    def selection_set(self) -> list:
        """Scalar fields come back as strings; nested related-field
        selections as {"name", "args", "fields"} dicts (one level of
        GraphQL's recursive grammar per call — arbitrary depth falls
        out of the recursion)."""
        self.expect("{")
        fields = []
        while self.peek()[1] != "}":
            kind, tok = self.next()
            if tok == "...":
                # fragment spread (...Name), inline fragment
                # (... on Type { }), or bare inline (... { }) — all
                # become {"frag", "on", "fields"} markers, resolved
                # against the level's class at execution
                # (_flatten_selection), where type conditions can be
                # checked including subclass subsumption
                nk, nt = self.peek()
                if nt == "on":
                    self.next()
                    ck, cond = self.next()
                    if ck != "name":
                        raise ValueError(
                            f"graphql: expected type condition, got {cond!r}"
                        )
                    keep = self._directives()
                    node = {"frag": True, "on": cond,
                            "fields": self.selection_set()}
                    if keep:
                        fields.append(node)
                elif nt == "{" or nt == "@":
                    keep = self._directives()
                    node = {"frag": True, "on": None,
                            "fields": self.selection_set()}
                    if keep:
                        fields.append(node)
                elif nk == "name":
                    self.next()
                    if nt not in self.frags:
                        raise ValueError(
                            f"graphql: undefined fragment {nt!r}"
                        )
                    if nt in self.expanding:
                        raise ValueError(
                            f"graphql: fragment cycle through {nt!r}"
                        )
                    keep = self._directives()
                    cond, body = self.frags[nt]
                    self.expanding.add(nt)
                    try:
                        sub = _Parser(
                            body, self.vars, self.frags, self.expanding
                        ).selection_set()
                    finally:
                        self.expanding.discard(nt)
                    if keep:
                        fields.append(
                            {"frag": True, "on": cond, "fields": sub}
                        )
                else:
                    raise ValueError(
                        f"graphql: expected fragment name or 'on' after "
                        f"'...', got {nt!r}"
                    )
                if self.peek()[1] == ",":
                    self.next()
                continue
            if kind != "name":
                raise ValueError(f"graphql: expected field name, got {tok!r}")
            args = self.arguments()
            keep = self._directives()
            if args or self.peek()[1] == "{":
                sub = self.selection_set()
                node: object = {"name": tok, "args": args, "fields": sub}
            else:
                node = tok
            if keep:
                fields.append(node)
            if self.peek()[1] == ",":
                self.next()
        self.expect("}")
        return fields

    def operation(self) -> tuple[str, dict]:
        """(op_type, roots): op_type is ``query`` or ``mutation``.
        Mutation roots carry no selection set requirement — a bare
        root (args only) is legal, matching the wire shape of the
        reference's mutation fields."""
        op = "query"
        if self.peek()[0] == "name" and self.peek()[1] in ("query", "mutation"):
            op = self.next()[1]
            # variable declarations: query($x: Float, $y: Int = 3) —
            # names/types are documentation here (values arrive via the
            # ``variables`` dict, GraphQL's transport convention);
            # declared defaults fill absent variables
            if self.peek()[1] == "(":
                self.next()
                while self.peek()[1] != ")":
                    self.expect("$")
                    _, vname = self.next()
                    self.expect(":")
                    # type expression: Name / Name! / [Name] / [Name!]!
                    if self.peek()[1] == "[":
                        self.next()
                        self.next()  # inner type name
                        if self.peek()[1] == "!":
                            self.next()
                        self.expect("]")
                    else:
                        self.next()  # type name
                    if self.peek()[1] == "!":
                        self.next()
                    if self.peek()[1] == "=":
                        self.next()
                        default = self.value()
                        self.vars.setdefault(vname, default)
                    if self.peek()[1] == ",":
                        self.next()
                self.expect(")")
        self.expect("{")
        roots = []
        while self.peek()[1] != "}":
            kind, cls = self.next()
            if kind != "name":
                raise ValueError(f"graphql: expected class name, got {cls!r}")
            alias = None
            if self.peek()[1] == ":":
                # root alias: result keyed by the alias, query runs
                # against the class named after the colon
                self.next()
                kind2, real = self.next()
                if kind2 != "name":
                    raise ValueError(f"graphql: expected class after alias {cls!r}")
                alias, cls = cls, real
            args = self.arguments()
            keep = self._directives()
            fields = self.selection_set() if self.peek()[1] == "{" else []
            if keep:
                roots.append(
                    (cls, {"args": args, "fields": fields, "alias": alias})
                )
        self.expect("}")
        return op, roots

def parse_graphql(src: str, variables: dict | None = None) -> dict:
    """GraphQL query string → {class-or-alias: {args, fields}}
    request dict.  ``variables`` supplies $var values (the wire
    convention: the query text stays constant and cacheable, values
    travel separately)."""
    toks, frags = _split_fragments(_tokenize(src))
    op, roots = _Parser(toks, variables, frags).operation()
    if op != "query":
        raise ValueError(f"graphql: expected a query operation, got {op!r}")
    out = {}
    for cls, req in roots:
        if not req["fields"]:
            raise ValueError(f"graphql: query root {cls!r} needs a selection set")
        key = req.get("alias") or cls
        out[key] = {**req, "class": cls}
    return out


def parse_graphql_operation(src: str, variables: dict | None = None) -> tuple[str, list]:
    """GraphQL source → (op_type, [(root_name, {args, fields})...]);
    keeps root order (mutations apply in request order)."""
    toks, frags = _split_fragments(_tokenize(src))
    return _Parser(toks, variables, frags).operation()


def _flatten_selection(fields, cls, inherits=None, relations=None):
    """Resolve fragment markers against the level's class: a spread
    or inline fragment contributes its fields when its type condition
    is absent, equals ``cls``, or names a (transitive) SUPERCLASS of
    ``cls`` per the optional ``inherits`` map ({class: [parents]}) —
    the GraphQL rule that a fragment on an interface/supertype
    applies to concrete subtypes.  A non-matching condition
    contributes nothing (that is the POINT of inline fragments: class
    -conditional selection).  Dict fields whose name is a connection
    pseudo-field (edges/node/pageInfo, when not a registered
    relation) keep the SAME class context, so fragments inside a
    Relay wrapper resolve here too; relation fields resolve at their
    own level's recursion."""
    ancestors = set()
    if inherits:
        stack = list(inherits.get(cls, []))
        while stack:
            a = stack.pop()
            if a not in ancestors:
                ancestors.add(a)
                stack.extend(inherits.get(a, []))
    out = []
    for f in fields:
        if isinstance(f, dict) and f.get("frag"):
            on = f.get("on")
            if on is None or on == cls or on in ancestors:
                out.extend(
                    _flatten_selection(f["fields"], cls, inherits, relations)
                )
        elif (
            isinstance(f, dict)
            and f.get("name") in ("edges", "node", "pageInfo")
            and (relations is None or (cls, f["name"]) not in relations)
        ):
            out.append(
                {**f, "fields": _flatten_selection(
                    f["fields"], cls, inherits, relations)}
            )
        else:
            out.append(f)
    return out


_OPS = ("eq", "ne", "gt", "ge", "lt", "le", "like", "regex", "in")


def filter_to_tree(obj: dict):
    """GraphQL filter object → ``compile_filter`` combinator tree."""
    parts = []
    for key, val in obj.items():
        if key == "_and":
            parts.append(("and", [filter_to_tree(v) for v in val]))
        elif key == "_or":
            parts.append(("or", [filter_to_tree(v) for v in val]))
        elif key == "_not":
            parts.append(("not", filter_to_tree(val)))
        else:
            if not isinstance(val, dict):
                raise ValueError(f"graphql: field filter for {key} must be an object")
            for op, v in val.items():
                if op not in _OPS:
                    raise ValueError(f"graphql: unknown filter op {op!r}")
                parts.append((key, op, v))
    if not parts:
        raise ValueError("graphql: empty filter object")
    if len(parts) == 1:
        return parts[0]
    return ("and", parts)


_PAGING = ("orderBy", "limit", "offset", "first", "after", "last", "before")
_PAGE_INFO = ("endCursor", "hasNextPage", "hasPreviousPage", "startCursor")


class _Paging(NamedTuple):
    order: list  # [(column, ascending)]
    offset: int
    limit: int | None
    bounds: list  # keyset predicates [(column, op, value)]
    cursor: str | None  # the id column, under cursor paging
    backward: bool


def _id_col(cls, id_cols, what):
    key = (id_cols or {}).get(cls)
    if key is None:
        raise ValueError(
            f"graphql: {what} needs an id column registered for {cls} "
            f"(pass id_cols={{...}})"
        )
    return key


def _paging(args, cls, id_cols) -> _Paging:
    """The paging spec of one field's arguments (the rule is in
    :func:`execute_graphql`'s docstring)."""
    fwd = "first" in args or "after" in args
    bwd = "last" in args or "before" in args
    if fwd and bwd:
        raise ValueError(
            "graphql: forward (first/after) and backward (last/before) "
            "cursor args do not combine — pick one paging direction"
        )
    if fwd or bwd:
        key = _id_col(cls, id_cols, "cursor paging (first/after/last/before)")
        if any(k in args for k in ("orderBy", "limit", "offset")):
            raise ValueError(
                "graphql: cursor args (first/after/last/before) do not "
                "combine with orderBy/limit/offset — pick one paging style"
            )
        bounds = [(key, op, args[a]) for a, op in (("after", "gt"), ("before", "lt"))
                  if a in args]
        return _Paging([(key, fwd)], 0, args.get("first" if fwd else "last"),
                       bounds, key, bwd)
    ob = args.get("orderBy") or []
    order = []
    for item in ob if isinstance(ob, list) else [ob]:
        for col, direction in item.items():
            d = str(direction).upper()
            if d not in ("ASC", "DESC"):
                raise ValueError(
                    f"graphql: orderBy direction for {col} must be ASC or "
                    f"DESC, got {direction!r}"
                )
            order.append((col, d == "ASC"))
    return _Paging(order, int(args.get("offset") or 0), args.get("limit"), [],
                   None, False)


def _query_level(frames, relations, cls, args, fields, id_cols=None,
                 inherits=None):
    """``(frame, names)`` for one level of a request: ``cls`` under
    ``args``, with the columns ``names`` rendering ``fields`` in
    request order.  Relation fields recurse here without their paging
    args and apply them per parent."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from terminus_server_spark.docs.documents import filter_documents, query_documents

    fields = _flatten_selection(fields, cls, inherits, relations)
    names = [f if isinstance(f, str) else f["name"] for f in fields]
    scalars = [f for f in fields if isinstance(f, str)]
    nested = [f for f in fields if isinstance(f, dict)]
    predicates = [filter_to_tree(args["filter"])] if "filter" in args else []
    if "id" in args or "ids" in args:
        key = _id_col(cls, id_cols, "the id/ids argument")
        # id and ids each add a predicate, so both give their intersection
        if "id" in args:
            predicates.append((key, "in", [args["id"]]))
        if "ids" in args:
            predicates.append((key, "in", list(args["ids"])))
    spec = _paging(args, cls, id_cols)

    # Relay connection: edges { node { ... } cursor } and pageInfo render
    # one row per edge; a relation registered under either name wins
    conn = {f["name"]: f for f in nested if f["name"] in ("edges", "pageInfo")
            and (cls, f["name"]) not in relations}
    row = scalars  # the scalar fields of each rendered row
    picked = ()  # the connection's pageInfo members
    if conn:
        if len(conn) != len(fields):
            raise ValueError(
                "graphql: connection selections (edges/pageInfo) do not mix "
                "with other fields"
            )
        if spec.cursor is None:
            raise ValueError(
                "graphql: connection selections require cursor paging "
                "(first/after and a registered id column)"
            )
        if "edges" in conn:
            node = next((f for f in conn["edges"]["fields"]
                         if isinstance(f, dict) and f["name"] == "node"), None)
            if node is None:
                raise ValueError("graphql: edges selection needs a node set")
            if any(not isinstance(f, str) for f in node["fields"]):
                raise ValueError(
                    "graphql: connection node selections are scalar-only"
                )
            row = node["fields"]
        if "pageInfo" in conn:
            picked = [s for s in conn["pageInfo"]["fields"] if isinstance(s, str)]
            bad = [s for s in picked if s not in _PAGE_INFO]
            if bad:
                raise ValueError(f"graphql: unknown pageInfo members {bad!r}")
        nested = []
    want_pi = "_pageInfo" in scalars or "pageInfo" in conn
    if want_pi and (spec.cursor is None or spec.limit is None):
        raise ValueError(
            "graphql: _pageInfo requires cursor paging (first or last, and "
            "an id column registered for the class)"
        )
    df = query_documents(
        frames[cls],
        predicates=predicates + spec.bounds,
        order_by=[(c, "asc" if a else "desc") for c, a in spec.order],
        limit=(spec.limit + 1) if want_pi else spec.limit,
        offset=spec.offset,
    )
    if want_pi:
        # pageInfo comes from the page itself: one probe row past the
        # page answers the paging direction's own question, and a
        # LIMIT-1 probe under the reversed bound answers the other one,
        # so there is no COUNT over the match set and no driver collect
        first, key = int(spec.limit), F.col(spec.cursor)
        w_rn = Window.orderBy(key.desc() if spec.backward else key.asc())
        w_all = w_rn.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        df = (
            df.limit(first + 1)
            .withColumn("_rn", F.row_number().over(w_rn))
            .withColumn("_cnt", F.count(F.lit(1)).over(w_all))
        )
        kept, more = F.col("_rn") <= first, F.col("_cnt") > first
        bound = args.get("before" if spec.backward else "after")
        opp = F.lit(False)
        if bound is not None:
            probe = query_documents(
                frames[cls],
                predicates=predicates
                + [(spec.cursor, "ge" if spec.backward else "le", bound)],
                limit=1,
            ).select(F.lit(1).alias("_one")).agg(
                (F.count(F.lit(1)) > 0).alias("_opp")
            )
            df = df.crossJoin(F.broadcast(probe))
            opp = F.col("_opp")

        # min/max over the native-typed key, cast afterwards: a string
        # max over a page spanning 95..105 would be "99"; min/max over
        # the kept rows is direction-free, the page is a contiguous
        # key range either way
        def edge(agg):
            return agg(F.when(kept, key)).over(w_all).cast("string")

        info = {
            "endCursor": edge(F.max),
            "hasNextPage": opp if spec.backward else more,
            "hasPreviousPage": more if spec.backward else opp,
            "startCursor": edge(F.min),
        }
        # only the picked members are rendered (endCursor and
        # hasNextPage when none are), in canonical name order; a
        # struct of all four would keep the unread ones in the plan
        picked = set(picked or ("endCursor", "hasNextPage"))
        df = (
            df.withColumn(
                "_pageInfo" if "_pageInfo" in scalars else "pageInfo",
                F.to_json(F.struct(
                    *[info[m].alias(m) for m in _PAGE_INFO if m in picked]
                )),
            )
            .where(kept)
            .drop("_rn", "_cnt", "_opp")
        )
    if spec.backward:
        # Relay: edges render in the same order in both directions
        df = df.orderBy(F.col(spec.cursor).asc())
    if "__typename" in row:
        df = df.withColumn("__typename", F.lit(cls))
    if "_id" in row:
        key = _id_col(cls, id_cols, "the _id field")
        df = df.withColumn(
            "_id", F.concat(F.lit(cls + "/"), F.col(key).cast("string"))
        )
    # <rel>_count / <rel>_sum_<col>: one child aggregation joined back on
    # the parent key; absent children count 0 / sum 0.0
    for name in row:
        for (c, rel), r in relations.items():
            child_cls, parent_key, child_fk = r[:3]
            if c != cls:
                continue
            if name == f"{rel}_count":
                a = frames[child_cls].groupBy(
                    F.col(child_fk).alias(parent_key)
                ).agg(F.count(F.lit(1)).alias(name))
                df = df.join(a, parent_key, "left_outer").withColumn(
                    name, F.coalesce(F.col(name), F.lit(0))
                )
            elif name.startswith(f"{rel}_sum_"):
                agg_col = name[len(rel) + 5 :]
                a = frames[child_cls].groupBy(
                    F.col(child_fk).alias(parent_key)
                ).agg(
                    F.sum(F.col(agg_col).cast("decimal(28,6)"))
                    .cast("double")
                    .alias(name)
                )
                df = df.join(a, parent_key, "left_outer").withColumn(
                    name, F.coalesce(F.col(name), F.lit(0.0))
                )
    for sub in nested:
        name = sub["name"]
        rel = relations.get((cls, name))
        if rel is None:
            raise ValueError(f"graphql: no relation registered for {cls}.{name}")
        child_cls, parent_key, child_fk = rel[:3]
        to_one = len(rel) > 3 and rel[3] == "one"
        paging = {k: v for k, v in sub["args"].items() if k in _PAGING}
        if to_one and paging:
            raise ValueError(
                f"graphql: paging args {sorted(paging)} invalid on to-one "
                f"field {cls}.{name}"
            )
        child_spec = _paging(paging, child_cls, id_cols)
        child, child_names = _query_level(
            frames, relations, child_cls,
            {k: v for k, v in sub["args"].items() if k not in _PAGING},
            sub["fields"], id_cols=id_cols, inherits=inherits,
        )
        # the child frame keeps every column, the fk too, until the
        # render below projects child_names
        value = F.struct(*[F.col(c) for c in child_names])
        if to_one:
            # the child key is unique by contract; min keeps one row per
            # key if it is not, so parents never fan df
            obj = (
                child.select(
                    F.col(child_fk).alias(parent_key), F.to_json(value).alias(name)
                )
                .groupBy(parent_key)
                .agg(F.min(name).alias(name))
            )
            empty = "null"
        else:
            if paging:
                # one row_number window over the fk pages every parent
                # at once; the keyset bounds filter before it, so rows
                # before a cursor are never ranked
                child = filter_documents(child, child_spec.bounds)
                order = [F.col(c).asc() if a else F.col(c).desc()
                         for c, a in child_spec.order]
                if child_spec.cursor is None:
                    # tie-break: the page must not depend on partitioning
                    order += [F.col(c).asc() for c in child_names]
                lo = child_spec.offset
                keep = F.col("__rn") > F.lit(lo)
                if child_spec.limit is not None:
                    keep = keep & (F.col("__rn") <= F.lit(lo + int(child_spec.limit)))
                child = child.withColumn(
                    "__rn", F.row_number().over(
                        Window.partitionBy(child_fk).orderBy(*order))
                ).where(keep)
                # sort the array by rank; a backward page ranks
                # descending, so its negated rank still ascends by key
                rn = -F.col("__rn") if child_spec.backward else F.col("__rn")
                value = F.struct(rn.alias("rn"), value.alias("v"))
            items = F.sort_array(F.collect_list(value))
            if paging:
                items = F.transform(items, lambda x: x["v"])
            obj = child.groupBy(F.col(child_fk).alias(parent_key)).agg(
                F.to_json(items).alias(name)
            )
            empty = "[]"
        df = df.join(obj, parent_key, "left_outer").withColumn(
            name, F.coalesce(F.col(name), F.lit(empty))
        )
    if "edges" in conn:
        members = [F.struct(*[F.col(c) for c in row]).alias("node")]
        if "cursor" in conn["edges"]["fields"]:
            members.append(F.col(spec.cursor).cast("string").alias("cursor"))
        df = df.withColumn("edges", F.to_json(F.struct(*members)))
    return df, names


# every field shape the schema document emits (OBJECT name/type/
# nonNull, INPUT_OBJECT name/type/ops, QUERY name/type/args) —
# from_json NULLs the members a kind doesn't carry, and to_json drops
# NULL struct fields again on render, so one permissive schema serves
# all three kinds.
_INTROSPECT_DOC = (
    "struct<name:string,kind:string,description:string,"
    "fields:array<struct<name:string,type:string,nonNull:boolean,"
    "description:string,ops:array<string>,args:array<string>>>,"
    "enumValues:array<struct<name:string,description:string>>>"
)

_TYPE_FIELD_ATTRS = ("name", "type", "nonNull", "description", "ops", "args")


def _sub_json(array, f, allowed, type_name):
    """The array column ``array`` projected by the selection ``f`` (a
    set of member names out of ``allowed``), as one JSON array column
    named after ``f``."""
    from pyspark.sql import functions as F

    subs = [s for s in f["fields"] if isinstance(s, str)]
    bad = [s for s in subs if s not in allowed]
    if bad:
        raise ValueError(f"graphql: unknown {type_name} attrs {bad}")
    return F.to_json(
        F.transform(array, lambda x: F.struct(*[x[s].alias(s) for s in subs]))
    ).alias(f["name"])


def _type_selection(schema_doc, sel_fields, name=None):
    """Project the generated schema document (type_name, kind, doc)
    by a ``__Type`` selection set: scalar fields ``name``/``kind``
    plus a nested ``fields { ... }`` selection rendered as a JSON
    array (the doc's canonical name-sorted field order preserved)."""
    from pyspark.sql import functions as F

    df = schema_doc
    if name is not None:
        df = df.where(F.col("type_name") == F.lit(name))
    parsed = F.from_json(F.col("doc"), _INTROSPECT_DOC)
    cols = []
    for f in sel_fields:
        if isinstance(f, str):
            if f == "name":
                cols.append(F.col("type_name").alias("name"))
            elif f == "kind":
                cols.append(F.col("kind"))
            elif f == "description":
                # the @documentation @comment carried by the schema
                # document (NULL for undocumented types)
                cols.append(parsed["description"].alias("description"))
            else:
                raise ValueError(f"graphql: unknown __Type field {f!r}")
        elif f["name"] == "fields":
            cols.append(_sub_json(parsed["fields"], f, _TYPE_FIELD_ATTRS, "__Field"))
        elif f["name"] == "enumValues":
            # __EnumValue: name + the @documentation @values description
            # (NULL members drop on render, so undocumented values stay {name})
            cols.append(_sub_json(
                parsed["enumValues"], f, ("name", "description"), "__EnumValue"
            ))
        else:
            raise ValueError(
                f"graphql: unknown __Type selection {f['name']!r}"
            )
    return df.select(*cols)


def _introspect(schema_doc, root, args, fields):
    if root == "__type":
        if "name" not in args:
            raise ValueError("graphql: __type requires a name argument")
        return _type_selection(schema_doc, fields, name=args["name"])
    for f in fields:
        if isinstance(f, dict) and f["name"] == "types":
            return _type_selection(schema_doc, f["fields"])
        if isinstance(f, dict) and f["name"] == "queryType":
            return _type_selection(schema_doc, f["fields"], name="Query")
        if isinstance(f, dict) and f["name"] == "mutationType":
            return _type_selection(schema_doc, f["fields"], name="Mutation")
        if isinstance(f, dict) and f["name"] == "directives":
            return _directive_introspection(schema_doc, f["fields"])
    raise ValueError(
        "graphql: __schema selection must include types or queryType"
    )


def _directive_introspection(schema_doc, sel_fields):
    """``__schema { directives { ... } }``: the executable directives
    this implementation supports — exactly the spec-required pair
    ``@include`` / ``@skip`` evaluated by ``_Parser._directives`` —
    served in the introspection shape codegen tooling reads
    (__Directive: name / description / locations / args).  Static by
    construction (the directive set is the parser's, not the
    schema's), rendered as one small DataFrame in the same session
    as the schema document so the result composes with other
    introspection roots."""
    from pyspark.sql import functions as F

    spark = schema_doc.sparkSession
    rows = [
        (
            "include",
            "Directs the executor to include this field or fragment "
            "only when the `if` argument is true.",
            ["FIELD", "FRAGMENT_SPREAD", "INLINE_FRAGMENT"],
            [{"name": "if", "type": "Boolean!"}],
        ),
        (
            "skip",
            "Directs the executor to skip this field or fragment "
            "when the `if` argument is true.",
            ["FIELD", "FRAGMENT_SPREAD", "INLINE_FRAGMENT"],
            [{"name": "if", "type": "Boolean!"}],
        ),
    ]
    df = spark.createDataFrame(
        rows,
        "name string, description string, locations array<string>, "
        "args array<struct<name: string, type: string>>",
    )
    cols = []
    for f in sel_fields:
        if isinstance(f, str) and f in ("name", "description"):
            cols.append(F.col(f))
        elif isinstance(f, str) and f == "locations":
            cols.append(F.to_json(F.col("locations")).alias("locations"))
        elif isinstance(f, dict) and f["name"] == "args":
            cols.append(_sub_json(F.col("args"), f, ("name", "type"), "__InputValue"))
        else:
            n = f if isinstance(f, str) else f.get("name")
            raise ValueError(
                f"graphql: unknown __Directive selection {n!r}"
            )
    return df.select(*cols)


def _path_query(store, args, fields):
    """Compile a GraphQL ``_path`` root field onto the WOQL path
    compiler (reference: the GraphQL layer's path queries — public
    locus: terminusdb-community graphql crate path fields over the
    same path.pl regex grammar).  Args: ``pattern`` (the textual
    path regex, see ``woql.path_ast.parse_path_string``), optional
    ``from`` / ``to`` node anchors.  Selection fields are the path
    scalars ``src`` / ``dst`` / ``hops``.  ``from`` is
    ``compile_path``'s start node (``operators.path`` docstring: where
    the closures are anchored)."""
    from pyspark.sql import functions as F

    from terminus_server_spark.operators.path import compile_path
    from terminus_server_spark.woql.path_ast import parse_path_string

    if "pattern" not in args:
        raise ValueError("graphql: _path requires a pattern argument")
    df = compile_path(store, parse_path_string(args["pattern"]), src=args.get("from"))
    if "to" in args:
        df = df.where(F.col("dst") == F.lit(args["to"]))
    names = [f if isinstance(f, str) else f["name"] for f in fields]
    bad = [n for n in names if n not in ("src", "dst", "hops")]
    if bad:
        raise ValueError(f"graphql: _path has no fields {bad!r}")
    return df.select(*names)


def execute_graphql(
    frames: dict,
    src: str,
    relations: dict | None = None,
    schema=None,
    store=None,
    variables: dict | None = None,
    id_cols: dict | None = None,
    inherits: dict | None = None,
):
    """Execute a parsed GraphQL request against ``frames`` (class
    name → DataFrame) and return {class: DataFrame}.

    ``relations`` maps (parent_class, field_name) → (child_class,
    parent_key_col, child_fk_col) for nested related-field selection
    sets; a nested field renders as a deterministic JSON array of the
    selected child fields (sorted, so the rendering is
    partitioning-independent).  A fourth member ``"one"`` makes a
    to-one link field: the fk is the parent's, and each parent
    renders one JSON object (``null`` when the link dangles).
    Compilation only — filters push to scans, a nested level is one
    filtered child aggregation joined back on the parent key.

    Paging: a field's ``orderBy`` ({col: ASC|DESC} or a list of them),
    ``limit``/``offset``, or Relay cursor args ``first``/``after``
    (forward) or ``last``/``before`` (backward) read into one spec.
    Cursor paging is keyset paging over the class's ``id_cols``
    column: ``after``/``before`` are predicates pushed to the scan,
    the page orders by the key and renders ascending either way, and
    it mixes with neither the other direction nor orderBy/limit/
    offset.  A root field applies the spec globally (orderBy+limit is
    one TakeOrderedAndProject); a to-many field applies it per parent,
    as one ``row_number`` window over the fk after the keyset bounds
    (non-cursor pages break ties on the selected fields); a to-one
    field takes no paging args.  A cursor-paged root may select
    ``_pageInfo`` (endCursor, hasNextPage) or the connection shape
    ``edges { node { ... } cursor } pageInfo { ... }`` with any of the
    four Relay pageInfo members, exact in both directions.

    ``schema``: the generated schema document DataFrame
    (:func:`terminus_server_spark.docs.documents.graphql_schema`
    output).  When provided, ``__schema { types {...} / queryType
    {...} }`` and ``__type(name: ...)`` introspection roots — the
    first thing GraphiQL/codegen tooling sends — are answered from
    it (reference serves the same generated schema over the
    introspection protocol).

    ``store``: a ``TripleStore`` — enables the ``_path`` root field
    (graph path traversal over the store's edges, see
    :func:`_path_query`).

    ``id_cols``: class → id column; enables the generated schema's
    ``id:`` / ``ids: [...]`` query arguments (compiled to an `in`
    predicate pushed to the scan)."""
    relations = relations or {}
    out = {}
    for key, req in parse_graphql(src, variables).items():
        cls = req.get("class", key)
        if cls == "_path":
            if store is None:
                raise ValueError("graphql: _path requires a triple store")
            out[key] = _path_query(store, req["args"], req["fields"])
            continue
        if cls in ("__schema", "__type"):
            if schema is None:
                raise ValueError(
                    "graphql: introspection requires a schema document"
                )
            out[key] = _introspect(schema, cls, req["args"], req["fields"])
            continue
        if cls not in frames:
            raise ValueError(f"graphql: unknown class {cls!r}")
        level, names = _query_level(
            frames, relations, cls, req["args"], req["fields"],
            id_cols=id_cols, inherits=inherits,
        )
        out[key] = level.select(*names)
    return out


def execute_graphql_mutation(triples, docs: dict, specs: dict, src: str):
    """Execute a GraphQL ``mutation`` request against the document
    store (reference: the GraphQL layer's _insertDocuments /
    _replaceDocuments / _deleteDocuments mutation fields over the
    same document write path as the HTTP document API).

    ``triples``: current instance triples; ``docs``: {class:
    documents DataFrame} (the pre-request state); ``specs``: {class:
    key_col}.  Roots apply IN REQUEST ORDER, each composing a delta
    onto the running triple state; every root's ``filter`` evaluates
    against the PRE-REQUEST document snapshot — the whole request is
    one transaction over one snapshot, the staged-then-commit shape
    of the reference's transaction objects.

    Supported roots:

    - ``_insertDocuments(class:, docs: [{...}...])`` — literal rows
      become typed triples (one map stage; the store is untouched).
    - ``_updateDocuments(class:, filter: {...}, set: {...})`` —
      update-by-filter compiled to a delta layer (field replace).
    - ``_deleteDocuments(class:, filter: {...})`` — whole-document
      retraction of every matching subject (one anti-join).

    Returns ``(new_triples, report)``: the post-mutation triple
    state and a lazy (root, class, n_affected) report frame (one
    aggregate row per root — counting stays distributed)."""
    from pyspark.sql import functions as F

    from terminus_server_spark.docs.documents import (
        delete_documents,
        filter_documents,
        insert_documents,
        update_documents_where,
    )
    from terminus_server_spark.versioning.layers import apply_delta

    op, roots = parse_graphql_operation(src)
    if op != "mutation":
        raise ValueError(f"graphql: expected a mutation operation, got {op!r}")
    reports = []
    cur = triples
    for i, (root, req) in enumerate(roots):
        args = req["args"]
        cls = args.get("class")
        if cls not in specs:
            raise ValueError(f"graphql: unknown class {cls!r} in mutation")
        key_col = specs[cls]
        snapshot = docs[cls]
        spark = snapshot.sparkSession
        if root == "_insertDocuments":
            rows = args.get("docs")
            if not isinstance(rows, list) or not rows:
                raise ValueError("graphql: _insertDocuments needs a docs: list")
            new_docs = spark.createDataFrame(rows)
            cur = insert_documents(cur, new_docs, cls, key_col)
            n = F.lit(len(rows)).cast("bigint")
            report = spark.range(1).select(
                F.lit(root).alias("root"), F.lit(cls).alias("class"), n.alias("n_affected")
            )
        elif root == "_updateDocuments":
            if "filter" not in args or "set" not in args:
                raise ValueError("graphql: _updateDocuments needs filter: and set:")
            preds = [filter_to_tree(args["filter"])]
            delta = update_documents_where(
                cur, snapshot, cls, key_col, preds, args["set"]
            )
            cur = apply_delta(cur, delta)
            report = filter_documents(snapshot, preds).agg(
                F.lit(root).alias("root"),
                F.lit(cls).alias("class"),
                F.count(F.lit(1)).alias("n_affected"),
            )
        elif root == "_deleteDocuments":
            if "filter" not in args:
                raise ValueError("graphql: _deleteDocuments needs a filter:")
            preds = [filter_to_tree(args["filter"])]
            matched = filter_documents(snapshot, preds)
            subjects = matched.select(
                F.concat(
                    F.lit(cls + "/"), F.col(key_col).cast("string")
                ).alias("subject")
            )
            cur = delete_documents(cur, subjects)
            report = matched.agg(
                F.lit(root).alias("root"),
                F.lit(cls).alias("class"),
                F.count(F.lit(1)).alias("n_affected"),
            )
        else:
            raise ValueError(f"graphql: unknown mutation root {root!r}")
        reports.append(report)
    rep = reports[0]
    for r in reports[1:]:
        rep = rep.unionByName(r)
    return cur, rep
