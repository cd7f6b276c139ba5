"""WOQL → DataFrame compiler.

Parity: terminus-server ``src/core/query/woql_compile.pl`` resolves
WOQL words by Prolog backtracking over layer indexes.  The Spark
translation makes each word a *relational* transformation over a
bindings DataFrame (columns = WOQL variables):

- ``Triple`` pattern  → filtered/pruned scan of the triple frame,
  renamed to variable columns;
- ``And``             → natural join on shared variables (Catalyst
  reorders; dimension-sized sides get broadcast by AQE);
- ``Or``              → unionByName (missing vars → null);
- ``Not``             → left-anti join; ``Opt`` → left-outer join;
- ``Eq``/``Less``/... → filters, or column binding when a side is a
  fresh variable (unification);
- ``Eval``/string words → ``withColumn`` expressions (JVM codegen);
- ``GroupBy``         → one Spark aggregate (map-side partials);
- ``Path``            → semi-naive closure (operators/path.py).

Everything stays declarative, so predicate pushdown / column pruning
/ join reordering come from Catalyst rather than hand-scheduling.
"""

from __future__ import annotations

import functools
import operator as py_operator
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from terminus_server_spark.model.triples import _NUMERIC_SPARK_TYPES, TripleStore, _xsd_type
from terminus_server_spark.woql import ast as A
from terminus_server_spark.woql.path_ast import PathPattern


def _is_var(x: Any) -> bool:
    return isinstance(x, A.Var)


class WOQLContext:
    def __init__(
        self,
        store: TripleStore,
        spark=None,
        layers: DataFrame | None = None,
        predicate_stats: dict[str, int] | None = None,
    ):
        self.store = store
        self.spark = spark or store.df.sparkSession
        self.layers = layers  # (commit_id, op, graph, subject, predicate, obj, obj_type, obj_num)
        # optional per-predicate row counts (the reference keeps layer
        # statistics; collect with ``collect_predicate_stats``) — the
        # join-order heuristic uses them as a CBO-lite cardinality
        # signal when two candidate patterns tie on structure
        self.predicate_stats = predicate_stats or {}
        self._graph_stack: list[str] = []  # Using(...) scopes; top = default graph
        self._into_stack: list[str] = []  # Into(...) scopes; top = default write graph
        self._staged: list[tuple] = []  # (op, graph, s, p, o) update templates
        self._named: dict[str, tuple[tuple, A.Term]] = {}  # name → (params, body)
        self._call_counter = 0  # per-call-site fresh-variable suffix

    # -- public API -------------------------------------------------------

    def run(self, term: A.Term) -> DataFrame:
        return self._compile(term, None)

    def define(self, name: str, params, term: A.Term) -> None:
        """Register a named parametric query (the reference stores
        these as NamedParametricQuery documents; WOQL ``call`` invokes
        them).  ``params`` are the Vars the body exchanges with call
        sites — everything else is call-local."""
        self._named[name] = (tuple(params), term)

    def run_update(self, term: A.Term, commit_seq: int, commit_id: str) -> DataFrame:
        """Compile a query containing AddTriple/DeleteTriple words into
        a *delta layer* DataFrame ``(commit_seq, commit_id, op, graph,
        subject, predicate, obj, obj_type, obj_num)``.

        Parity: the reference stages inserts/deletes on a transaction
        object while the query backtracks, then commits them as one new
        terminusdb-store layer (woql_compile.pl ``insert``/``delete``,
        triple_store layer builders).  Here the staged templates are
        projected over the final bindings DataFrame — one distributed
        projection per template, no driver-side iteration — and the
        resulting delta composes with ``versioning.layers``
        (materialize/diff/squash/rebase) unchanged.
        """
        self._staged = []
        bindings = self._compile(term, None)
        if not self._staged:
            raise ValueError("run_update: query stages no AddTriple/DeleteTriple")
        if bindings is None:
            # pure-constant update (e.g. InsertDocument of a literal
            # doc with no pattern words): one solution, no variables
            bindings = self.spark.range(1).select(F.lit(1).alias("_one"))
        deltas = [self._delta_rows(bindings, staged, commit_seq, commit_id) for staged in self._staged]
        out = deltas[0]
        for d in deltas[1:]:
            out = out.unionByName(d)
        return out

    # -- helpers ----------------------------------------------------------

    def _lit(self, x: Any) -> Column:
        return F.lit(x)

    def _operand(self, x: Any, df: DataFrame, numeric: bool = False) -> Column:
        if _is_var(x):
            if x.name not in df.columns:
                raise ValueError(f"unbound variable {x} used as operand")
            c = F.col(x.name)
            return c.cast("double") if numeric else c
        return F.lit(x)

    def _merge(self, df_in: DataFrame | None, df_new: DataFrame) -> DataFrame:
        if df_in is None:
            return df_new
        shared = [c for c in df_in.columns if c in df_new.columns]
        if shared:
            return df_in.join(df_new, on=shared, how="inner")
        # disjoint variable sets unify as a cartesian product — correct
        # Prolog semantics, but silent blowup if both sides are large;
        # surface it (the And-reordering below avoids this whenever a
        # connected order exists)
        import warnings

        warnings.warn(
            "WOQL: conjuncts share no variables — compiling a cross join "
            f"({df_in.columns} × {df_new.columns}); verify both sides are small",
            stacklevel=3,
        )
        return df_in.crossJoin(df_new)

    def _match_pattern(self, frame: DataFrame, *pairs: tuple[Any, str]) -> DataFrame:
        """Match (value, column) pairs against ``frame``: constants
        become filters (pushed to the scan), variables become renames,
        and a variable named twice unifies its columns."""
        out_cols: dict[str, Column] = {}
        for val, col in pairs:
            if _is_var(val):
                if val.name in out_cols:
                    frame = frame.where(F.col(col) == out_cols[val.name])
                else:
                    out_cols[val.name] = F.col(col)
            else:
                frame = frame.where(F.col(col) == F.lit(val))
        if not out_cols:
            # ground pattern: boolean existence — keep a marker row
            return frame.limit(1).select(F.lit(1).alias("__exists__"))
        return frame.select(*[c.alias(n) for n, c in out_cols.items()])

    # -- dispatcher -------------------------------------------------------

    def _compile(self, term: A.Term, df_in: DataFrame | None) -> DataFrame:
        method = getattr(self, "_c_" + type(term).__name__, None)
        if method is None:
            raise NotImplementedError(f"WOQL word not implemented: {type(term).__name__}")
        return method(term, df_in)

    # -- patterns ---------------------------------------------------------

    def _c_Triple(self, t: A.Triple, df_in):
        graph = t.graph or (self._graph_stack[-1] if self._graph_stack else "instance")
        frame = self.store.spo(
            predicate=t.p if not _is_var(t.p) else None, graph=graph
        )
        pairs = ((t.s, "subject"), (t.p, "predicate"), (t.o, "obj"),
                 (t.lang, "obj_lang"), (t.ts, "obj_ts"), (t.num, "obj_num"))
        matched = self._match_pattern(frame, *((v, c) for v, c in pairs if v is not None))
        return self._merge(df_in, matched)

    def _c_Quad(self, t: A.Quad, df_in):
        return self._c_Triple(A.Triple(t.s, t.p, t.o, graph=t.g), df_in)

    def _c_AddedTriple(self, t: A.AddedTriple, df_in):
        return self._delta(t, "add", df_in)

    def _c_RemovedTriple(self, t: A.RemovedTriple, df_in):
        return self._delta(t, "del", df_in)

    def _delta(self, t, op: str, df_in):
        if self.layers is None:
            raise ValueError("no layers attached to WOQLContext")
        frame = self.layers.where((F.col("op") == op) & (F.col("commit_id") == t.commit))
        return self._merge(df_in, self._match_pattern(
            frame, (t.s, "subject"), (t.p, "predicate"), (t.o, "obj")
        ))

    # -- connectives ------------------------------------------------------

    @staticmethod
    def _pattern_signature(term) -> tuple[int, frozenset] | None:
        """(n_constants, variable names) for a *reorderable* pattern
        word — Triple/Quad are pure natural joins (commutative and
        associative), so runs of them can be safely rearranged.  Every
        other word keeps its author-given position: filters,
        bindings and updates read variables earlier words bound."""
        if isinstance(term, A.Quad):
            vals = [term.s, term.p, term.o]
        elif isinstance(term, A.Triple):
            vals = [term.s, term.p, term.o] + [
                v for v in (term.lang, term.ts, term.num) if v is not None
            ]
        else:
            return None
        consts = sum(0 if _is_var(v) else 1 for v in vals)
        vars_ = frozenset(v.name for v in vals if _is_var(v))
        return consts, vars_

    def _order_conjuncts(self, terms: tuple, df_in) -> list:
        """Compile-time join-order heuristic (SURVEY §4 rule 2): within
        each consecutive run of pattern words, greedily pick next the
        pattern that (a) connects to an already-bound variable — never
        a cross join while a connected order exists — and (b) binds
        the most constants (constant predicate ⇒ partition-pruned
        scan; constant s/o ⇒ pushed filter).  Catalyst does not
        reorder inner joins without CBO stats, so a WOQL query written
        unselective-first would otherwise shuffle the full triple
        frame into the chain head."""
        bound = set(df_in.columns) if df_in is not None else set()
        out: list = []
        i = 0
        while i < len(terms):
            sig = self._pattern_signature(terms[i])
            if sig is None:
                out.append(terms[i])
                i += 1
                continue
            run = [(terms[i], sig)]
            i += 1
            while i < len(terms) and (s := self._pattern_signature(terms[i])) is not None:
                run.append((terms[i], s))
                i += 1
            while run:
                def score(item):
                    consts, vs = item[1]
                    connected = 1 if (not bound or vs & bound) else 0
                    # CBO-lite: among structural ties, prefer the
                    # pattern whose constant predicate scans the
                    # fewest triples (predicate_stats, when supplied)
                    term = item[0]
                    pred = getattr(term, "p", None)
                    rows = (
                        self.predicate_stats.get(pred)
                        if isinstance(pred, str)
                        else None
                    )
                    smallness = -rows if rows is not None else float("-inf")
                    return (connected, consts, len(vs & bound), smallness)
                best = max(run, key=score)
                run.remove(best)
                out.append(best[0])
                bound |= best[1][1]
        return out

    def _c_And(self, t: A.And, df_in):
        df = df_in
        for sub in self._order_conjuncts(t.terms, df_in):
            df = self._compile(sub, df)
        return df

    def _c_Or_(self, t: A.Or_, df_in):
        branches = [self._compile(sub, df_in) for sub in t.terms]
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b, allowMissingColumns=True)
        return out

    def _c_Not(self, t: A.Not, df_in):
        if df_in is None:
            raise ValueError("Not requires a preceding pattern (bound vars)")
        branch = self._compile(t.term, None)
        shared = [c for c in df_in.columns if c in branch.columns]
        if not shared:
            raise ValueError("Not branch shares no variables with query")
        return df_in.join(branch.select(*shared).distinct(), on=shared, how="left_anti")

    def _c_Opt(self, t: A.Opt, df_in):
        if df_in is None:
            return self._compile(t.term, None)
        branch = self._compile(t.term, None)
        shared = [c for c in df_in.columns if c in branch.columns]
        if not shared:
            raise ValueError("Opt branch shares no variables with query")
        return df_in.join(branch, on=shared, how="left_outer")

    # -- projection / ordering -------------------------------------------

    def _c_Select(self, t: A.Select, df_in):
        df = self._compile(t.term, df_in)
        return df.select(*[v.name for v in t.vars])

    def _c_Distinct(self, t: A.Distinct, df_in):
        df = self._compile(t.term, df_in)
        return df.select(*[v.name for v in t.vars]).distinct()

    def _c_Limit(self, t: A.Limit, df_in):
        return self._compile(t.term, df_in).limit(t.n)

    def _c_Start(self, t: A.Start, df_in):
        return self._compile(t.term, df_in).offset(t.n)

    def _c_OrderBy(self, t: A.OrderBy, df_in):
        df = self._compile(t.term, df_in)
        keys = []
        for var, direction in t.keys:
            keys.append(F.col(var.name).asc() if direction == "asc" else F.col(var.name).desc())
        return df.orderBy(*keys)

    # -- filters / unification -------------------------------------------

    def _bind_or_filter(self, t, df_in, make_filter, numeric_auto=True):
        a, b = t.a, t.b
        if df_in is None:
            raise ValueError(f"{type(t).__name__} requires preceding bindings")
        bound_a = (not _is_var(a)) or a.name in df_in.columns
        bound_b = (not _is_var(b)) or b.name in df_in.columns
        if bound_a and bound_b:
            numeric = numeric_auto and (
                isinstance(a, (int, float)) and not isinstance(a, bool)
                or isinstance(b, (int, float)) and not isinstance(b, bool)
            )
            return df_in.where(
                make_filter(self._operand(a, df_in, numeric), self._operand(b, df_in, numeric))
            )
        if isinstance(t, A.Eq):
            if bound_a:  # bind b := a
                return df_in.withColumn(b.name, self._operand(a, df_in))
            if bound_b:
                return df_in.withColumn(a.name, self._operand(b, df_in))
        raise ValueError(f"{type(t).__name__} with unbound variable(s)")

    def _c_Eq(self, t: A.Eq, df_in):
        return self._bind_or_filter(t, df_in, py_operator.eq)

    def _c_Less(self, t: A.Less, df_in):
        return self._bind_or_filter(t, df_in, py_operator.lt)

    def _c_Greater(self, t: A.Greater, df_in):
        return self._bind_or_filter(t, df_in, py_operator.gt)

    # -- expression evaluation -------------------------------------------

    def _expr(self, e: Any, df: DataFrame) -> Column:
        if isinstance(e, tuple):
            op, *args = e
            cols = [self._expr(a, df) for a in args]
            if op == "plus":
                return cols[0] + cols[1]
            if op == "minus":
                return cols[0] - cols[1]
            if op == "times":
                return cols[0] * cols[1]
            if op == "divide":
                return cols[0] / cols[1]
            if op == "div":
                return F.floor(cols[0] / cols[1])
            if op == "exp":
                return F.pow(cols[0], cols[1])
            if op == "floor":
                return F.floor(cols[0])
            raise NotImplementedError(f"Eval op {op}")
        if _is_var(e):
            return F.col(e.name).cast("double")
        return F.lit(e)

    def _c_Eval(self, t: A.Eval, df_in):
        if df_in is None:
            df_in = self.spark.range(1).select(F.lit(1).alias("__one__"))
        return df_in.withColumn(t.result.name, self._expr(t.expr, df_in))

    # -- string words -----------------------------------------------------

    def _c_Concat(self, t: A.Concat, df_in):
        cols = [self._operand(p, df_in).cast("string") for p in t.parts]
        return df_in.withColumn(t.result.name, F.concat(*cols))

    def _c_Substr(self, t: A.Substr, df_in):
        s = self._operand(t.string, df_in)
        return df_in.withColumn(t.result.name, F.substring(s, t.before + 1, t.length))

    def _c_Upper(self, t, df_in):
        return df_in.withColumn(t.result.name, F.upper(self._operand(t.string, df_in)))

    def _c_Lower(self, t, df_in):
        return df_in.withColumn(t.result.name, F.lower(self._operand(t.string, df_in)))

    def _c_Trim(self, t, df_in):
        return df_in.withColumn(t.result.name, F.trim(self._operand(t.string, df_in)))

    def _c_Pad(self, t: A.Pad, df_in):
        return df_in.withColumn(
            t.result.name, F.rpad(self._operand(t.string, df_in), t.length, t.char)
        )

    def _c_Split(self, t: A.Split, df_in):
        return df_in.withColumn(t.result.name, F.split(self._operand(t.string, df_in), t.pattern))

    def _c_Join(self, t: A.Join, df_in):
        return df_in.withColumn(
            t.result.name, F.array_join(self._operand(t.list_, df_in), t.separator)
        )

    def _c_Like(self, t: A.Like, df_in):
        return df_in.where(self._operand(t.string, df_in).like(t.pattern))

    def _c_Similarity(self, t: A.Similarity, df_in):
        a = self._operand(t.a, df_in)
        b = self._operand(t.b, df_in)
        lev = F.levenshtein(a, b).cast("double")
        mx = F.greatest(F.length(a), F.length(b)).cast("double")
        sim = F.when(mx == F.lit(0.0), F.lit(1.0)).otherwise(F.lit(1.0) - lev / mx)
        return df_in.withColumn(t.result.name, sim)

    def _c_Regexp(self, t: A.Regexp, df_in):
        """re/3 (reference: woql_compile.pl re word): filter rows
        where the pattern matches, and — when a matches var is given —
        bind the capture list [full_match, group1, ..., groupN].  The
        group count comes from compiling the pattern driver-side; the
        extraction itself stays JVM-side (one regexp_extract per
        group, whole-stage-codegen friendly — no Python UDF)."""
        s = self._operand(t.string, df_in)
        filtered = df_in.where(s.rlike(t.pattern))
        if t.matches is not None:
            import re as _re

            n_groups = _re.compile(t.pattern).groups
            filtered = filtered.withColumn(
                t.matches.name,
                F.array(
                    *[
                        F.regexp_extract(s, t.pattern, i)
                        for i in range(0, n_groups + 1)
                    ]
                ),
            )
        return filtered

    def _c_Length(self, t: A.Length, df_in):
        c = self._operand(t.value, df_in)
        dtype = dict(df_in.dtypes).get(t.value.name, "string") if _is_var(t.value) else "string"
        fn = F.size if dtype.startswith("array") else F.length
        return df_in.withColumn(t.result.name, fn(c).cast("long"))

    def _c_Typecast(self, t: A.Typecast, df_in):
        spark_type = {
            "xsd:integer": "bigint",
            "xsd:decimal": "decimal(28,6)",
            "xsd:double": "double",
            "xsd:string": "string",
            "xsd:dateTime": "timestamp",
            "xsd:boolean": "boolean",
        }.get(t.xsd_type, t.xsd_type)  # raw spark types allowed
        operand = self._operand(t.value, df_in)
        casted = operand.try_cast(spark_type) if getattr(t, "safe", False) else operand.cast(spark_type)
        return df_in.withColumn(t.result.name, casted)

    # -- aggregation ------------------------------------------------------

    _AGG_FNS = {
        "count": lambda c: F.count(c),
        "count_distinct": lambda c: F.count_distinct(c),
        "sum": lambda c: F.sum(c),
        "min": lambda c: F.min(c),
        "max": lambda c: F.max(c),
        "avg": lambda c: F.avg(c),
        "collect": lambda c: F.sort_array(F.collect_list(c)),
    }

    def _c_GroupBy(self, t: A.GroupBy, df_in):
        df = self._compile(t.term, df_in)
        aggs = []
        for fn, var_in, var_out in t.aggs:
            col = F.col(var_in.name)
            if fn in ("sum", "min", "max", "avg"):
                dtype = dict(df.dtypes).get(var_in.name, "string")
                if dtype == "string":
                    col = col.cast("double")
            aggs.append(self._AGG_FNS[fn](col).alias(var_out.name))
        return df.groupBy(*[v.name for v in t.group_vars]).agg(*aggs)

    def _c_Count(self, t: A.Count, df_in):
        df = self._compile(t.term, df_in)
        return df.agg(F.count(F.lit(1)).alias(t.result.name))

    def _c_Sum(self, t: A.Sum, df_in):
        c = self._operand(t.list_var, df_in)
        return df_in.withColumn(
            t.result.name,
            F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double")),
        )

    # -- misc -------------------------------------------------------------

    def _c_Member(self, t: A.Member, df_in):
        el, lst = t.element, t.list_
        if isinstance(lst, (list, tuple)):
            arr = F.array(*[F.lit(x) for x in lst])
        else:
            arr = self._operand(lst, df_in)
        el_bound = (not _is_var(el)) or (df_in is not None and el.name in df_in.columns)
        if df_in is None:
            df_in = self.spark.range(1).select(F.lit(1).alias("__one__"))
        if el_bound:
            return df_in.where(F.array_contains(arr, self._operand(el, df_in)))
        return df_in.withColumn(el.name, F.explode(arr))

    def _c_IDGen(self, t: A.IDGen, df_in):
        parts = [F.lit(t.base)] + [self._operand(k, df_in).cast("string") for k in t.key_vars]
        return df_in.withColumn(t.result.name, F.concat_ws("/", *parts))

    def _c_HashKey(self, t: A.HashKey, df_in):
        keys = [self._operand(k, df_in).cast("string") for k in t.key_vars]
        return df_in.withColumn(
            t.result.name, F.concat(F.lit(t.base + "/"), F.md5(F.concat_ws("", *keys)))
        )

    def _c_Isa(self, t: A.Isa, df_in):
        # subsumption: x isa C if (x rdf:type D) and D ⊑ C.  The
        # subclass closure comes from the schema graph when present.
        type_triples = self.store.spo("rdf:type")
        closure = self._subclass_closure()
        if closure is not None:
            type_triples = (
                type_triples.join(
                    F.broadcast(closure), type_triples["obj"] == closure["sub"], "left_outer"
                )
                .select(
                    "graph",
                    "subject",
                    "predicate",
                    F.coalesce(closure["sup"], type_triples["obj"]).alias("obj"),
                    "obj_type",
                    "obj_num",
                )
                .distinct()
            )
        matched = self._match_pattern(
            type_triples, (t.element, "subject"), (A.Var("__t__"), "predicate"), (t.type_, "obj")
        )
        matched = matched.drop("__t__")
        return self._merge(df_in, matched)

    @functools.lru_cache(maxsize=1)
    def _subclass_closure(self):
        """Reflexive-transitive closure of subClassOf in the schema
        graph (schemas are small: closed via semi-naive iteration)."""
        if self.store.schema_df is None:
            return None
        from terminus_server_spark.operators.path import transitive_closure

        edges = self.store.schema_df.where(F.col("predicate") == "subClassOf").select(
            F.col("subject").alias("src"), F.col("obj").alias("dst")
        )
        closure = transitive_closure(edges).select(F.col("src").alias("sub"), F.col("dst").alias("sup"))
        nodes = edges.select(F.col("src").alias("sub")).union(edges.select("dst")).distinct()
        reflexive = nodes.select("sub", F.col("sub").alias("sup"))
        return closure.union(reflexive).distinct()

    def _c_Path(self, t: A.Path, df_in):
        from terminus_server_spark.operators.path import compile_path

        # a bound subject is compile_path's start node (operators.path
        # docstring: where the closures are anchored)
        graph = self._graph_stack[-1] if self._graph_stack else "instance"
        edges = compile_path(self.store, t.pattern, graph, None if _is_var(t.s) else t.s)
        pairs = ((t.s, "src"), (t.o, "dst"), (t.hops, "hops"))
        matched = self._match_pattern(edges, *((v, c) for v, c in pairs if v is not None))
        return self._merge(df_in, matched)

    def _c_Sub(self, t: A.Sub, df_in):
        closure = self._subclass_closure()
        if closure is None:
            raise ValueError("Sub requires a schema graph on the store")
        # (sub, sup) reflexive-transitive
        return self._merge(
            df_in, self._match_pattern(closure, (t.child, "sub"), (t.parent, "sup"))
        )

    def _c_TripleCount(self, t: A.TripleCount, df_in):
        cnt = self.store.spo(graph=t.graph).agg(
            F.count(F.lit(1)).cast("long").alias(t.result.name)
        )
        return self._merge(df_in, cnt)

    def _c_Once(self, t: A.Once, df_in):
        return self._compile(t.term, df_in).limit(1)

    def _c_TypeOf(self, t: A.TypeOf, df_in):
        # The type of a bound column is static under Spark's schema —
        # resolve it from the plan, not per-row (zero runtime cost).
        if _is_var(t.value):
            if df_in is None or t.value.name not in df_in.columns:
                raise ValueError(f"TypeOf on unbound variable {t.value}")
            dtype = dict(df_in.dtypes)[t.value.name]
        else:
            probe = self.spark.range(1).select(F.lit(t.value).alias("x"))
            dtype = dict(probe.dtypes)["x"]
        xsd = _xsd_type(dtype)
        if _is_var(t.type_):
            return df_in.withColumn(t.type_.name, F.lit(xsd))
        # ground type: statically decidable filter
        return df_in if t.type_ == xsd else df_in.limit(0)

    def _c_LexicalKey(self, t: A.LexicalKey, df_in):
        keys = [F.url_encode(self._operand(k, df_in).cast("string")) for k in t.key_vars]
        return df_in.withColumn(
            t.result.name, F.concat(F.lit(t.base + "/"), F.concat_ws("+", *keys))
        )

    def _c_TrueW(self, t: A.TrueW, df_in):
        if df_in is None:
            return self.spark.range(1).select(F.lit(1).alias("__one__"))
        return df_in

    def _c_Dot(self, t: A.Dot, df_in):
        doc = self._operand(t.document, df_in)
        return df_in.withColumn(t.result.name, F.get_json_object(doc, f"$.{t.key}"))

    def _c_ReadDocument(self, t: A.ReadDocument, df_in):
        """Bind the JSON document for each subject the solution
        reaches.  The document frame is built ONCE relationally —
        group by (subject, predicate) for sorted value lists, then by
        subject for the sorted field list — and joined to the
        bindings on the subject variable, so reading documents for a
        million solutions is two aggregates and a join, never a
        per-solution lookup (the reference resolves get_document per
        answer; the relational form is the Spark-native equivalent)."""
        from terminus_server_spark.model.triples import nt_escape

        # JSON-string escaping incl. control chars (\n \r \t) — a
        # multiline literal must not emit invalid JSON.
        esc = nt_escape(F.col("obj"))
        vjson = F.when(
            F.col("obj_type").isin("xsd:integer", "xsd:decimal"), F.col("obj")
        ).otherwise(F.concat(F.lit('"'), esc, F.lit('"')))
        graph = self._graph_stack[-1] if self._graph_stack else "instance"
        per_pv = (
            self.store.spo(graph=graph)
            .groupBy("subject", "predicate")
            .agg(F.sort_array(F.collect_list(vjson)).alias("vs"))
        )
        pair = F.concat(
            F.lit('"'),
            F.col("predicate"),
            F.lit('":'),
            F.when(F.size("vs") == 1, F.element_at("vs", 1)).otherwise(
                F.concat(F.lit("["), F.array_join("vs", ","), F.lit("]"))
            ),
        )
        docs = (
            per_pv.select("subject", F.struct("predicate", pair.alias("pair")).alias("e"))
            .groupBy("subject")
            .agg(
                F.concat(
                    F.lit("{"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list("e")), lambda e: e["pair"]
                        ),
                        ",",
                    ),
                    F.lit("}"),
                ).alias("_doc")
            )
        )
        if _is_var(t.iri):
            frame = docs.select(
                F.col("subject").alias(t.iri.name), F.col("_doc").alias(t.doc.name)
            )
            return self._merge(df_in, frame)
        frame = docs.where(F.col("subject") == t.iri).select(
            F.col("_doc").alias(t.doc.name)
        )
        return self._merge(df_in, frame)

    def _c_Call(self, t: A.Call, df_in):
        """Expand a named query at the call site: args substitute for
        params, every other body variable gets a fresh per-call name
        (hygiene — see A.Call), and the inlined term compiles in
        place, so Catalyst sees one flat plan (named queries cost
        nothing at runtime — exactly like the reference inlining
        call bodies during WOQL compilation)."""
        if t.name not in self._named:
            raise ValueError(f"unknown named query: {t.name!r}")
        params, body = self._named[t.name]
        if len(params) != len(t.args):
            raise ValueError(
                f"Call {t.name!r}: expected {len(params)} args, got {len(t.args)}"
            )
        mapping = {p.name: a for p, a in zip(params, t.args)}
        self._call_counter += 1
        suffix = self._call_counter

        def fresh(var: A.Var) -> A.Var:
            return A.Var(f"__{t.name}_{suffix}_{var.name}")

        return self._compile(A.substitute(body, mapping, rename_free=fresh), df_in)

    def _c_Using(self, t: A.Using, df_in):
        self._graph_stack.append(t.graph)
        try:
            return self._compile(t.term, df_in)
        finally:
            self._graph_stack.pop()

    def _c_With(self, t: A.With, df_in):
        from terminus_server_spark.model.triples import TripleStore, from_ntriples

        lines = self.spark.read.text(t.resource).withColumnRenamed("value", "line")
        tmp = from_ntriples(lines, base=t.base, graph=t.graph)
        prev = self.store
        # overlay store: base triples + the resource parsed into the
        # temp graph; pred_frames fast paths are dropped for the scope
        # (they would bypass the overlay), schema graph carries over
        self.store = TripleStore(
            prev.df.unionByName(tmp, allowMissingColumns=True), prev.schema_df
        )
        try:
            return self._compile(t.term, df_in)
        finally:
            self.store = prev

    # -- update words (see run_update) -----------------------------------

    def _write_graph(self, explicit: str | None) -> str:
        return explicit or (self._into_stack[-1] if self._into_stack else "instance")

    def _c_Into(self, t: A.Into, df_in):
        self._into_stack.append(t.graph)
        try:
            return self._compile(t.term, df_in)
        finally:
            self._into_stack.pop()

    def _c_AddTriple(self, t: A.AddTriple, df_in):
        self._staged.append(("add", self._write_graph(t.graph), t.s, t.p, t.o))
        return df_in

    def _c_DeleteTriple(self, t: A.DeleteTriple, df_in):
        self._staged.append(("del", self._write_graph(t.graph), t.s, t.p, t.o))
        return df_in

    def _c_InsertDocument(self, t: A.InsertDocument, df_in):
        doc = dict(t.doc)
        g = self._write_graph(t.graph)
        subject = doc.pop("@id")
        cls = doc.pop("@type", None)
        if cls is not None:
            # rdf:type objects are iris regardless of the '/' heuristic
            self._staged.append(("add", g, subject, "rdf:type", cls, "iri"))
        for field, value in sorted(doc.items()):
            self._staged.append(("add", g, subject, field, value))
        return df_in

    def _c_DeleteDocument(self, t: A.DeleteDocument, df_in):
        self._staged.append(("del_doc", self._write_graph(t.graph), t.iri, None, None))
        return df_in

    def _c_UpdateDocument(self, t: A.UpdateDocument, df_in):
        df_in = self._c_DeleteDocument(
            A.DeleteDocument(dict(t.doc)["@id"], t.graph), df_in
        )
        return self._c_InsertDocument(A.InsertDocument(t.doc, t.graph), df_in)

    def _delta_rows(self, bindings: DataFrame, staged: tuple, commit_seq: int, commit_id: str) -> DataFrame:
        if staged[0] == "del_doc":
            # whole-document retraction: the delta is every store
            # triple rooted at the subject(s) — derived by subject
            # join at commit time, one distributed semi-join
            _, graph, s = staged[:3]
            trips = self.store.spo(graph=graph)
            if _is_var(s):
                subs = bindings.select(F.col(s.name).alias("subject")).distinct()
                trips = trips.join(subs, "subject")
            else:
                trips = trips.where(F.col("subject") == s)
            return trips.select(
                F.lit(commit_seq).alias("commit_seq"),
                F.lit(commit_id).alias("commit_id"),
                F.lit("del").alias("op"),
                "graph",
                "subject",
                "predicate",
                "obj",
                "obj_type",
                "obj_num",
            ).distinct()
        type_override = staged[5] if len(staged) > 5 else None
        op, graph, s, p, o = staged[:5]
        dtypes = dict(bindings.dtypes)

        def _part(x):
            return F.col(x.name) if _is_var(x) else F.lit(x)

        obj = _part(o)
        if _is_var(o):
            dtype = dtypes.get(o.name, "string").split("(")[0]
        else:
            dtype = {bool: "boolean", int: "bigint", float: "double"}.get(type(o), "string")
        is_num = dtype in _NUMERIC_SPARK_TYPES
        xsd = _xsd_type(dtype)
        # binary renders as base64, the lexical form of its xsd tag
        lexical = F.base64(obj) if dtype == "binary" else obj.cast("string")
        return bindings.select(
            F.lit(commit_seq).alias("commit_seq"),
            F.lit(commit_id).alias("commit_id"),
            F.lit(op).alias("op"),
            F.lit(graph).alias("graph"),
            _part(s).cast("string").alias("subject"),
            _part(p).cast("string").alias("predicate"),
            lexical.alias("obj"),
            F.lit(
                type_override
                if type_override is not None
                else ("iri" if (not _is_var(o) and isinstance(o, str) and "/" in o) else xsd)
            ).alias("obj_type"),
            (obj.cast("double") if is_num else F.lit(None).cast("double")).alias("obj_num"),
        ).distinct()

    def _c_Get(self, t: A.Get, df_in):
        if t.resource.startswith(("http://", "https://")):
            raise NotImplementedError(
                "remote WOQL get: stage the resource to storage executors can "
                "read (s3://, hdfs://, file path) and pass that path — a "
                "driver-side http fetch of an unbounded resource is not a "
                "distributed read"
            )
        reader = self.spark.read
        for k, v in t.options:
            reader = reader.option(k, v)
        if t.format == "csv":
            df = reader.option("header", str(t.has_header).lower()).option(
                "inferSchema", "false"
            ).csv(t.resource)
        elif t.format == "json":
            df = reader.json(t.resource)
        elif t.format == "parquet":
            df = reader.parquet(t.resource)
        else:
            raise NotImplementedError(f"Get format {t.format!r} (csv|json|parquet)")
        cols = [F.col(name).alias(var.name) for name, var in t.columns]
        return self._merge(df_in, df.select(*cols))

    def _c_Put(self, t: A.Put, df_in):
        df = self._compile(t.term, df_in)
        out = df.select(*[F.col(var.name).alias(name) for name, var in t.columns])
        out.write.mode("overwrite").option("header", str(t.has_header).lower()).csv(t.resource)
        return df


def compile_woql(store: TripleStore, term: A.Term, layers: DataFrame | None = None) -> DataFrame:
    return WOQLContext(store, layers=layers).run(term)


def collect_predicate_stats(store: TripleStore) -> dict[str, int]:
    """One aggregate over the store: rows per predicate — the layer
    statistic the reference keeps natively; feed to ``WOQLContext``
    so And-join ordering can put the smallest constant-predicate
    scan first among structural ties."""
    return {
        r["predicate"]: r["n"]
        for r in store.df.groupBy("predicate")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
