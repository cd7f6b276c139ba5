"""Triple-store data model.

Reference parity: terminusdb-store keeps immutable layers of
``(subject, predicate, object)`` ids with node/value dictionaries
(see terminusdb/terminusdb-store src/layer/*.rs, public repo).  A
literal translation (succinct bitindexes, id dictionaries) would
fight Spark; the Spark-native equivalent is a *columnar triple
DataFrame* where

- ``subject``/``predicate`` are strings (dictionary-encoded by
  parquet automatically — the same trick the reference's id
  dictionaries play, but handled by the format);
- typed literals keep their lexical form in ``obj`` plus a numeric
  shadow column ``obj_num`` so comparisons and aggregations stay in
  whole-stage codegen without per-row casts.

Scale layout: write partitioned by ``predicate`` (classic vertical
partitioning for RDF at scale) and bucketed by ``subject``; a WOQL
triple pattern with a constant predicate then becomes a
partition-pruned scan, and subject-subject joins are co-located.

Schema: (graph, subject, predicate, obj, obj_type, obj_num) — the
required core — plus two typed-literal extension columns emitted by
``predicate_frames``:

- ``obj_lang``: BCP-47 tag for language-tagged strings
  (``rdf:langString`` — the reference stores ``"chat"@en`` literals
  with the tag in the value dictionary; here it is a filterable,
  dictionary-encoded column);
- ``obj_ts``: TIMESTAMP_NTZ shadow for ``xsd:dateTime``/``xsd:date``
  literals, so temporal comparisons run natively (codegen'd range
  predicates) instead of lexically — the same role ``obj_num`` plays
  for numerics.

Hand-built 6-column frames remain valid; the extensions are only
required by queries that bind them (``Triple(..., lang=/ts=/num=)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType

TRIPLE_COLS = ("graph", "subject", "predicate", "obj", "obj_type", "obj_num")
TRIPLE_EXT_COLS = ("obj_lang", "obj_ts")

RDF_TYPE = "rdf:type"

_NUMERIC_SPARK_TYPES = {"int", "bigint", "smallint", "tinyint", "double", "float", "decimal"}


def _xsd_type(spark_type: str) -> str:
    base = spark_type.split("(")[0]
    return {
        "int": "xsd:integer",
        "bigint": "xsd:integer",
        "smallint": "xsd:integer",
        "tinyint": "xsd:integer",
        "double": "xsd:decimal",
        "float": "xsd:decimal",
        "decimal": "xsd:decimal",
        "string": "xsd:string",
        "timestamp": "xsd:dateTime",
        "timestamp_ntz": "xsd:dateTime",
        "date": "xsd:date",
        "boolean": "xsd:boolean",
        "binary": "xsd:base64Binary",
    }.get(base, "xsd:string")


def predicate_frames(
    df: DataFrame,
    class_name: str,
    key_col: str,
    value_cols: list[str] | None = None,
    ref_cols: dict[str, tuple[str, str]] | None = None,
    graph: str = "instance",
    lang_cols: dict[str, object] | None = None,
    type_overrides: dict[str, str] | None = None,
) -> dict[str, DataFrame]:
    """Map a relational table to typed triples, one frame *per
    predicate* (vertical partitioning — the classic RDF scale
    layout).  Parity with the reference's document insert path
    (terminus-server src/core/document/json.pl):

    - subject IRI: ``{class_name}/{key}`` (lexical key strategy);
    - one ``rdf:type`` triple per row;
    - ``value_cols`` become literal triples (predicate = column name);
    - ``ref_cols``: column -> (TargetClass, predicate) become IRI
      object triples (foreign keys → edges);
    - ``lang_cols``: column -> language tag (a literal string, or a
      Column reading a per-row tag, e.g. ``F.col("lang")``) become
      ``rdf:langString`` literals with ``obj_lang`` set;
    - ``type_overrides``: column -> xsd type, for types Spark's
      engine types can't imply — ``xsd:anyURI`` over a string column,
      ``xsd:gYear`` over an int column (gYear keeps the numeric
      shadow: years are totally ordered).  ``binary`` columns map to
      ``xsd:base64Binary`` automatically, with the base64 rendering
      as the lexical form.

    Each frame is a narrow projection of the source scan — a
    constant-predicate WOQL pattern therefore reads exactly one
    table's two columns (column pruning reaches parquet), and the
    full-store view is a union Catalyst folds branches out of when a
    predicate filter is applied.
    """
    value_cols = value_cols if value_cols is not None else [c for c in df.columns if c != key_col]
    ref_cols = ref_cols or {}
    lang_cols = lang_cols or {}
    type_overrides = type_overrides or {}
    dtypes = dict(df.dtypes)

    subject = F.concat(F.lit(class_name + "/"), F.col(key_col).cast("string"))
    null_num = F.lit(None).cast(DoubleType())
    null_lang = F.lit(None).cast("string")
    null_ts = F.lit(None).cast("timestamp_ntz")

    def frame(
        predicate: str,
        obj: F.Column,
        obj_type: F.Column | str,
        obj_num: F.Column,
        obj_lang: F.Column = null_lang,
        obj_ts: F.Column = null_ts,
    ) -> DataFrame:
        return df.select(
            F.lit(graph).alias("graph"),
            subject.alias("subject"),
            F.lit(predicate).alias("predicate"),
            obj.alias("obj"),
            (F.lit(obj_type) if isinstance(obj_type, str) else obj_type).alias("obj_type"),
            obj_num.alias("obj_num"),
            obj_lang.alias("obj_lang"),
            obj_ts.alias("obj_ts"),
        ).where(obj.isNotNull())

    out: dict[str, DataFrame] = {
        RDF_TYPE: frame(RDF_TYPE, F.lit(class_name), "iri", null_num)
    }
    for c in value_cols:
        if c in ref_cols:
            continue
        spark_type = dtypes[c]
        base_type = spark_type.split("(")[0]
        is_num = base_type in _NUMERIC_SPARK_TYPES
        is_ts = base_type in ("timestamp", "timestamp_ntz", "date")
        if base_type == "binary":
            # xsd:hexBinary override renders hex; default is base64
            # (both canonical uppercase/standard forms, lossless)
            if type_overrides.get(c) == "xsd:hexBinary":
                lexical = F.hex(F.col(c))
            else:
                lexical = F.base64(F.col(c))
        elif spark_type == "timestamp":
            lexical = F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss")
        else:
            lexical = F.col(c).cast("string")
        if c in lang_cols:
            tag = lang_cols[c]
            out[c] = frame(
                c,
                lexical,
                "rdf:langString",
                null_num,
                obj_lang=F.lit(tag) if isinstance(tag, str) else tag,
            )
        else:
            xsd_t = type_overrides.get(c, _xsd_type(spark_type))
            out[c] = frame(
                c,
                lexical,
                xsd_t,
                F.col(c).cast(DoubleType()) if is_num else null_num,
                obj_ts=F.col(c).cast("timestamp_ntz") if is_ts else null_ts,
            )
    for c, (target_class, predicate) in ref_cols.items():
        out[predicate] = frame(
            predicate,
            F.concat(F.lit(target_class + "/"), F.col(c).cast("string")),
            "iri",
            null_num,
        )
    return out


def triples_from_table(
    df: DataFrame,
    class_name: str,
    key_col: str,
    value_cols: list[str] | None = None,
    ref_cols: dict[str, tuple[str, str]] | None = None,
    graph: str = "instance",
    type_overrides: dict[str, str] | None = None,
) -> DataFrame:
    """All triples of one table as a single frame (union of the
    per-predicate projections)."""
    frames = list(
        predicate_frames(
            df, class_name, key_col, value_cols, ref_cols, graph,
            type_overrides=type_overrides,
        ).values()
    )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


class TripleStore:
    """A queryable set of triples plus an optional schema graph.

    ``spo(predicate)`` is the hot path: constant-predicate access
    returns a filtered projection that Catalyst pushes into the scan.
    """

    @staticmethod
    def _conform(df: DataFrame) -> DataFrame:
        """Conform a hand-built core-only frame: typed-literal
        extension columns are always present (NULL = untyped) so both
        scan paths — the union and the constant-predicate fast path —
        expose the same schema."""
        missing = [c for c in TRIPLE_COLS if c not in df.columns]
        if missing:
            raise ValueError(f"triple frame missing columns: {missing}")
        if "obj_lang" not in df.columns:
            df = df.withColumn("obj_lang", F.lit(None).cast("string"))
        if "obj_ts" not in df.columns:
            df = df.withColumn("obj_ts", F.lit(None).cast("timestamp_ntz"))
        return df

    def __init__(
        self,
        df: DataFrame,
        schema_df: DataFrame | None = None,
        pred_frames: dict[str, list[DataFrame]] | None = None,
    ):
        self.df = self._conform(df)
        self.schema_df = schema_df
        self.pred_frames = {
            pred: [self._conform(fr) for fr in frames]
            for pred, frames in (pred_frames or {}).items()
        }
        self._memo: dict = {}

    def memo(self, key, build):
        """``build()``, computed once per store and ``key``: a store is
        immutable (a commit yields a new one), so nothing invalidates
        it.  Two threads may both build a missing entry; the last one
        kept is as good as the first."""
        if key not in self._memo:
            self._memo[key] = build()
        return self._memo[key]

    @classmethod
    def from_tables(cls, tables: dict[str, DataFrame], specs: dict[str, dict]) -> "TripleStore":
        pred_frames: dict[str, list[DataFrame]] = {}
        all_frames: list[DataFrame] = []
        for name, spec in specs.items():
            frames = predicate_frames(
                tables[name],
                spec.get("class_name", name.capitalize()),
                spec["key_col"],
                spec.get("value_cols"),
                spec.get("ref_cols"),
            )
            for pred, fr in frames.items():
                pred_frames.setdefault(pred, []).append(fr)
                all_frames.append(fr)
        out = all_frames[0]
        for fr in all_frames[1:]:
            out = out.unionByName(fr)
        return cls(out, pred_frames=pred_frames)

    def spo(self, predicate: str | None = None, graph: str = "instance") -> DataFrame:
        # constant-predicate fast path: scan only the contributing
        # table projections (vertical partitioning), not the union
        if predicate is not None and predicate in self.pred_frames:
            frames = self.pred_frames[predicate]
            df = frames[0]
            for fr in frames[1:]:
                df = df.unionByName(fr)
            return df.where(F.col("graph") == graph)
        df = self.df.where(F.col("graph") == graph)
        if predicate is not None:
            df = df.where(F.col("predicate") == predicate)
        return df

    def edges(self, predicate: str, graph: str = "instance") -> DataFrame:
        """(src, dst) pairs for one predicate — input shape for path
        closure and graph analytics."""
        return self.spo(predicate, graph).select(F.col("subject").alias("src"), F.col("obj").alias("dst"))

    def write_partitioned(self, path: str) -> None:
        """Scale layout: predicate-partitioned parquet (partition
        pruning turns constant-predicate patterns into single-
        directory scans at 100 TB)."""
        self.df.write.mode("overwrite").partitionBy("graph", "predicate").parquet(path)


def class_frames(triples: DataFrame) -> DataFrame:
    """Schema inference / class frames (terminus-server generates
    frames from the schema for its UI and GraphQL layer — public
    locus: json_schema.pl / frame generation; here the frame is
    *inferred* from instance data, the import-time variant).

    Output, one row per (class, predicate):
      (class, predicate, obj_types, n_subjects, min_card, max_card,
       required) — obj_types is the sorted distinct type set rendered
       '|'-joined; required means every instance of the class carries
       the predicate at least once.

    Dataflow: one join of property triples to rdf:type triples on
    subject (subject is the natural co-location key), a (class,
    predicate, subject) aggregate for per-subject cardinalities, a
    (class, predicate) rollup, and a separately-aggregated type set —
    a map-side-combinable ``distinct`` over (class, predicate,
    obj_type), whose group payload is bounded by the xsd type
    universe.  Collecting per-subject type arrays into the rollup
    group would instead buffer n_subjects arrays per (class,
    predicate) — an OOM at billion-subject scale — so obj_types never
    rides through ``collect_list``."""
    types = (
        triples.where(F.col("predicate") == RDF_TYPE)
        .select("subject", F.col("obj").alias("class"))
        .distinct()
    )
    props = triples.where(F.col("predicate") != RDF_TYPE)
    typed_props = props.join(types, "subject").select(
        "class", "predicate", "subject", "obj_type"
    )
    per_subject = typed_props.groupBy("class", "predicate", "subject").agg(
        F.count(F.lit(1)).alias("n")
    )
    obj_types = (
        typed_props.select("class", "predicate", "obj_type")
        .distinct()
        .groupBy("class", "predicate")
        .agg(
            F.array_join(F.array_sort(F.collect_set("obj_type")), "|").alias(
                "obj_types"
            )
        )
    )
    class_sizes = types.groupBy("class").agg(F.count(F.lit(1)).alias("n_class"))
    return (
        per_subject.groupBy("class", "predicate")
        .agg(
            F.count(F.lit(1)).alias("n_subjects"),
            F.min("n").alias("min_card"),
            F.max("n").alias("max_card"),
        )
        .join(obj_types, ["class", "predicate"])
        .join(class_sizes, "class")
        .select(
            "class",
            "predicate",
            "obj_types",
            "n_subjects",
            "min_card",
            "max_card",
            (F.col("n_subjects") == F.col("n_class")).alias("required"),
        )
    )


def tpch_store(tables: dict[str, DataFrame]) -> TripleStore:
    """The canonical mapping of the driver's TPC-H-ish tables into a
    knowledge graph (used by WOQL tests and oracle queries)."""
    specs = {
        "region": {"class_name": "Region", "key_col": "r_regionkey"},
        "nation": {
            "class_name": "Nation",
            "key_col": "n_nationkey",
            "ref_cols": {"n_regionkey": ("Region", "n_region")},
        },
        "customer": {
            "class_name": "Customer",
            "key_col": "c_custkey",
            "ref_cols": {"c_nationkey": ("Nation", "c_nation")},
        },
        "supplier": {
            "class_name": "Supplier",
            "key_col": "s_suppkey",
            "ref_cols": {"s_nationkey": ("Nation", "s_nation")},
        },
        "orders": {
            "class_name": "Order",
            "key_col": "o_orderkey",
            "ref_cols": {"o_custkey": ("Customer", "o_customer")},
        },
    }
    return TripleStore.from_tables(tables, specs)


def duration_seconds(col):
    """Numeric shadow for ``xsd:duration`` literals (dayTime subset:
    ``PnDTnHnMnS``, every part optional): total seconds as double, so
    duration-typed properties compare natively the way ``obj_num``
    serves numerics and ``obj_ts`` serves temporals.  Year/month
    durations are not totally ordered (P1M vs P30D) and are left
    unshadowed — the same restriction xsd:dayTimeDuration encodes.
    Pure regexp column expressions, engine-portable."""

    def part(pat):
        s = F.regexp_extract(col, pat, 1)
        return F.when(s == "", F.lit(0.0)).otherwise(s.cast("double"))

    # Minutes MUST be anchored after the T time separator: an
    # unanchored (\d+)M matches the MONTH designator, turning P1M (one
    # month) into 60 seconds.  And any Y/M designator BEFORE T makes
    # the duration year/month-bearing — not totally ordered — so the
    # shadow is NULL, enforcing what the docstring promises.
    sec = (
        part(r"(\d+)D") * 86400.0
        + part(r"T[^M]*?(\d+)H") * 3600.0
        + part(r"T[^M]*?(\d+)M") * 60.0
        + part(r"T.*?(\d+(?:\.\d+)?)S") * 1.0
    )
    sign = F.when(col.startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
    return F.when(col.rlike(r"^-?P[^T]*[YM]"), F.lit(None).cast("double")).otherwise(
        sign * sec
    )


def duration_months(col):
    """Numeric shadow for the ``xsd:yearMonthDuration`` subset of
    xsd:duration (``-?PnYnM``, each part optional, NO day/time part):
    signed total months ``±(12·Y + M)``.  Pure yearMonth durations
    ARE totally ordered by month count — it is only the *mixed*
    year/month + day/time forms (P1M vs P30D) that aren't — so this
    shadow complements :func:`duration_seconds` exactly: dayTime
    durations order by seconds, yearMonth durations by months, and
    mixed forms stay NULL under both.  Pure regexp column
    expressions, engine-portable."""

    def part(pat):
        s = F.regexp_extract(col, pat, 1)
        return F.when(s == "", F.lit(0.0)).otherwise(s.cast("double"))

    months = part(r"(\d+)Y") * 12.0 + part(r"(\d+)M") * 1.0
    sign = F.when(col.startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
    return F.when(
        col.rlike(r"^-?P(?=\d)(\d+Y)?(\d+M)?$"), sign * months
    ).otherwise(F.lit(None).cast("double"))


# Lexical spaces of the xsd STRING SUBTYPES (tranche 3 of the wide
# xsd surface; XML Schema Part 2 §3.3 derived string types).  The
# name-character classes here are the ASCII subset (the full XML
# NameChar set adds unicode letter ranges — a superset; ASCII is what
# the store's identifiers use).  token's space = normalizedString
# minus leading/trailing spaces and internal runs; language follows
# the RFC 3066 pattern given in the XSD spec.
XSD_LEXICAL: dict[str, str] = {
    "xsd:normalizedString": r"^[^\t\n\r]*$",
    "xsd:token": r"^(?:\S+( \S+)*)?$",
    "xsd:language": r"^[A-Za-z]{1,8}(-[A-Za-z0-9]{1,8})*$",
    "xsd:NMTOKEN": r"^[A-Za-z0-9._:-]+$",
    "xsd:NCName": r"^[A-Za-z_][A-Za-z0-9._-]*$",
    # tranche 4 — the XML name family (ASCII subset, consistent with
    # NCName above): Name allows a leading/embedded colon; ID/IDREF/
    # ENTITY share NCName's space; QName is an optional NCName prefix
    # + colon + NCName local part, and NOTATION shares QName's space
    "xsd:Name": r"^[A-Za-z_:][A-Za-z0-9._:-]*$",
    "xsd:ID": r"^[A-Za-z_][A-Za-z0-9._-]*$",
    "xsd:IDREF": r"^[A-Za-z_][A-Za-z0-9._-]*$",
    "xsd:ENTITY": r"^[A-Za-z_][A-Za-z0-9._-]*$",
    "xsd:QName": r"^(?:[A-Za-z_][A-Za-z0-9._-]*:)?[A-Za-z_][A-Za-z0-9._-]*$",
    "xsd:NOTATION": (
        r"^(?:[A-Za-z_][A-Za-z0-9._-]*:)?[A-Za-z_][A-Za-z0-9._-]*$"
    ),
}

# tranche 5 — the INTEGER-DERIVED ladder (XML Schema Part 2
# §3.3.13–3.3.25): every type shares xsd:integer's lexical space
# (optional sign + digits, leading zeros legal, "-0" a lexical form
# of 0) and restricts the VALUE space.  (lo, hi) bounds with None =
# unbounded on that side; the value check rides a decimal(38,0)
# cast, so a bounded type's out-of-38-digit lexical form correctly
# reads invalid (it is out of range a fortiori).
_XSD_INT_LEX = r"^[+-]?[0-9]+$"
XSD_INTEGER_RANGE: dict[str, tuple[int | None, int | None]] = {
    "xsd:long": (-(2**63), 2**63 - 1),
    "xsd:int": (-(2**31), 2**31 - 1),
    "xsd:short": (-(2**15), 2**15 - 1),
    "xsd:byte": (-(2**7), 2**7 - 1),
    "xsd:unsignedLong": (0, 2**64 - 1),
    "xsd:unsignedInt": (0, 2**32 - 1),
    "xsd:unsignedShort": (0, 2**16 - 1),
    "xsd:unsignedByte": (0, 2**8 - 1),
    "xsd:nonNegativeInteger": (0, None),
    "xsd:positiveInteger": (1, None),
    "xsd:nonPositiveInteger": (None, 0),
    "xsd:negativeInteger": (None, -1),
}


def xsd_lexical_valid(obj, obj_type):
    """Boolean column: does ``obj``'s lexical form satisfy its
    declared ``obj_type``'s lexical space?  Types without a registered
    lexical pattern validate TRUE (the numeric/temporal families are
    value-checked by their shadow-column casts instead).  Pure rlike
    expressions — whole-stage codegen, no UDF."""
    out = F.lit(True)
    for t, pat in sorted(XSD_LEXICAL.items()):
        out = F.when(obj_type == t, obj.rlike(pat)).otherwise(out)
    for t, (lo, hi) in sorted(XSD_INTEGER_RANGE.items()):
        v = obj.cast("decimal(38,0)")
        cond = obj.rlike(_XSD_INT_LEX)
        if lo is not None:
            cond = cond & v.isNotNull() & (
                v >= F.lit(str(lo)).cast("decimal(38,0)")
            )
        if hi is not None:
            cond = cond & v.isNotNull() & (
                v <= F.lit(str(hi)).cast("decimal(38,0)")
            )
        out = F.when(obj_type == t, cond).otherwise(out)
    return out


def nt_escape(col):
    """N-Triples / JSON string escaping as a column expression:
    backslash first (so later escapes aren't doubled), then quote and
    the control characters a text corpus actually contains (\\n \\r
    \\t).  Without the control-char escapes a multiline literal splits
    one logical triple across physical lines, breaking every per-line
    parser downstream (including :func:`from_ntriples`)."""
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    return F.replace(out, F.lit("\t"), F.lit("\\t"))


def nt_unescape(col):
    """Inverse of :func:`nt_escape`.  Escaped backslashes are parked
    on a NUL sentinel first so ``\\\\n`` (escaped backslash + 'n')
    is not misread as a newline escape; NUL cannot appear in a
    well-formed N-Triples line, so the sentinel is safe."""
    out = F.replace(col, F.lit("\\\\"), F.lit("\x00"))
    out = F.replace(out, F.lit('\\"'), F.lit('"'))
    out = F.replace(out, F.lit("\\n"), F.lit("\n"))
    out = F.replace(out, F.lit("\\r"), F.lit("\r"))
    out = F.replace(out, F.lit("\\t"), F.lit("\t"))
    return F.replace(out, F.lit("\x00"), F.lit("\\"))


def to_ntriples(triples: DataFrame, base: str = "http://example.org/") -> DataFrame:
    """(subject, line): canonical N-Triples serialization of a triple
    frame — the reference's triple dump / RDF export surface
    (terminusdb-store exports layers as turtle/ntriples).

    Conventions: instance IRIs under ``{base}i/``, predicates under
    ``{base}p/`` (rdf:type maps to the RDF namespace), literals
    escaped (backslash, quote, \\n \\r \\t) and typed with full XSD IRIs,
    lang-tagged strings as ``"lit"@tag``.  Pure per-row string
    expressions — the export is a map-only job that parallelizes to
    however many output shards the sink asks for."""
    return triples.select(
        "subject",
        F.concat(_nt_terms(base), F.lit(" .")).alias("line"),
    )


def _nt_terms(base: str):
    """``<s> <p> <o-term>`` column expression shared by the N-Triples
    and N-Quads serializers."""
    rdf_type_iri = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    s_iri = F.concat(F.lit(f"<{base}i/"), F.col("subject"), F.lit(">"))
    p_iri = F.when(
        F.col("predicate") == RDF_TYPE, F.lit(rdf_type_iri)
    ).otherwise(F.concat(F.lit(f"<{base}p/"), F.col("predicate"), F.lit(">")))
    esc = nt_escape(F.col("obj"))
    xsd_local = F.substring_index(F.col("obj_type"), ":", -1)
    o_term = (
        F.when(F.col("obj_type") == "iri", F.concat(F.lit(f"<{base}i/"), F.col("obj"), F.lit(">")))
        .when(
            F.col("obj_type") == "rdf:langString",
            F.concat(F.lit('"'), esc, F.lit('"@'), F.col("obj_lang")),
        )
        .otherwise(
            F.concat(
                F.lit('"'),
                esc,
                F.lit('"^^<http://www.w3.org/2001/XMLSchema#'),
                xsd_local,
                F.lit(">"),
            )
        )
    )
    return F.concat(s_iri, F.lit(" "), p_iri, F.lit(" "), o_term)


def to_nquads(triples: DataFrame, base: str = "http://example.org/") -> DataFrame:
    """(subject, line): N-Quads — N-Triples plus the graph term
    (reference: graphs are first-class resources — instance / schema /
    commit — and a whole-database dump must say which graph each
    statement lives in; N-Quads is the standard line format for
    that).  Same term conventions as :func:`to_ntriples` with the
    graph IRI under ``{base}g/`` before the final period; map-only,
    shards with the sink."""
    return triples.select(
        "subject",
        F.concat(
            _nt_terms(base), F.lit(f" <{base}g/"), F.col("graph"), F.lit("> .")
        ).alias("line"),
    )


def from_ntriples(
    lines: DataFrame,
    base: str = "http://example.org/",
    line_col: str = "line",
    graph: str | None = "instance",
) -> DataFrame:
    """Inverse of :func:`to_ntriples`: parse canonical N-Triples lines
    back into a typed triple frame — the reference's triple-load /
    RDF import surface (terminusdb loads turtle/ntriples dumps into a
    layer).  ``from_ntriples(to_ntriples(t)) == t`` at the conformed
    schema grain.

    Term grammar handled: ``<iri>`` objects (``{base}i/`` stripped),
    ``"lit"@tag`` language-tagged strings, ``"lit"^^<xsd-iri>`` typed
    literals (full XSD IRIs compacted to ``xsd:local``), bare
    ``"lit"`` as xsd:string; literal unescaping is
    :func:`nt_unescape`, the exact inverse of the export's
    backslash/quote/control-char escaping.
    The numeric (``obj_num``) and temporal (``obj_ts``) shadow
    columns are re-derived from the lexical form by type.  Pure
    per-row regexp/string expressions — a map-only job with no
    shuffle, so an import parallelizes to the input's split count."""
    import re as _re

    b = _re.escape(base)
    line = F.col(line_col)
    quoted = r'"((?:[^"\\]|\\.)*)"'
    graph_expr = F.lit(graph)
    if graph is None:
        # N-Quads mode (from_nquads): the graph term is the 4th
        # position; extract it and strip it so the triple grammar
        # below applies unchanged
        graph_expr = F.regexp_extract(line, f" <{b}g/([^>]*)> \\.$", 1)
        line = F.concat(
            F.regexp_replace(line, f" <{b}g/[^>]*> \\.$", ""), F.lit(" .")
        )
    lines = lines.select(
        graph_expr.alias("_graph"), line.alias(line_col)
    )
    line = F.col(line_col)

    # Staged projections, deliberately: collapsed into one SELECT,
    # every reference to ``obj`` re-inlines the whole
    # extract→unescape regex chain (the shadow derivation alone
    # references it 6×), blowing the generated method past janino's
    # limit and multiplying per-row regex work ~7×.  Catalyst's
    # CollapseProject keeps adjacent projects separate exactly when a
    # non-cheap expression is referenced more than once — so each
    # stage below computes its expensive strings ONCE into real
    # columns and the next stage references them as cheap attributes.
    # Still one map-only stage at runtime (projections fuse into the
    # same whole-stage-codegen span, each as its own method).
    stage1 = lines.select(
        "_graph",
        F.regexp_extract(line, f"^<{b}i/([^>]*)>", 1).alias("subject"),
        F.regexp_extract(line, r"^<[^>]*> <([^>]*)> ", 1).alias("_p_iri"),
        F.regexp_extract(line, r"^<[^>]*> <[^>]*> (.*) \.$", 1).alias("_oterm"),
    )
    oterm = F.col("_oterm")
    stage2 = stage1.select(
        "_graph",
        "subject",
        "_p_iri",
        "_oterm",
        nt_unescape(
            F.when(oterm.rlike('^"'), F.regexp_extract(oterm, f"^{quoted}", 1))
        ).alias("_lit"),
        F.regexp_extract(oterm, f"^{quoted}@([A-Za-z][A-Za-z0-9-]*)$", 2).alias(
            "_lang_tag"
        ),
        # [A-Za-z0-9]: xsd local names can carry digits (base64Binary)
        F.regexp_extract(
            oterm,
            f"^{quoted}\\^\\^<http://www\\.w3\\.org/2001/XMLSchema#([A-Za-z0-9]+)>$",
            2,
        ).alias("_xsd_local"),
        oterm.startswith("<").alias("_is_iri"),
    )
    stage3 = stage2.select(
        "_graph",
        "subject",
        "_p_iri",
        "_lang_tag",
        F.when(
            F.col("_is_iri"), F.regexp_extract(oterm, f"^<{b}i/(.*)>$", 1)
        )
        .otherwise(F.col("_lit"))
        .alias("obj"),
        (
            F.when(F.col("_is_iri"), F.lit("iri"))
            .when(F.col("_lang_tag") != "", F.lit("rdf:langString"))
            .when(
                F.col("_xsd_local") != "",
                F.concat(F.lit("xsd:"), F.col("_xsd_local")),
            )
            .otherwise(F.lit("xsd:string"))
        ).alias("obj_type"),
    )
    num_types = ("xsd:integer", "xsd:decimal", "xsd:double", "xsd:float", "xsd:gYear")
    obj = F.col("obj")
    obj_type = F.col("obj_type")
    return stage3.select(
        F.col("_graph").alias("graph"),
        "subject",
        F.when(
            F.col("_p_iri") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            F.lit(RDF_TYPE),
        )
        .otherwise(F.regexp_replace(F.col("_p_iri"), f"^{b}p/", ""))
        .alias("predicate"),
        "obj",
        "obj_type",
        F.when(obj_type.isin(*num_types), obj.cast(DoubleType()))
        .when(obj_type == "xsd:duration", duration_seconds(obj))
        .alias("obj_num"),
        F.when(obj_type == "rdf:langString", F.col("_lang_tag")).alias("obj_lang"),
        F.when(
            obj_type.isin("xsd:dateTime", "xsd:date"), obj.cast("timestamp_ntz")
        ).alias("obj_ts"),
    )


def from_nquads(
    lines: DataFrame,
    base: str = "http://example.org/",
    line_col: str = "line",
) -> DataFrame:
    """Inverse of :func:`to_nquads`: N-Quads lines back into a typed
    triple frame with the per-statement GRAPH extracted from the 4th
    term (``graph=None`` flips :func:`from_ntriples` into quad mode —
    the triple grammar is shared, the graph term is stripped first).
    ``from_nquads(to_nquads(t)) == t`` including the graph column."""
    return from_ntriples(lines, base=base, line_col=line_col, graph=None)


def _pn_escape(col):
    """Turtle PN_LOCAL escaping for the '/' our ``Class/key`` locals
    carry (PN_LOCAL forbids a raw slash; ``\\/`` is the standard
    PLX escape).  Locals are otherwise [A-Za-z0-9_.-]."""
    return F.replace(col, F.lit("/"), F.lit("\\/"))


def _pn_unescape(col):
    return F.replace(col, F.lit("\\/"), F.lit("/"))


def to_turtle(triples: DataFrame, base: str = "http://example.org/") -> DataFrame:
    """(subject, line): prefixed Turtle serialization — the
    reference's triple-dump format (terminus-server's triple dump API
    speaks Turtle with @prefix compaction; N-Triples is the
    uncompacted sibling, :func:`to_ntriples`).

    Conventions: ``@prefix`` header rows first (subject = '' so they
    sort ahead), instance IRIs compacted to ``i:local`` (slash in the
    local escaped per PN_LOCAL), predicates to ``p:name``, rdf:type
    to the Turtle keyword ``a``; plain strings render bare (Turtle's
    ``"lit"`` IS xsd:string — lossless), lang strings as
    ``"lit"@tag``, other types as ``"lit"^^xsd:local``; literal
    escaping is :func:`nt_escape` (shared with N-Triples).  Map-only
    per-row expressions plus a constant header union — exports
    parallelize to the sink's shard count."""
    s_term = F.concat(F.lit("i:"), _pn_escape(F.col("subject")))
    p_term = F.when(F.col("predicate") == RDF_TYPE, F.lit("a")).otherwise(
        F.concat(F.lit("p:"), F.col("predicate"))
    )
    esc = nt_escape(F.col("obj"))
    xsd_local = F.substring_index(F.col("obj_type"), ":", -1)
    o_term = (
        F.when(F.col("obj_type") == "iri", F.concat(F.lit("i:"), _pn_escape(F.col("obj"))))
        .when(
            F.col("obj_type") == "rdf:langString",
            F.concat(F.lit('"'), esc, F.lit('"@'), F.col("obj_lang")),
        )
        .when(F.col("obj_type") == "xsd:string", F.concat(F.lit('"'), esc, F.lit('"')))
        .otherwise(
            F.concat(F.lit('"'), esc, F.lit('"^^xsd:'), xsd_local)
        )
    )
    body = triples.select(
        "subject",
        F.concat(s_term, F.lit(" "), p_term, F.lit(" "), o_term, F.lit(" .")).alias(
            "line"
        ),
    )
    headers = triples.sparkSession.createDataFrame(
        [
            ("", f"@prefix i: <{base}i/> ."),
            ("", f"@prefix p: <{base}p/> ."),
            ("", "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> ."),
        ],
        "subject string, line string",
    )
    return headers.unionByName(body)


def from_turtle(
    lines: DataFrame,
    line_col: str = "line",
    graph: str = "instance",
) -> DataFrame:
    """Inverse of :func:`to_turtle`: parse prefixed Turtle lines back
    into a typed triple frame — ``from_turtle(to_turtle(t)) == t`` at
    the conformed schema grain, the reference's triple-load surface.

    The ``@prefix`` header (a handful of rows at any corpus size) is
    collected to resolve the instance/predicate bases; everything
    else is per-row regexp/string expressions — a map-only job.  Term
    grammar: ``i:local`` IRIs (PN_LOCAL ``\\/`` unescaped), the ``a``
    keyword for rdf:type, bare ``"lit"`` as xsd:string, ``"lit"@tag``
    lang strings, ``"lit"^^xsd:local`` typed literals; literal
    unescaping is :func:`nt_unescape`.  Numeric and temporal shadow
    columns re-derive from the lexical form by type."""
    line = F.col(line_col)
    pfx_rows = (
        lines.where(line.startswith("@prefix"))
        .select(
            F.regexp_extract(line, r"^@prefix (\w+): <([^>]*)> \.$", 1).alias("p"),
            F.regexp_extract(line, r"^@prefix (\w+): <([^>]*)> \.$", 2).alias("iri"),
        )
        .collect()
    )
    prefixes = {r.p: r.iri for r in pfx_rows}
    if "i" not in prefixes or "p" not in prefixes:
        raise ValueError("turtle input missing @prefix i:/p: header")
    body = lines.where(~line.startswith("@prefix") & (F.length(F.trim(line)) > 0))
    quoted = r'"((?:[^"\\]|\\.)*)"'
    # Staged projections for the same reason as from_ntriples: keep
    # each expensive extract computed once as a real column so
    # CollapseProject can't re-inline it into every downstream
    # reference (the shadow derivation references ``obj`` 6×).
    stage1 = body.select(
        _pn_unescape(
            F.regexp_extract(line, r"^i:((?:[^\s\\]|\\.)+) ", 1)
        ).alias("subject"),
        F.regexp_extract(line, r"^i:(?:[^\s\\]|\\.)+ (\S+) ", 1).alias("_pred_tok"),
        F.regexp_extract(line, r"^i:(?:[^\s\\]|\\.)+ \S+ (.*) \.$", 1).alias(
            "_oterm"
        ),
    )
    oterm = F.col("_oterm")
    stage2 = stage1.select(
        "subject",
        "_pred_tok",
        "_oterm",
        nt_unescape(
            F.when(oterm.rlike('^"'), F.regexp_extract(oterm, f"^{quoted}", 1))
        ).alias("_lit"),
        F.regexp_extract(oterm, f"^{quoted}@([A-Za-z][A-Za-z0-9-]*)$", 2).alias(
            "_lang_tag"
        ),
        F.regexp_extract(oterm, f"^{quoted}\\^\\^xsd:([A-Za-z0-9]+)$", 2).alias(
            "_xsd_local"
        ),
        oterm.startswith("i:").alias("_is_iri"),
    )
    stage3 = stage2.select(
        "subject",
        "_pred_tok",
        "_lang_tag",
        F.when(
            F.col("_is_iri"),
            _pn_unescape(F.regexp_extract(oterm, r"^i:(.*)$", 1)),
        )
        .otherwise(F.col("_lit"))
        .alias("obj"),
        (
            F.when(F.col("_is_iri"), F.lit("iri"))
            .when(F.col("_lang_tag") != "", F.lit("rdf:langString"))
            .when(
                F.col("_xsd_local") != "",
                F.concat(F.lit("xsd:"), F.col("_xsd_local")),
            )
            .otherwise(F.lit("xsd:string"))
        ).alias("obj_type"),
    )
    num_types = ("xsd:integer", "xsd:decimal", "xsd:double", "xsd:float", "xsd:gYear")
    obj = F.col("obj")
    obj_type = F.col("obj_type")
    return stage3.select(
        F.lit(graph).alias("graph"),
        "subject",
        F.when(F.col("_pred_tok") == "a", F.lit(RDF_TYPE))
        .otherwise(F.regexp_replace(F.col("_pred_tok"), "^p:", ""))
        .alias("predicate"),
        "obj",
        "obj_type",
        F.when(obj_type.isin(*num_types), obj.cast(DoubleType()))
        .when(obj_type == "xsd:duration", duration_seconds(obj))
        .alias("obj_num"),
        F.when(obj_type == "rdf:langString", F.col("_lang_tag")).alias("obj_lang"),
        F.when(
            obj_type.isin("xsd:dateTime", "xsd:date"), obj.cast("timestamp_ntz")
        ).alias("obj_ts"),
    )


def inherit_frames(declared: DataFrame, subclass_edges: DataFrame) -> DataFrame:
    """Frame composition under ``@inherits`` (terminus-server schema
    inheritance: a class's effective frame is its own properties plus
    every ancestor's, nearest declaration winning on override).

    ``declared``: (class, predicate, obj_types, required) — the
    schema-declared property frames; ``subclass_edges``: (sub, sup)
    direct subclass links.  Returns one row per (class, predicate) of
    the *effective* frame: (class, predicate, obj_types, required,
    from_class, depth) with depth = distance to the declaring
    ancestor (0 = own) and min-depth/min-name override resolution —
    deterministic under diamonds.

    Schemas are tiny; the closure is the same semi-naive iteration
    the WOQL subsumption word uses, and everything else is two keyed
    joins + one ranking window over frame-sized data."""
    from pyspark.sql.window import Window

    from terminus_server_spark.operators.path import transitive_closure

    closure = transitive_closure(subclass_edges, with_hops=True).select(
        F.col("src").alias("class"),
        F.col("dst").alias("anc"),
        F.col("hops").cast("int").alias("depth"),
    )
    nodes = (
        subclass_edges.select(F.col("src").alias("class"))
        .union(subclass_edges.select("dst"))
        .union(declared.select("class"))
        .distinct()
    )
    reflexive = nodes.select(
        "class", F.col("class").alias("anc"), F.lit(0).alias("depth")
    )
    full = closure.unionByName(reflexive)
    candidates = full.join(
        declared.select(
            F.col("class").alias("anc"),
            "predicate",
            "obj_types",
            "required",
        ),
        "anc",
    )
    w = Window.partitionBy("class", "predicate").orderBy("depth", "anc")
    return (
        candidates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "class",
            "predicate",
            "obj_types",
            "required",
            F.col("anc").alias("from_class"),
            "depth",
        )
    )


def schema_diff(frames_a: DataFrame, frames_b: DataFrame) -> DataFrame:
    """(class, predicate, change, types_a, types_b): diff between two
    schema versions at the class-frame grain — the check a migration
    runs before touching instances (reference: the schema-migration
    story's before/after frame comparison).  ``added`` / ``removed``
    classify predicates present on one side only; ``type_changed``
    and ``required_changed`` flag in-place property edits; unchanged
    rows are dropped.  One full-outer join on (class, predicate) over
    two frame tables that are already class-grain small."""
    a = frames_a.select(
        "class",
        "predicate",
        F.col("obj_types").alias("types_a"),
        F.col("required").alias("_req_a"),
    )
    b = frames_b.select(
        "class",
        "predicate",
        F.col("obj_types").alias("types_b"),
        F.col("required").alias("_req_b"),
    )
    j = a.join(b, ["class", "predicate"], "full_outer")
    change = (
        F.when(F.col("types_a").isNull(), F.lit("added"))
        .when(F.col("types_b").isNull(), F.lit("removed"))
        .when(F.col("types_a") != F.col("types_b"), F.lit("type_changed"))
        .when(F.col("_req_a") != F.col("_req_b"), F.lit("required_changed"))
    )
    return j.select("class", "predicate", change.alias("change"), "types_a", "types_b").where(
        F.col("change").isNotNull()
    )
