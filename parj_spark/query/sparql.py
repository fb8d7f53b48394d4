"""SPARQL text front-end: parse BGP SELECT queries into Pattern lists.

The reference's only live entry point is a SPARQL string parsed by RDF4J
(QueryTester.java:152, 176) and lowered to a join DAG (DagCreator.java:55-154).
This module is the from-scratch Spark-side analog: a hand-rolled tokenizer +
recursive-descent parser for exactly the SPARQL subset the reference executes —

  PREFIX declarations, SELECT [DISTINCT] ?vars | *, WHERE { triple patterns }
  with '.' separators, ';' predicate-object lists, ',' object lists, the 'a'
  keyword, OPTIONAL { ... } blocks (SPARQL OPTIONAL -> left outer join, J5),
  ORDER BY / LIMIT modifiers (ORDER BY conditions may be bare vars,
  ASC()/DESC() wrappers, bare function calls (ORDER BY STRLEN(?n),
  ascending), or BIND-grammar expressions: DESC(STRLEN(?n))).

Anything beyond a BGP (FILTER, UNION, GRAPH, subqueries, property paths) is
rejected with a clear error — the same contract as the reference, which
rejects non-StatementPattern nodes and variable predicates outright
(DagCreator.java:170-171, 269-271). The opt-in extensions go beyond that
parity: ``allow_var_predicates=True`` enables the engine's OSP-backed
variable predicates; ``allow_filter=True`` enables FILTER expressions
(comparisons =, !=, <, <=, >, >=; && / || / !; regex(?v, "re" [, "i"]);
bound(?v); sameTerm(a, b) (= on this term model); STRSTARTS/STRENDS/CONTAINS string tests; STRLEN/UCASE/LCASE/STR
and ABS/CEIL/FLOOR/ROUND term functions usable as operands (ROUND is
spec-exact fn:round — half rounds toward positive infinity); MD5/SHA256
hash builtins (lowercase hex); YEAR/MONTH/DAY/HOURS/MINUTES/SECONDS
dateTime accessors over try_cast-timestamp terms; comparison
operands reuse the BIND grammar, so arithmetic and CONCAT/IF/COALESCE
compose on either side (``FILTER(?a * 2 + 1 > ?b)``);
``[NOT] IN (...)`` membership; constant
operands in quoted or ``<iri>`` form) compiled
to native Spark Column predicates — SPARQL's error-is-false semantics map
onto SQL null propagation (a failed numeric cast yields null, and a null
predicate drops the row). FILTERs may also be written INSIDE an
OPTIONAL / MINUS / FILTER EXISTS block, scoped to it: the expression
pre-filters the block's solutions (exact when its vars are block-bound,
which the parser enforces), so e.g. a failing OPTIONAL match nulls the
block vars instead of dropping the row; ``allow_union=True``
enables ``{ A } UNION { B }`` groups whose alternatives bind the same
variable set (parse-enforced), each planned as its own BGP and
column-aligned unioned before joining the core BGP; ``allow_ask=True``
enables the ASK form (one boolean row, planned as an existence probe);
``allow_minus=True`` enables ``MINUS { ... }`` blocks, each planned as its
own BGP and removed from the core by a left anti-join on the shared
variables (a no-shared-variable block removes nothing, per the spec);
``allow_paths=True`` enables property paths — ``p+`` planned as the
transitive closure of the predicate's edge set (distributed path doubling,
``reason.transitive_closure`` — something the BGP-only reference cannot
express) plus the composite forms ``^p`` (inverse), ``p1/p2`` (sequence), ``p1|p2``
(alternation), ``p*`` / ``p?`` (zero-length forms over the graph's term
domain), ``!p`` / ``!(p1|p2)`` (negated property sets), ``p{n}`` /
``p{n,}`` / ``p{n,m}`` quantifiers (lowered at parse time onto seq/opt/
star) with ``( )`` grouping; ``allow_aggregates=True`` enables aggregate
SELECT items ``(COUNT(*) AS ?n)`` (COUNT/SUM/AVG/MIN/MAX/SAMPLE/
GROUP_CONCAT, COUNT DISTINCT) with GROUP BY and HAVING;
``allow_values=True`` enables VALUES inline bindings (UNDEF leaves the
variable unbound in its row: rows group by bound-variable mask and the
per-mask joins union — the SPARQL compatibility join); ``allow_construct=True`` enables the CONSTRUCT form
(template instantiation into a distinct result graph);
``allow_describe=True`` enables the DESCRIBE form (the distinct outgoing
edges of the described resources — ?vars bound by WHERE and/or constant
terms, which may omit the WHERE clause entirely);
``allow_bind=True`` enables BIND(expr AS ?v) computed columns (arithmetic
on try_cast doubles, CONCAT/STR, STRLEN/UCASE/LCASE and
ABS/CEIL/FLOOR/ROUND operands,
IF(cond, then, else) via when/otherwise and COALESCE) and the
SPARQL 1.1 ``(expr AS ?v)`` SELECT-expression form (lowered onto the same
BIND machinery, evaluated after WHERE binds); ``allow_subquery=True``
enables nested ``{ SELECT ... }`` groups, evaluated bottom-up and joined
with the enclosing group on their projection; ``allow_graph=True`` enables
``GRAPH <iri>/?var { triples }`` blocks over a quad relation
(:func:`execute_on_quads`) — constant graphs filter the scan, variable
graphs bind a join column, and non-GRAPH patterns match the default graph
(statements with a null graph label) — plus the ``FROM <g>`` / ``FROM
NAMED <g>`` dataset clauses (explicit dataset: default graph = merge of
the FROM graphs, named-graph set = FROM NAMED exactly);
``allow_service=True`` enables ``SERVICE [SILENT] <name> { triples }``
blocks over caller-registered relations (``services={name: DataFrame}``)
— a federation seam where the cross-dataset join is a plain Spark join.

Execution: a parsed :class:`SparqlQuery` has one lowering,
:meth:`parj_spark.query.bgp.GraphAccess._sparql_query`.
:meth:`~parj_spark.query.bgp.BGPEngine.sparql` runs it over the encoded
store (opt-ins spelled as ``ENGINE_FLAGS`` keys);
:func:`execute_on_triples` / :func:`execute_on_quads` run it over a
string (s, p, o[, g]) relation through :class:`TripleAccess`, after
setting up the FROM / FROM NAMED dataset (opt-ins spelled as
``ALLOW_FLAGS``). Both spellings map onto :func:`parse_sparql`'s one set of
switches.

Term canonicalization: the engine's dictionary stores *prefixed names*
("ub:Course_0_0_0", "rdf:type"), so pnames pass through verbatim and full
IRIs in <angle brackets> are compacted against the query's PREFIX
declarations (longest-namespace match); an IRI matching no declared prefix
is kept raw. Literals lose their quotes (and any @lang / ^^type suffix,
which the fixture vocabulary does not use).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

from parj_spark.query.bgp import GraphAccess, Path, Pattern, _is_var

_UNSUPPORTED = {
    "FILTER", "UNION", "GRAPH", "MINUS", "SERVICE", "BIND", "VALUES",
    "CONSTRUCT", "ASK", "DESCRIBE", "EXISTS", "GROUP", "HAVING", "OFFSET",
}

# parse_sparql's opt-in extension switches (all off = reference parity)
ALLOW_FLAGS = (
    "allow_var_predicates", "allow_filter", "allow_union", "allow_ask",
    "allow_minus", "allow_paths", "allow_offset", "allow_aggregates",
    "allow_values", "allow_construct", "allow_bind", "allow_subquery",
    "allow_describe", "allow_graph", "allow_service",
)
# BGPEngine.sparql / explain_sparql spelling -> parse_sparql switch (the
# encoded engine has no quad relation or service registry, so GRAPH and
# SERVICE have no engine spelling)
ENGINE_FLAGS = {
    "var_predicates": "allow_var_predicates", "filters": "allow_filter",
    "unions": "allow_union", "ask": "allow_ask", "minus": "allow_minus",
    "paths": "allow_paths", "offset": "allow_offset",
    "aggregates": "allow_aggregates", "values": "allow_values",
    "construct": "allow_construct", "bind": "allow_bind",
    "subquery": "allow_subquery", "describe": "allow_describe",
}

_TOKEN_RE = re.compile(
    r"""
      (?P<iri>      <[^<>\s]*> )
    | (?P<literal>  "(?:[^"\\]|\\.)*"(?:@[\w-]+|\^\^\S+)? )
    | (?P<var>      [?$][A-Za-z_][A-Za-z0-9_]* )
    | (?P<pname>    [A-Za-z_][\w-]*:[\w:-]*(?:\.[\w:-]+)* )
    | (?P<word>     \*|[A-Za-z_][A-Za-z0-9_]* )
    | (?P<num>      -?[0-9]+(?:\.[0-9]+)? )
    | (?P<op>       \|\||&&|!=|<=|>=|[=<>!] )
    | (?P<punct>    [{}.;,()+/|^?\[\]-] )
    | (?P<ws>       \s+ )
    | (?P<comment>  \#[^\n]* )
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[str]:
    toks, i = [], 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if m is None:
            raise ValueError(f"SPARQL tokenizer: unexpected input at {text[i:i+20]!r}")
        i = m.end()
        if m.lastgroup in ("ws", "comment"):
            continue
        toks.append(m.group())
    return toks


@dataclass
class SparqlQuery:
    """Parsed BGP SELECT query (the executable subset)."""

    select: list[str] | None  # None = SELECT *
    distinct: bool
    patterns: list[Pattern]
    # one inner list per OPTIONAL { ... } block: the whole group matches or
    # leaves ALL its vars unbound (SPARQL group semantics — flattening the
    # blocks would let ?y bind while ?z stays null inside one block)
    optional: list[list[Pattern]] = field(default_factory=list)
    order_by: list[str] = field(default_factory=list)
    limit: int | None = None
    # OFFSET modifier (opt-in extension; the reference's OFFSET support is
    # dead Exareme legacy, SURVEY.md §7.4): rows skipped before LIMIT
    offset: int | None = None
    prefixes: dict[str, str] = field(default_factory=dict)
    # conjunctive FILTER expressions (opt-in extension; empty at parity)
    filters: list["FilterExpr"] = field(default_factory=list)
    # FILTERs written INSIDE an OPTIONAL block (opt-in with the other FILTER
    # forms): index-aligned with ``optional`` — entry i holds block i's
    # filter expressions, applied to the block's solutions BEFORE the left
    # join. SPARQL algebra reads OPTIONAL { P FILTER(E) } as
    # LeftJoin(G, P, E); when E references only variables bound inside the
    # block (the well-designed case, enforced at parse time), the join
    # expression factors into a pre-filter of the block exactly — for any
    # merged solution, E sees the block side's bindings. Cross-side
    # expressions (E over enclosing-group-only vars) are rejected.
    optional_filters: list[list["FilterExpr"]] = field(default_factory=list)
    # UNION groups (opt-in extension; empty at parity): each entry is one
    # `{ A } UNION { B } (UNION { C })*` group — a list of >=2 alternative
    # BGPs that must bind the SAME variable set (enforced at parse time so
    # the union is column-aligned).
    #
    # Group-element NORMAL FORM (GraphAccess._sparql_query, the one
    # lowering; differentially fuzzed): the element lists below lose
    # document order, so a group evaluates as
    #   core BGP ⋈ UNIONs ⋈ SERVICEs ⋈ subqueries ⋈ VALUES
    #                                             (always-bound joins)
    #   ⟕ OPTIONALs                               (left joins, hoisted last)
    #   ▷ MINUS / EXISTS, then FILTER/BIND, then modifiers
    # — i.e. as if every OPTIONAL block were written at the end of its
    # group. This equals strict document-order semantics whenever OPTIONALs
    # come last (the conventional style) AND avoids SPARQL's
    # unbound-is-compatible join on a possibly-null key: no equi-join ever
    # sees a var that only an OPTIONAL binds. A query that writes OPTIONAL
    # *before* a UNION/subquery/VALUES that rebinds its vars gets the
    # hoisted reading, not the interleaved one.
    unions: list[list[list[Pattern]]] = field(default_factory=list)
    # MINUS blocks (opt-in extension; empty at parity): one inner list per
    # `MINUS { ... }` — core solutions are removed when the block matches
    # with compatible bindings on the shared variables (left anti-join);
    # a block sharing NO variable with the core removes nothing, per the
    # SPARQL spec's disjoint-domain rule
    minus: list[list[Pattern]] = field(default_factory=list)
    # FILTERs written INSIDE a MINUS block, index-aligned with ``minus``:
    # pre-filter the block before the anti-join. Exact per the spec with no
    # scoping caveat — a MINUS block never sees outer bindings, so its
    # filters range over the block's own solutions only (vars outside the
    # block are rejected at parse time, same rule as OPTIONAL).
    minus_filters: list[list["FilterExpr"]] = field(default_factory=list)
    # FILTER [NOT] EXISTS { ... } blocks (opt-in with the other FILTER
    # forms): (positive, patterns) — a correlated existence test on the
    # shared variables (left semi-join; anti for NOT). Differs from MINUS
    # on the no-shared-variable edge: EXISTS {} with any solution keeps/
    # drops ALL rows, while MINUS removes nothing.
    exists: list[tuple[bool, list[Pattern]]] = field(default_factory=list)
    # FILTERs written INSIDE a FILTER [NOT] EXISTS block, index-aligned
    # with ``exists``: pre-filter the block before the semi/anti join.
    # Exact for block-bound vars (shared vars are equated by the join, the
    # substitution reading and the pre-filter coincide); expressions over
    # enclosing-group-only vars are rejected at parse time.
    exists_filters: list[list["FilterExpr"]] = field(default_factory=list)
    # ASK form (opt-in extension): result is one row, one boolean column
    ask: bool = False
    # aggregate SELECT items (opt-in extension): `(COUNT(*) AS ?n)` etc.;
    # plain `select` vars then hold the grouping keys. group_by = GROUP BY
    # vars; having = post-aggregation FILTER expressions over the aliases.
    aggregates: list["AggSelect"] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    having: list["FilterExpr"] = field(default_factory=list)
    # VALUES blocks (opt-in extension): (vars, rows) inline bindings,
    # joined with the solution set on the shared variables; an UNDEF entry
    # is None in its row — rows group by their bound-variable mask and the
    # per-mask joins union (SPARQL compatibility join, exact because every
    # row lives in exactly one mask)
    values: list[tuple[list[str], list[list["str | None"]]]] = field(
        default_factory=list
    )
    # CONSTRUCT form (opt-in extension): template triples instantiated once
    # per solution, returned as a distinct (s, p, o) graph
    construct: list[Pattern] | None = None
    # nested `{ SELECT ... }` subqueries (opt-in extension): each evaluated
    # independently and joined with the enclosing group on its projection
    subqueries: list["SparqlQuery"] = field(default_factory=list)
    # BIND(expr AS ?v) assignments (opt-in extension), in document order
    binds: list[tuple["BindExpr", str]] = field(default_factory=list)
    # DESCRIBE form (opt-in extension): resources to describe — "?var"
    # entries are bound by the WHERE clause, plain terms are constants; the
    # result is the distinct (s, p, o) set of the resources' outgoing edges
    # (concise bounded description = one hop, subject position)
    describe: list[str] | None = None
    # FROM / FROM NAMED dataset clauses (opt-in with allow_graph; both empty
    # at parity): when either is present the query's dataset is exactly as
    # described — default graph = set-merge of the FROM graphs (empty if
    # none), named-graph set = the FROM NAMED list (empty if none)
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)
    # SERVICE blocks (opt-in extension; empty at parity): (silent, name,
    # patterns) — the block's BGP evaluates against the *registered*
    # relation the execution call maps ``name`` to (a federation seam:
    # another DataFrame, not a remote endpoint — there is no network at
    # plan time and the cross-dataset join stays a plain Spark join).
    # An unregistered name errors, or contributes nothing under SILENT.
    services: list[tuple[bool, str, list[Pattern]]] = field(
        default_factory=list
    )


@dataclass
class UpdateOp:
    """One SPARQL 1.1 Update operation (opt-in extension — the reference has
    no update path at all: every virtual-table xUpdate slot is 0, parj.c:599,
    1129, so this whole surface is beyond parity).

    ``delete_templates`` / ``insert_templates`` are Pattern lists (ground for
    the DATA forms); ``where_text`` is a self-contained ``SELECT * WHERE
    { ... }`` rendering of the operation's WHERE group (prologue included) —
    ``None`` for the ground DATA forms. Rendering the group as a SELECT means
    both execution paths (:func:`parj_spark.query.update.
    apply_update_on_triples` and the store-backed merge-on-read path) reuse
    the existing query machinery for solution matching, unchanged."""

    delete_templates: list[Pattern]
    insert_templates: list[Pattern]
    where_text: str | None


# --- BIND expression AST (opt-in extension) -------------------------------
# Leaves are the FILTER operand tuples ("var", name) | ("lit", s) |
# ("num", f); Arith nodes compute on try_cast doubles (SPARQL evaluation
# error -> null), Concat stringifies each part.


@dataclass(frozen=True)
class Arith:
    op: str  # + - * /
    lhs: "BindExpr | tuple"
    rhs: "BindExpr | tuple"


@dataclass(frozen=True)
class Concat:
    parts: tuple


@dataclass(frozen=True)
class If:
    """IF(cond, then, else): cond is a FILTER boolean expression; an
    error-valued (null) condition yields the else branch — the
    F.when/otherwise null-is-false behavior matches SPARQL's
    effective-boolean-value coercion of errors under IF."""

    cond: "FilterExpr"
    then: "BindExpr | tuple"
    els: "BindExpr | tuple"


@dataclass(frozen=True)
class Coalesce:
    parts: tuple


@dataclass(frozen=True)
class OrderExpr:
    """One ``ORDER BY ASC(expr)/DESC(expr)`` condition whose operand is a
    full BIND-grammar expression (``DESC(STRLEN(?n))``, ``ASC(?a * ?b)``)
    rather than a bare variable; bare variables keep the legacy
    ``"v"``/``"-v"`` string representation."""

    expr: "BindExpr"
    asc: bool = True


BindExpr = "Arith | Concat | If | Coalesce | tuple"


def bind_vars(e) -> set[str]:
    """Variable names referenced by a BIND expression."""
    if isinstance(e, tuple):
        return _operand_vars(e)
    if isinstance(e, Arith):
        return bind_vars(e.lhs) | bind_vars(e.rhs)
    if isinstance(e, If):
        return filter_vars(e.cond) | bind_vars(e.then) | bind_vars(e.els)
    return {v for p in e.parts for v in bind_vars(p)}


def bind_to_column(e, colref):
    """Compile a BIND expression to a Spark Column. Arithmetic runs on
    try_cast doubles (failed casts yield null — SPARQL's error semantics);
    CONCAT casts every part to string."""
    from pyspark.sql import functions as F

    if isinstance(e, tuple):
        if e[0] == "var":
            return colref(e[1])
        if e[0] == "func":
            return _unary_fn_column(e[1], bind_to_column(e[2], colref))
        if e[0] == "strfn":
            return _strfn_column(e[1], e[2], lambda a: bind_to_column(a, colref))
        return F.lit(e[1])
    if isinstance(e, Arith):
        def num(x):
            c = bind_to_column(x, colref)
            return c.try_cast("double") if not (
                isinstance(x, tuple) and x[0] == "num"
            ) else c
        l, r = num(e.lhs), num(e.rhs)
        return {"+": l + r, "-": l - r, "*": l * r, "/": l / r}[e.op]
    if isinstance(e, If):
        return F.when(
            filter_to_column(e.cond, colref), bind_to_column(e.then, colref)
        ).otherwise(bind_to_column(e.els, colref))
    if isinstance(e, Coalesce):
        return F.coalesce(*[bind_to_column(p, colref) for p in e.parts])
    return F.concat(*[bind_to_column(p, colref).cast("string") for p in e.parts])


@dataclass(frozen=True)
class AggSelect:
    """One aggregate SELECT item:
    ``(FUNC([DISTINCT] ?var | expr | *) AS ?alias)``. A non-variable
    argument (``SUM(?a * ?b)``, ``AVG(STRLEN(?n))``) rides in ``expr`` as a
    BIND expression tree, computed inside the aggregate; ``var`` and
    ``expr`` both None means COUNT(*)."""

    func: str  # count / sum / avg / min / max / sample / group_concat
    var: str | None  # bare-variable argument (None for * or an expr)
    distinct: bool
    alias: str
    separator: str = " "  # GROUP_CONCAT only (SPARQL default: single space)
    expr: object = None  # BIND expression argument (None for ?var or *)


def agg_value_vars(aggs: "list[AggSelect]") -> set[str]:
    """The input variables the aggregates read — bare-var arguments plus
    every variable inside expression arguments (the engine decodes exactly
    these before the hash aggregate)."""
    out: set[str] = set()
    for a in aggs:
        if a.var is not None:
            out.add(a.var)
        elif a.expr is not None:
            out |= bind_vars(a.expr)
    return out


def aggregate_columns(aggs: list[AggSelect]):
    """Spark aggregate expressions for a list of AggSelect items. Values are
    term strings in both execution paths, so SUM/AVG try_cast to double
    (SPARQL's error semantics -> SQL null, ignored by the aggregate) and
    MIN/MAX compare lexicographically (matching the varchar oracle).
    GROUP_CONCAT sorts the collected values before joining and SAMPLE takes
    the minimum — both deterministic refinements the SPARQL spec permits
    (any order / any element), chosen so results are oracle-comparable."""
    from pyspark.sql import functions as F

    out = []
    for a in aggs:
        if a.expr is not None:
            col = bind_to_column(a.expr, F.col)
        elif a.var is not None:
            col = F.col(a.var)
        else:
            col = None
        if a.func == "count" and col is None:
            e = F.count(F.lit(1))
        elif a.func == "count" and a.distinct:
            e = F.countDistinct(col)
        elif a.func == "count":
            e = F.count(col)
        elif a.func in ("sum", "avg"):
            e = getattr(F, a.func)(col.try_cast("double"))
        elif a.func == "sample":
            e = F.min(col)
        elif a.func == "group_concat":
            vals = F.collect_set(col) if a.distinct else F.collect_list(col)
            e = F.array_join(F.sort_array(vals), a.separator)
        else:
            e = getattr(F, a.func)(col)
        out.append(e.alias(a.alias))
    return out


# --- FILTER expression AST (opt-in extension beyond reference parity) -----
# Operands are tagged tuples: ("var", name) | ("lit", str) | ("num", float).


@dataclass
class Comparison:
    op: str  # = != < <= > >=
    lhs: tuple
    rhs: tuple


@dataclass
class Regex:
    var: str
    pattern: str
    flags: str = ""


@dataclass
class Bound:
    var: str


@dataclass
class StrTest:
    """STRSTARTS / STRENDS / CONTAINS(arg, probe) — boolean string tests."""

    func: str  # strstarts / strends / contains
    arg: tuple  # operand (var/lit/func)
    probe: tuple  # operand


@dataclass
class TermTest:
    """isIRI / isURI / isLiteral / isBlank / isNumeric(arg) — term-kind
    tests on the
    plain-string term model: a term counts as an IRI exactly when it
    matches the exporter's URI shape (rdf_io._IRI_SHAPE_RE, the rule
    write_ntriples uses to serialize objects), so FILTER and export agree
    on every term; isBlank is constant-false (blank nodes are rejected at
    import, parity with ImportHandler.java:101-103), erroring to false on
    an unbound argument like every other test."""

    func: str  # isiri / isliteral / isblank
    arg: tuple


@dataclass
class InList:
    """``operand [NOT] IN (t1, t2, ...)`` membership test."""

    arg: tuple
    values: list  # operand tuples ("lit"/"num" only)
    negated: bool = False


@dataclass
class Not:
    expr: "FilterExpr"


@dataclass
class And:
    parts: list


@dataclass
class Or:
    parts: list


FilterExpr = (
    Comparison | Regex | Bound | StrTest | TermTest | InList | Not | And | Or
)


def _operand_vars(t) -> set[str]:
    if not isinstance(t, tuple):
        # function arguments may be BIND-grammar expressions
        # (ABS(?x - 5), SUBSTR(?v, ?i + 1))
        return bind_vars(t)
    if t[0] == "var":
        return {t[1]}
    if t[0] == "func":
        return _operand_vars(t[2])
    if t[0] == "strfn":
        return {v for a in t[2] for v in _operand_vars(a)}
    return set()


def _strfn_column(name: str, args: tuple, comp):
    """Compile a multi-arg SPARQL string function (SUBSTR / REPLACE /
    STRBEFORE / STRAFTER) to a Spark Column; ``comp(operand) -> Column``
    compiles one operand tuple. All JVM expressions — substr/locate/
    regexp_replace — no UDF. SPARQL and Spark are both 1-based for SUBSTR;
    STRBEFORE/STRAFTER return "" when the probe is absent, per spec."""
    from pyspark.sql import functions as F

    c = comp(args[0])
    if name == "substr":
        start = comp(args[1]).try_cast("int")
        length = (
            comp(args[2]).try_cast("int") if len(args) > 2 else F.length(c)
        )
        return c.substr(start, length)
    def _lit(a):
        return isinstance(a, tuple) and a[0] == "lit"

    if name == "replace":
        if not (_lit(args[1]) and _lit(args[2])):
            raise ValueError(
                "REPLACE: pattern and replacement must be string literals"
            )
        return F.regexp_replace(c, args[1][1], args[2][1])
    if not _lit(args[1]):
        raise ValueError(f"{name.upper()}: probe must be a string literal")
    probe = args[1][1]
    pos = F.locate(probe, c)  # 1-based; 0 = absent
    if name == "strbefore":
        return F.when(pos > 0, c.substr(F.lit(1), pos - 1)).otherwise(F.lit(""))
    return F.when(
        pos > 0, c.substr(pos + len(probe), F.length(c))
    ).otherwise(F.lit(""))


#: unary term functions yielding NUMERIC columns (drives the numeric-
#: comparison cast rule the same way a bare number literal does)
#: the unary builtin names, single source for the operand parser, the
#: bare-ORDER-BY lookahead, and _unary_fn_column's dispatch
_UNARY_FN_NAMES = (
    "STRLEN", "UCASE", "LCASE", "STR",
    "ABS", "CEIL", "FLOOR", "ROUND",
    "MD5", "SHA256",
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
)

#: names that can open a BIND-grammar function expression (drives the
#: bare-expression ORDER BY condition lookahead)
_FN_START_NAMES = _UNARY_FN_NAMES + (
    "SUBSTR", "REPLACE", "STRBEFORE", "STRAFTER",
    "CONCAT", "COALESCE", "IF",
)

_NUMERIC_FNS = frozenset({
    "strlen", "abs", "ceil", "floor", "round",
    "year", "month", "day", "hours", "minutes", "seconds",
})


def _unary_fn_column(name: str, inner):
    """Compile one unary term function over an already-compiled operand
    column. Shared by the FILTER and BIND compilers so the two surfaces
    can never drift. String functions wrap the term string; the numeric
    ones try_cast to double first (a non-numeric term yields null — the
    SPARQL evaluation-error rule, same as the arithmetic path). ROUND is
    spec-exact fn:round — round half toward POSITIVE INFINITY
    (ROUND(-2.5) = -2), which is floor(x + 0.5), not Spark's
    HALF_UP-away-from-zero F.round."""
    from pyspark.sql import functions as F

    if name in ("year", "month", "day", "hours", "minutes", "seconds"):
        # SPARQL 1.1 dateTime accessors over the term's timestamp parse
        # (ISO or Spark "yyyy-MM-dd HH:mm:ss[.f]" forms; a non-timestamp
        # term errors -> null). Deviations, documented: SECONDS returns
        # the INTEGER second (F.second), not the spec's fractional
        # xs:decimal; and components are extracted in the SESSION timezone
        # (parj_spark.session.get_spark pins UTC), so an offset-bearing
        # literal ("...T12:00:00+02:00") is normalized to that zone first
        # where the spec extracts in the literal's own timezone — run a
        # UTC session (the engine default) for spec-equal results on
        # offset-free and Z-suffixed terms.
        t = inner.try_cast("timestamp")
        return {
            "year": F.year, "month": F.month, "day": F.dayofmonth,
            "hours": F.hour, "minutes": F.minute, "seconds": F.second,
        }[name](t)
    if name in ("abs", "ceil", "floor", "round"):
        n = inner.try_cast("double")
        return {
            "abs": lambda c: F.abs(c),
            "ceil": lambda c: F.ceil(c),
            "floor": lambda c: F.floor(c),
            "round": lambda c: F.floor(c + F.lit(0.5)),
        }[name](n)
    return {
        "strlen": F.length, "ucase": F.upper,
        "lcase": F.lower, "str": lambda c: c,
        # SPARQL 1.1 hash functions: lowercase hex over the UTF-8 bytes,
        # JVM-side — the same digests DuckDB's md5()/sha256() produce
        "md5": lambda c: F.md5(c.cast("binary")),
        "sha256": lambda c: F.sha2(c.cast("binary"), 256),
    }[name](inner)


def order_columns(order_by, colref=None):
    """Compile a parsed ``order_by`` list (legacy ``"v"``/``"-v"`` strings
    + :class:`OrderExpr` conditions) to Spark sort Columns. Shared by every
    execution path so the two representations cannot drift."""
    from pyspark.sql import functions as F

    colref = colref or F.col
    cols = []
    for v in order_by:
        if isinstance(v, OrderExpr):
            c = bind_to_column(v.expr, colref)
            cols.append(c.asc() if v.asc else c.desc())
        elif v.startswith("-"):
            cols.append(colref(v[1:]).desc())
        else:
            cols.append(colref(v).asc())
    return cols


def order_vars(order_by) -> set[str]:
    """Variable names an ``order_by`` list reads (for decode planning)."""
    out: set[str] = set()
    for v in order_by:
        if isinstance(v, OrderExpr):
            out |= bind_vars(v.expr)
        else:
            out.add(v[1:] if v.startswith("-") else v)
    return out


def filter_vars(e: FilterExpr) -> set[str]:
    """Variable names referenced by a FILTER expression."""
    if isinstance(e, Comparison):
        # operands may be BIND-grammar expressions (Arith/Concat/If/
        # Coalesce), not just term tuples — _operand_vars dispatches
        return _operand_vars(e.lhs) | _operand_vars(e.rhs)
    if isinstance(e, (Regex, Bound)):
        return {e.var}
    if isinstance(e, StrTest):
        return _operand_vars(e.arg) | _operand_vars(e.probe)
    if isinstance(e, InList):
        return _operand_vars(e.arg)
    if isinstance(e, TermTest):
        return _operand_vars(e.arg)
    if isinstance(e, Not):
        return filter_vars(e.expr)
    return {v for p in e.parts for v in filter_vars(p)}


def filter_to_column(e: FilterExpr, colref):
    """Compile a FILTER expression to a Spark Column predicate.

    ``colref(var_name) -> Column`` supplies the (string-typed) value column
    for a variable. SPARQL's "evaluation error -> FILTER is false" rule maps
    onto SQL nulls: a numeric comparison casts the string operand with
    try_cast, a failed cast yields null, and null predicates drop the row —
    same outcome, fully JVM-side (no UDF)."""
    from pyspark.sql import functions as F

    def operand(t, numeric: bool = False):
        if not isinstance(t, tuple):
            # BIND-grammar operand (Arith/Concat/If/Coalesce): compile
            # through the shared BIND compiler; Arith already yields
            # doubles, the others cast when the comparison is numeric —
            # and string-render in non-numeric contexts (same ANSI-cast
            # guard as the var branch)
            c = bind_to_column(t, colref)
            return c.try_cast("double") if numeric else c.cast("string")
        if t[0] == "var":
            # non-numeric contexts compare the term's STRING form: a plain
            # term column passes through (cast(string) is a no-op Catalyst
            # elides), while a numeric-typed BIND output column renders to
            # its string form instead of tripping ANSI's implicit plain
            # cast against a non-numeric literal (`?u != "t:nope"` with
            # ?u = BIND(ABS(...)) must drop/keep rows, not throw
            # CAST_INVALID_INPUT)
            c = colref(t[1])
            return c.try_cast("double") if numeric else c.cast("string")
        if t[0] == "func":
            # unary term functions: STRLEN/ABS/CEIL/FLOOR/ROUND yield
            # numeric columns; UCASE/LCASE rewrap the string; STR is the
            # identity on our plain-string term model
            return _unary_fn_column(t[1], operand(t[2]))
        if t[0] == "strfn":
            return _strfn_column(t[1], t[2], operand)
        return F.lit(t[1])

    def _typed_numeric(t) -> bool:
        # the COMPILED column is already numeric-typed — no cast needed
        return isinstance(t, Arith) or (
            isinstance(t, tuple)
            and (t[0] == "num" or (t[0] == "func" and t[1] in _NUMERIC_FNS))
        )

    def is_numeric(t) -> bool:
        # does this operand make the comparison numeric? IF/COALESCE count
        # when any branch does (COALESCE(?a, 0) > ?b must compare numbers,
        # not strings — the compiled coalesce column is string-typed, so
        # _typed_numeric stays False and the try_cast still applies)
        if isinstance(t, If):
            return is_numeric(t.then) or is_numeric(t.els)
        if isinstance(t, Coalesce):
            return any(is_numeric(p) for p in t.parts)
        return _typed_numeric(t)

    if isinstance(e, Comparison):
        # try_cast only the not-already-numeric operands of a numeric
        # comparison (STRLEN is already int; casting it again would be
        # wasted work)
        numeric = is_numeric(e.lhs) or is_numeric(e.rhs)
        l = operand(e.lhs, numeric and not _typed_numeric(e.lhs))
        r = operand(e.rhs, numeric and not _typed_numeric(e.rhs))
        return {
            "=": l == r, "!=": l != r,
            "<": l < r, "<=": l <= r, ">": l > r, ">=": l >= r,
        }[e.op]
    if isinstance(e, Regex):
        pat = f"(?{e.flags})" + e.pattern if e.flags else e.pattern
        # cast as in the var operand: regex over a numeric-typed BIND
        # column matches its string rendering instead of failing analysis
        return colref(e.var).cast("string").rlike(pat)
    if isinstance(e, Bound):
        return colref(e.var).isNotNull()
    if isinstance(e, StrTest):
        arg, probe = operand(e.arg), operand(e.probe)
        return {
            "strstarts": arg.startswith(probe),
            "strends": arg.endswith(probe),
            "contains": arg.contains(probe),
        }[e.func]
    if isinstance(e, InList):
        # unbound arg -> null -> isin yields null -> row dropped either way
        # (SPARQL evaluation-error-is-false, same rule as the comparisons)
        vals = [v[1] for v in e.values]
        c = operand(e.arg).isin(vals)
        return ~c if e.negated else c
    if isinstance(e, TermTest):
        from parj_spark.construct.rdf_io import _IRI_SHAPE_RE

        c = operand(e.arg)
        if e.func == "isblank":
            # no term is a blank node in this store; the when-guard keeps a
            # null arg NULL (false & null would collapse to false in SQL
            # 3-valued logic) so !isBlank(?unbound) is an error (drops),
            # not true
            return F.when(c.isNotNull(), F.lit(False))
        if e.func == "isnumeric":
            # a term counts as numeric exactly when the numeric paths can
            # use it (try_cast succeeds) — consistent with the arithmetic
            # and ABS/ROUND error rule; when-guard as isBlank
            return F.when(c.isNotNull(), c.try_cast("double").isNotNull())
        iri = c.rlike(_IRI_SHAPE_RE)
        return iri if e.func == "isiri" else ~iri
    if isinstance(e, Not):
        return ~filter_to_column(e.expr, colref)
    if isinstance(e, And):
        out = filter_to_column(e.parts[0], colref)
        for p in e.parts[1:]:
            out = out & filter_to_column(p, colref)
        return out
    out = filter_to_column(e.parts[0], colref)
    for p in e.parts[1:]:
        out = out | filter_to_column(p, colref)
    return out


def query_projection(q: SparqlQuery) -> set[str]:
    """The variable set a query's solutions expose — its SELECT list (plus
    aggregate aliases), or every bound variable for SELECT *."""
    if q.aggregates:
        return set(q.select or []) | {a.alias for a in q.aggregates}
    if q.select is not None:
        return set(q.select)
    opt_flat = [p for g in q.optional for p in g]
    union_flat = [p for grp in q.unions for alt in grp for p in alt]
    out = {v for p in q.patterns + opt_flat + union_flat for v in p.vars()}
    out |= {v for _, _, sp in q.services for p in sp for v in p.vars()}
    out |= {v for vars_, _ in q.values for v in vars_}
    out |= {v for _, v in q.binds}
    out |= {v for sub in q.subqueries for v in query_projection(sub)}
    # blank-node anonymous variables join but are never projected
    return {v for v in out if not v.startswith("__bn")}


def _normalize_path(p: Path) -> "str | Path":
    """Collapse trivial path trees back to the legacy string forms: a bare
    link to its predicate string, a bare one-or-more link to "<pred>+"."""
    if p.op == "link":
        return p.parts[0]
    if p.op == "plus" and p.parts[0].op == "link":
        return p.parts[0].parts[0] + "+"
    return p


def _EMPTY_BODY() -> dict:
    """WHERE-body dict for the no-WHERE DESCRIBE form."""
    return {
        "patterns": [], "optional": [], "filters": [], "unions": [],
        "minus": [], "exists": [], "values": [], "binds": [],
        "subqueries": [], "services": [],
    }


def _EMPTY_MODS() -> dict:
    return {
        "order_by": [], "limit": None, "offset": None,
        "group_by": [], "having": [],
    }


class _Parser:
    def __init__(self, toks: list[str], **flags: bool):
        self.toks = toks
        self.i = 0
        self.prefixes: dict[str, str] = {}
        for name in ALLOW_FLAGS:
            setattr(self, name, flags.get(name, False))
        self._bn = 0  # fresh-variable counter for [] blank nodes

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise ValueError("SPARQL parser: unexpected end of query")
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, want: str) -> None:
        got = self.next()
        if got.upper() != want.upper():
            raise ValueError(f"SPARQL parser: expected {want!r}, got {got!r}")

    def _kw(self, tok: str | None, word: str) -> bool:
        return tok is not None and tok.upper() == word

    # --- terms ----------------------------------------------------------
    def term(self, allow_a: bool = False) -> str:
        t = self.next()
        if t.upper() in _UNSUPPORTED:
            raise ValueError(
                f"non-BGP SPARQL construct {t!r} not supported "
                "(parity with the reference: DagCreator.java:269-271)"
            )
        if t.startswith("?") or t.startswith("$"):
            return "?" + t[1:]
        if t == "a":
            if not allow_a:
                raise ValueError("'a' keyword only valid in predicate position")
            return "rdf:type"
        if t.startswith("<") and t.endswith(">"):
            return self._compact_iri(t[1:-1])
        if t.startswith('"'):
            body = re.match(r'"((?:[^"\\]|\\.)*)"', t).group(1)
            return body.replace('\\"', '"').replace("\\\\", "\\")
        if t.startswith("_:"):
            # a query blank node is an anonymous variable scoped to the
            # query (never projected by SELECT *) — the same desugaring
            # RDF4J applies before the reference's DAG building, so this is
            # parity surface, not an extension
            return "?__bn_" + t[2:]
        if ":" in t:
            return t  # prefixed name, stored verbatim in the dictionary
        raise ValueError(f"SPARQL parser: cannot interpret term {t!r}")

    def _compact_iri(self, iri: str) -> str:
        best_pfx, best_ns = None, ""
        for pfx, ns in self.prefixes.items():
            if iri.startswith(ns) and len(ns) > len(best_ns):
                best_pfx, best_ns = pfx, ns
        if best_pfx is not None:
            return f"{best_pfx}:{iri[len(best_ns):]}"
        return iri

    # --- grammar ----------------------------------------------------------
    def _prologue(self) -> None:
        while self._kw(self.peek(), "PREFIX"):
            self.next()
            pname = self.next()
            if not pname.endswith(":"):
                # tokenizer may split "ub:" from "<iri>"; also accept "ub" ":"
                raise ValueError(f"PREFIX: expected 'pfx:', got {pname!r}")
            iri = self.next()
            if not (iri.startswith("<") and iri.endswith(">")):
                raise ValueError(f"PREFIX: expected <iri>, got {iri!r}")
            self.prefixes[pname[:-1]] = iri[1:-1]

    def parse(self) -> SparqlQuery:
        self._prologue()

        ask = False
        distinct = False
        select: list[str] | None = None
        aggregates: list[AggSelect] = []
        select_exprs: list[tuple] = []
        construct: list[Pattern] | None = None
        describe: list[str] | None = None
        if self._kw(self.peek(), "ASK") and self.allow_ask:
            # parity by default: ASK stays rejected (the reference only
            # runs SELECT); parse_sparql(..., allow_ask=True) opts in
            self.next()
            ask = True
        elif self._kw(self.peek(), "CONSTRUCT") and self.allow_construct:
            # CONSTRUCT form (opt-in): template triples instantiated per
            # WHERE solution. Template predicates may be variables bound by
            # the WHERE clause regardless of the var-predicate engine flag
            # — they are output slots, not scan slots.
            self.next()
            self.expect("{")
            construct = []
            saved = self.allow_var_predicates
            self.allow_var_predicates = True
            try:
                self._triples_block(construct, stop="}")
            finally:
                self.allow_var_predicates = saved
            self.expect("}")
            if not construct:
                raise ValueError("CONSTRUCT: empty template")
        elif self._kw(self.peek(), "CONSTRUCT"):
            raise ValueError(
                "CONSTRUCT is not supported at reference parity "
                "(pass allow_construct=True to opt in)"
            )
        elif self._kw(self.peek(), "DESCRIBE") and self.allow_describe:
            # DESCRIBE form (opt-in): resources are ?vars (bound by WHERE)
            # and/or constant terms; WHERE is optional iff all constants
            self.next()
            describe = []
            while (t := self.peek()) is not None and (
                t.startswith(("?", "$", "<")) or (":" in t and t != ":")
            ):
                describe.append(self.term())
            if not describe:
                raise ValueError("DESCRIBE: expected at least one ?var or term")
        elif self._kw(self.peek(), "DESCRIBE"):
            raise ValueError(
                "DESCRIBE is not supported at reference parity "
                "(pass allow_describe=True to opt in)"
            )
        else:
            distinct, select, aggregates, select_exprs = self._select_clause()
            if select_exprs and aggregates:
                raise ValueError(
                    "SELECT expressions and aggregate items do not combine "
                    "in this subset (compute aggregates in a subquery)"
                )

        from_graphs: list[str] = []
        from_named: list[str] = []
        while self._kw(self.peek(), "FROM"):
            if not self.allow_graph:
                # parity by default: the reference models one graph; the
                # dataset clauses ride the same opt-in as GRAPH blocks
                raise ValueError(
                    "FROM / FROM NAMED dataset clauses are not supported at "
                    "reference parity (pass allow_graph=True to opt in)"
                )
            self.next()
            named = self._kw(self.peek(), "NAMED")
            if named:
                self.next()
            t = self.term()
            if t.startswith("?"):
                raise ValueError("FROM: expected a graph IRI, got a variable")
            (from_named if named else from_graphs).append(t)

        if self._kw(self.peek(), "WHERE"):
            self.next()
        if describe is not None and self.peek() != "{":
            # constant-only DESCRIBE may omit the WHERE clause entirely
            if any(t.startswith("?") for t in describe):
                raise ValueError("DESCRIBE ?var requires a WHERE clause")
            body, mods = _EMPTY_BODY(), _EMPTY_MODS()
        else:
            self.expect("{")
            body = self._where_body()
            mods = self._modifiers(in_subquery=False)
        # SELECT expressions evaluate over the WHERE solutions like binds
        # declared last (they may reference BIND targets); the alias is
        # already in the select list, so projection keeps it
        body["binds"] = body["binds"] + select_exprs
        q = SparqlQuery(
            select=select,
            distinct=distinct,
            prefixes=dict(self.prefixes),
            ask=ask,
            aggregates=aggregates,
            construct=construct,
            describe=describe,
            from_graphs=from_graphs,
            from_named=from_named,
            **body,
            **mods,
        )
        self._validate(q)
        return q

    # --- update request grammar (opt-in extension; see parse_update) ------
    def parse_update_ops(self) -> "list[UpdateOp]":
        ops: list[UpdateOp] = []
        while True:
            self._prologue()  # a prologue may precede any operation
            if self.peek() is None:
                break
            ops.append(self._update_op())
            if self.peek() == ";":
                self.next()
                continue
            if self.peek() is not None:
                raise ValueError(
                    f"SPARQL update: expected ';' or end after operation, "
                    f"got {self.peek()!r}"
                )
        if not ops:
            raise ValueError("SPARQL update: empty request")
        return ops

    def _update_op(self) -> "UpdateOp":
        head = self.next().upper()
        if head not in ("INSERT", "DELETE"):
            raise ValueError(
                f"SPARQL update: expected INSERT or DELETE, got {head!r} "
                "(LOAD/CLEAR/CREATE/DROP graph management is out of scope)"
            )
        if self._kw(self.peek(), "DATA"):
            # INSERT DATA / DELETE DATA: ground triples, no WHERE
            self.next()
            tris = self._template_triples()
            for t in tris:
                if t.vars():
                    raise ValueError(
                        f"SPARQL update: {head} DATA requires ground triples "
                        f"(found variable in {t})"
                    )
            return UpdateOp(
                delete_templates=tris if head == "DELETE" else [],
                insert_templates=tris if head == "INSERT" else [],
                where_text=None,
            )
        if head == "DELETE" and self._kw(self.peek(), "WHERE"):
            # DELETE WHERE { pattern }: the group is both the match pattern
            # and the deletion template (SPARQL 1.1 Update §3.1.3.2)
            self.next()
            start = self.i
            tris = self._template_triples()
            where = self._render_where(start, self.i)
            op = UpdateOp(delete_templates=tris, insert_templates=[],
                          where_text=where)
            self._validate_templates(op)
            return op
        # Modify form: DELETE {t}? INSERT {t}? WHERE { group }
        delete_templates: list[Pattern] = []
        insert_templates: list[Pattern] = []
        if head == "DELETE":
            delete_templates = self._template_triples()
            if self._kw(self.peek(), "INSERT"):
                self.next()
                insert_templates = self._template_triples()
        else:
            insert_templates = self._template_triples()
        self.expect("WHERE")
        start, end = self._group_span()
        op = UpdateOp(delete_templates, insert_templates,
                      self._render_where(start, end))
        self._validate_templates(op)
        return op

    def _template_triples(self) -> list[Pattern]:
        """A braced triples block used as an update template (or ground
        data). Property paths are never templates (a path edge is derived,
        not stored); variable predicates are allowed — like CONSTRUCT
        templates they are output slots, bound by the WHERE group."""
        self.expect("{")
        out: list[Pattern] = []
        saved = (self.allow_paths, self.allow_var_predicates)
        self.allow_paths, self.allow_var_predicates = False, True
        try:
            self._triples_block(out, stop="}")
        finally:
            self.allow_paths, self.allow_var_predicates = saved
        self.expect("}")
        if not out:
            raise ValueError("SPARQL update: empty template block")
        return out

    def _group_span(self) -> tuple[int, int]:
        """Consume one balanced ``{ ... }`` group, returning its token span
        (inclusive of the braces) without parsing the contents — the span is
        re-rendered as a SELECT * WHERE group and parsed/executed by the
        regular query machinery, so the update WHERE clause supports exactly
        the SELECT surface (OPTIONAL/FILTER/UNION/... per the allow flags
        passed at execution time)."""
        if self.peek() != "{":
            raise ValueError(
                f"SPARQL update: expected '{{' after WHERE, got {self.peek()!r}"
            )
        start, depth, j = self.i, 0, self.i
        while j < len(self.toks):
            if self.toks[j] == "{":
                depth += 1
            elif self.toks[j] == "}":
                depth -= 1
                if depth == 0:
                    self.i = j + 1
                    return start, j + 1
            j += 1
        raise ValueError("SPARQL update: unbalanced braces in WHERE group")

    def _render_where(self, start: int, end: int) -> str:
        """Self-contained SELECT * query text for a WHERE group token span.
        Tokens are atomic (the tokenizer never splits inside a literal or
        IRI), so a space-join re-parses identically; the collected PREFIX
        prologue is prepended so compaction matches the original parse."""
        pro = " ".join(f"PREFIX {p}: <{iri}>" for p, iri in self.prefixes.items())
        return f"{pro} SELECT * WHERE {' '.join(self.toks[start:end])}"

    def _validate_templates(self, op: "UpdateOp") -> None:
        """Every template variable must be bindable by the WHERE group
        (parsed permissively here — execution re-parses under the caller's
        allow flags, which is where extension gating applies)."""
        q = parse_sparql(
            op.where_text, allow_var_predicates=True, allow_filter=True,
            allow_union=True, allow_minus=True, allow_paths=True,
            allow_offset=True, allow_values=True, allow_bind=True,
            allow_subquery=True,
        )
        opt_flat = [p for g in q.optional for p in g]
        union_flat = [p for grp in q.unions for alt in grp for p in alt]
        bound = {v for p in q.patterns + opt_flat + union_flat for v in p.vars()}
        bound |= {v for vars_, _ in q.values for v in vars_}
        bound |= {v for _, v in q.binds}
        bound |= {v for sub in q.subqueries for v in query_projection(sub)}
        unknown = sorted(
            {
                v
                for t in op.delete_templates + op.insert_templates
                for v in t.vars()
            }
            - bound
        )
        if unknown:
            raise ValueError(
                f"SPARQL update: template vars not bound by the WHERE "
                f"group: {unknown}"
            )

    _AGG_FUNCS = ("count", "sum", "avg", "min", "max", "sample", "group_concat")

    def _select_clause(
        self,
    ) -> tuple[bool, list[str] | None, list[AggSelect], list[tuple]]:
        """``SELECT [DISTINCT] (*|?vars|(AGG .. AS ?alias)|(expr AS ?v)...)``
        — shared by the top-level query and subqueries. A parenthesized item
        whose head is an aggregate function name is an aggregate; any other
        is a SELECT expression, returned as (BindExpr, alias) pairs and
        lowered onto the BIND machinery by the caller."""
        self.expect("SELECT")
        distinct = False
        if self._kw(self.peek(), "DISTINCT"):
            self.next()
            distinct = True
        elif self._kw(self.peek(), "REDUCED"):
            # REDUCED permits eliminating any subset of duplicates; the
            # distinct set is a conforming (and deterministic) answer
            self.next()
            distinct = True
        aggregates: list[AggSelect] = []
        select_exprs: list[tuple] = []
        if self.peek() == "*":
            self.next()
            return distinct, None, aggregates, select_exprs
        select: list[str] = []
        while self.peek() is not None:
            t = self.peek()
            if t.startswith(("?", "$")):
                select.append(self.next()[1:])
            elif t == "(":
                head = (
                    self.toks[self.i + 1].lower()
                    if self.i + 1 < len(self.toks)
                    else ""
                )
                if head in self._AGG_FUNCS:
                    if not self.allow_aggregates:
                        # parity by default: the reference's aggregate
                        # surface is dead Exareme legacy (SURVEY.md
                        # §2.4 A2); opt in via allow_aggregates
                        raise ValueError(
                            "aggregate SELECT items are not supported at "
                            "reference parity (pass allow_aggregates=True "
                            "to opt in)"
                        )
                    aggregates.append(self._agg_item())
                else:
                    # (expr AS ?v) projection expression — SPARQL 1.1's
                    # SELECT-expression form, same surface as BIND
                    if not self.allow_bind:
                        raise ValueError(
                            "SELECT expressions are not supported at "
                            "reference parity (pass allow_bind=True "
                            "to opt in)"
                        )
                    self.next()
                    expr = self._bind_expr()
                    self.expect("AS")
                    alias = self.next()
                    if not alias.startswith(("?", "$")):
                        raise ValueError(f"AS: expected ?alias, got {alias!r}")
                    self.expect(")")
                    select_exprs.append((expr, alias[1:]))
                    select.append(alias[1:])
            else:
                break
        if not select and not aggregates:
            raise ValueError("SELECT: expected ?vars or *")
        return distinct, select, aggregates, select_exprs

    def _subselect(self) -> SparqlQuery:
        """``{ SELECT ... WHERE { ... } <modifiers> }`` — a nested query
        evaluated independently and joined with the enclosing group on its
        projected variables. The opening '{' is already consumed; this
        parses through the closing '}'."""
        distinct, select, aggregates, select_exprs = self._select_clause()
        if select_exprs and aggregates:
            raise ValueError(
                "SELECT expressions and aggregate items do not combine "
                "in this subset (compute aggregates in a subquery)"
            )
        if self._kw(self.peek(), "WHERE"):
            self.next()
        self.expect("{")
        body = self._where_body()
        mods = self._modifiers(in_subquery=True)
        self.expect("}")
        body["binds"] = body["binds"] + select_exprs
        q = SparqlQuery(
            select=select,
            distinct=distinct,
            prefixes=dict(self.prefixes),
            aggregates=aggregates,
            **body,
            **mods,
        )
        self._validate(q)
        return q

    def _where_body(self) -> dict:
        """Parse the contents of a WHERE group; consumes the closing '}'."""
        patterns: list[Pattern] = []
        optional: list[list[Pattern]] = []
        optional_filters: list[list[FilterExpr]] = []
        filters: list[FilterExpr] = []
        unions: list[list[list[Pattern]]] = []
        minus: list[list[Pattern]] = []
        minus_filters: list[list[FilterExpr]] = []
        exists: list[tuple[bool, list[Pattern]]] = []
        exists_filters: list[list[FilterExpr]] = []
        values: list[tuple[list[str], list[list[str]]]] = []
        binds: list[tuple] = []
        subqueries: list[SparqlQuery] = []
        services: list[tuple[bool, str, list[Pattern]]] = []
        while True:
            t = self.peek()
            if t is None:
                raise ValueError("SPARQL parser: missing closing '}'")
            if t == "}":
                self.next()
                break
            if t == ".":
                self.next()
                continue
            if self._kw(t, "OPTIONAL"):
                self.next()
                group, gfilters = self._filtered_block("OPTIONAL")
                optional.append(group)
                optional_filters.append(gfilters)
                continue
            if self._kw(t, "SERVICE"):
                if not self.allow_service:
                    # parity by default: the reference rejects SERVICE with
                    # the rest of non-BGP SPARQL (DagCreator.java:269-271).
                    # parse_sparql(..., allow_service=True) opts in to the
                    # registered-relation federation seam.
                    raise ValueError(
                        "SERVICE is not supported at reference parity "
                        "(pass allow_service=True to opt in)"
                    )
                self.next()
                silent = self._kw(self.peek(), "SILENT")
                if silent:
                    self.next()
                name = self.term()
                if name.startswith("?"):
                    raise ValueError(
                        "SERVICE: variable endpoints are not supported "
                        "(register relations by name)"
                    )
                self.expect("{")
                sgroup: list[Pattern] = []
                self._triples_block(sgroup, stop="}")
                self.expect("}")
                if not sgroup:
                    raise ValueError("SERVICE: empty group block")
                for p in sgroup:
                    if isinstance(p.p, Path) or (
                        isinstance(p.p, str) and p.p.endswith("+")
                    ):
                        raise ValueError(
                            "property paths inside SERVICE blocks are not "
                            "supported"
                        )
                services.append((silent, name, sgroup))
                continue
            if self._kw(t, "GRAPH"):
                if not self.allow_graph:
                    # parity by default: the reference models one graph and
                    # rejects GRAPH (DagCreator.java:170-171, 269-271).
                    # parse_sparql(..., allow_graph=True) opts in to the
                    # quad-relation extension (execute_on_quads).
                    raise ValueError(
                        "GRAPH is not supported at reference parity "
                        "(pass allow_graph=True to opt in)"
                    )
                self.next()
                gterm = self.term()
                self.expect("{")
                ggroup: list[Pattern] = []
                self._triples_block(ggroup, stop="}")
                self.expect("}")
                if gterm.startswith("?"):
                    for p in ggroup:
                        if isinstance(p.p, Path) or (
                            isinstance(p.p, str) and p.p.endswith("+")
                        ):
                            # a constant graph scopes the path relation to
                            # one named graph's edge set; a variable graph
                            # would need a per-graph closure — out of scope
                            raise ValueError(
                                "property paths inside GRAPH blocks are not "
                                "supported with a variable graph"
                            )
                # graph context rides the patterns themselves, so GRAPH
                # blocks and default-graph patterns join as one BGP
                patterns.extend(replace(p, g=gterm) for p in ggroup)
                continue
            if self._kw(t, "MINUS"):
                if not self.allow_minus:
                    # parity by default: the reference rejects MINUS
                    # (DagCreator.java:269-271). parse_sparql(...,
                    # allow_minus=True) opts in to the extension.
                    raise ValueError(
                        "MINUS is not supported at reference parity "
                        "(pass allow_minus=True to opt in)"
                    )
                self.next()
                mgroup, mfilters = self._filtered_block("MINUS")
                if not mgroup:
                    raise ValueError("MINUS: empty group block")
                minus.append(mgroup)
                minus_filters.append(mfilters)
                continue
            if t == "{":
                nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
                if self._kw(nxt, "SELECT"):
                    if not self.allow_subquery:
                        # parity by default: the reference rejects nested
                        # queries (DagCreator.java:269-271). parse_sparql(
                        # ..., allow_subquery=True) opts in.
                        raise ValueError(
                            "subqueries are not supported at reference "
                            "parity (pass allow_subquery=True to opt in)"
                        )
                    self.next()
                    subqueries.append(self._subselect())
                    continue
                if not self.allow_union:
                    # parity by default: the reference rejects group/UNION
                    # blocks (DagCreator.java:269-271). parse_sparql(...,
                    # allow_union=True) opts in to the extension.
                    raise ValueError(
                        "group blocks / UNION are not supported at reference "
                        "parity (pass allow_union=True to opt in)"
                    )
                alts = [self._group_block()]
                while self._kw(self.peek(), "UNION"):
                    self.next()
                    alts.append(self._group_block())
                if len(alts) == 1:
                    patterns.extend(alts[0])  # plain braces: ordinary BGP
                else:
                    varsets = [{v for p in a for v in p.vars()} for a in alts]
                    if any(vs != varsets[0] for vs in varsets[1:]):
                        raise ValueError(
                            "UNION alternatives must bind the same variables "
                            f"(got {[sorted(vs) for vs in varsets]})"
                        )
                    unions.append(alts)
                continue
            if self._kw(t, "BIND"):
                if not self.allow_bind:
                    # parity by default: the reference rejects BIND
                    # (DagCreator.java:269-271). parse_sparql(...,
                    # allow_bind=True) opts in to the extension.
                    raise ValueError(
                        "BIND is not supported at reference parity "
                        "(pass allow_bind=True to opt in)"
                    )
                self.next()
                self.expect("(")
                expr = self._bind_expr()
                self.expect("AS")
                v = self.next()
                if not v.startswith(("?", "$")):
                    raise ValueError(f"BIND: expected ?var after AS, got {v!r}")
                self.expect(")")
                binds.append((expr, v[1:]))
                continue
            if self._kw(t, "VALUES"):
                if not self.allow_values:
                    # parity by default: the reference rejects VALUES
                    # (DagCreator.java:269-271). parse_sparql(...,
                    # allow_values=True) opts in to the extension.
                    raise ValueError(
                        "VALUES is not supported at reference parity "
                        "(pass allow_values=True to opt in)"
                    )
                self.next()
                values.append(self._values_block())
                continue
            if self._kw(t, "FILTER"):
                if not self.allow_filter:
                    # parity by default: the reference rejects FILTER
                    # (DagCreator.java:269-271). parse_sparql(...,
                    # allow_filter=True) opts in to the extension.
                    raise ValueError(
                        "FILTER is not supported at reference parity "
                        "(pass allow_filter=True to opt in)"
                    )
                self.next()
                # FILTER [NOT] EXISTS { ... }: a correlated existence test,
                # not a value expression — parsed as its own BGP block
                neg = False
                if self._kw(self.peek(), "NOT") and self._kw(
                    self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None,
                    "EXISTS",
                ):
                    self.next()
                    neg = True
                if self._kw(self.peek(), "EXISTS"):
                    self.next()
                    egrp, efilters = self._filtered_block("FILTER EXISTS")
                    if not egrp:
                        raise ValueError("EXISTS: empty group block")
                    exists.append((not neg, egrp))
                    exists_filters.append(efilters)
                    continue
                self.expect("(")
                filters.append(self._filter_or())
                self.expect(")")
                continue
            if t.upper() in _UNSUPPORTED:
                raise ValueError(
                    f"non-BGP SPARQL construct {t!r} not supported "
                    "(parity with the reference: DagCreator.java:269-271)"
                )
            self._triples_same_subject(patterns)
        return {
            "patterns": patterns,
            "optional": optional,
            "optional_filters": optional_filters,
            "filters": filters,
            "unions": unions,
            "minus": minus,
            "minus_filters": minus_filters,
            "exists": exists,
            "exists_filters": exists_filters,
            "values": values,
            "binds": binds,
            "subqueries": subqueries,
            "services": services,
        }

    def _modifiers(self, in_subquery: bool) -> dict:
        """Trailing solution modifiers (GROUP BY / HAVING / ORDER BY /
        LIMIT / OFFSET). For a subquery, stops at the enclosing '}' without
        consuming it."""
        order_by: list[str] = []
        limit: int | None = None
        offset: int | None = None
        group_by: list[str] = []
        having: list[FilterExpr] = []
        while self.peek() is not None:
            t = self.peek()
            if in_subquery and t == "}":
                break
            if self._kw(t, "GROUP"):
                if not self.allow_aggregates:
                    # parity by default: the reference's GROUP BY surface is
                    # dead Exareme legacy (SURVEY.md §2.4 A2); opt in via
                    # allow_aggregates
                    raise ValueError(
                        "GROUP BY is not supported at reference parity "
                        "(pass allow_aggregates=True to opt in)"
                    )
                self.next()
                self.expect("BY")
                while self.peek() is not None and self.peek().startswith(("?", "$")):
                    group_by.append(self.next()[1:])
                if not group_by:
                    raise ValueError("GROUP BY: expected ?vars")
                continue
            if self._kw(t, "HAVING"):
                if not self.allow_aggregates:
                    raise ValueError(
                        "HAVING is not supported at reference parity "
                        "(pass allow_aggregates=True to opt in)"
                    )
                self.next()
                self.expect("(")
                having.append(self._filter_or())
                self.expect(")")
                continue
            if self._kw(t, "ORDER"):
                self.next()
                self.expect("BY")
                fn_starts = _FN_START_NAMES
                while self.peek() is not None and (
                    self.peek().startswith(("?", "$"))
                    or self.peek().upper() in ("ASC", "DESC")
                    or self.peek().upper() in fn_starts
                ):
                    tok = self.peek()
                    if tok.upper() in fn_starts:
                        # bare function-call condition (spec brackettedless
                        # OrderCondition): ascending by that expression
                        order_by.append(OrderExpr(self._bind_expr(), True))
                        continue
                    tok = self.next()
                    if tok.upper() in ("ASC", "DESC"):
                        asc = tok.upper() == "ASC"
                        self.expect("(")
                        e = self._bind_expr()
                        self.expect(")")
                        if isinstance(e, tuple) and e[0] == "var":
                            v = e[1]
                            order_by.append(v if asc else f"-{v}")
                        else:
                            # expression condition: DESC(STRLEN(?n)), ...
                            order_by.append(OrderExpr(e, asc))
                    else:
                        order_by.append(tok[1:])
                continue
            if self._kw(t, "LIMIT"):
                self.next()
                limit = int(self.next())
                continue
            if self._kw(t, "OFFSET"):
                if not self.allow_offset:
                    # parity by default: OFFSET is dead legacy in the
                    # reference (SURVEY.md §7.4); opt in via allow_offset
                    raise ValueError(
                        "OFFSET is not supported at reference parity "
                        "(pass allow_offset=True to opt in)"
                    )
                self.next()
                offset = int(self.next())
                continue
            if t.upper() in _UNSUPPORTED:
                raise ValueError(f"non-BGP SPARQL construct {t!r} not supported")
            raise ValueError(f"SPARQL parser: unexpected trailing token {t!r}")
        return {
            "order_by": order_by,
            "limit": limit,
            "offset": offset,
            "group_by": group_by,
            "having": having,
        }

    # --- BIND expressions (precedence: +,- < *,/ < primary) --------------
    def _bind_expr(self):
        e = self._bind_term()
        while True:
            t = self.peek()
            if t in ("+", "-"):
                self.next()
                e = Arith(t, e, self._bind_term())
            elif t is not None and re.fullmatch(r"-[0-9]+(?:\.[0-9]+)?", t):
                # the tokenizer eats "- 3" as the single number -3; fold it
                # back into a subtraction so `?v - 3` parses
                self.next()
                e = Arith("+", e, ("num", float(t)))
            else:
                return e

    def _bind_term(self):
        e = self._bind_primary()
        while self.peek() in ("*", "/"):
            op = self.next()
            e = Arith(op, e, self._bind_primary())
        return e

    def _bind_primary(self):
        t = self.peek()
        if t == "(":
            self.next()
            e = self._bind_expr()
            self.expect(")")
            return e
        if t is not None and t.upper() in ("CONCAT", "STR", "COALESCE"):
            fn = self.next().upper()
            self.expect("(")
            parts = [self._bind_expr()]
            while self.peek() == ",":
                self.next()
                parts.append(self._bind_expr())
            self.expect(")")
            if fn == "STR":
                if len(parts) != 1:
                    raise ValueError("STR() takes exactly one argument")
                return parts[0]  # values are term strings already
            if fn == "COALESCE":
                return Coalesce(tuple(parts))
            return Concat(tuple(parts))
        if t is not None and t.upper() == "IF":
            self.next()
            self.expect("(")
            cond = self._filter_or()
            self.expect(",")
            then = self._bind_expr()
            self.expect(",")
            els = self._bind_expr()
            self.expect(")")
            return If(cond, then, els)
        return self._filter_operand()

    def _agg_item(self) -> AggSelect:
        """``( FUNC([DISTINCT] ?var | *) AS ?alias )`` in the SELECT clause;
        GROUP_CONCAT also accepts ``; SEPARATOR = "sep"`` before its ')'."""
        self.expect("(")
        func = self.next().lower()
        if func not in (
            "count", "sum", "avg", "min", "max", "sample", "group_concat",
        ):
            raise ValueError(f"aggregate function {func!r} not supported")
        self.expect("(")
        distinct = False
        if self._kw(self.peek(), "DISTINCT"):
            self.next()
            distinct = True
        var: str | None = None
        expr = None
        if self.peek() == "*":
            self.next()
            if func != "count" or distinct:
                raise ValueError("'*' argument only valid for COUNT(*)")
        else:
            # full expression argument (SUM(?a * ?b), AVG(STRLEN(?n)), ...)
            # through the BIND grammar; a bare ?var keeps the fast path
            e = self._bind_expr()
            if isinstance(e, tuple) and e[0] == "var":
                var = e[1]
            else:
                expr = e
        if distinct and func not in ("count", "group_concat"):
            raise ValueError(
                "DISTINCT only supported inside COUNT() / GROUP_CONCAT()"
            )
        separator = " "
        if self.peek() == ";":
            if func != "group_concat":
                raise ValueError("';' modifier only valid in GROUP_CONCAT()")
            self.next()
            if not self._kw(self.peek(), "SEPARATOR"):
                raise ValueError("expected SEPARATOR after ';'")
            self.next()
            self.expect("=")
            sep = self.next()
            if not sep.startswith('"'):
                raise ValueError("SEPARATOR must be a string literal")
            separator = re.match(r'"((?:[^"\\]|\\.)*)"', sep).group(1)
        self.expect(")")
        self.expect("AS")
        alias = self.next()
        if not alias.startswith(("?", "$")):
            raise ValueError(f"AS: expected ?alias, got {alias!r}")
        self.expect(")")
        return AggSelect(func, var, distinct, alias[1:], separator, expr)

    def _values_block(self) -> "tuple[list[str], list[list[str | None]]]":
        """``VALUES ?v { t1 t2 }`` or ``VALUES (?a ?b) { (t1 t2) ... }``.
        ``UNDEF`` leaves that variable unbound in its row (None in the row
        list) — the row then constrains only the variables it binds."""
        vars_: list[str] = []
        if self.peek() == "(":
            self.next()
            while self.peek() != ")":
                v = self.next()
                if not v.startswith(("?", "$")):
                    raise ValueError(f"VALUES: expected ?var, got {v!r}")
                vars_.append(v[1:])
            self.next()
        else:
            v = self.next()
            if not v.startswith(("?", "$")):
                raise ValueError(f"VALUES: expected ?var, got {v!r}")
            vars_ = [v[1:]]
        if not vars_:
            raise ValueError("VALUES: empty variable list")
        self.expect("{")
        rows: list[list[str | None]] = []

        def _values_term() -> "str | None":
            if self._kw(self.peek(), "UNDEF"):
                self.next()
                return None
            return self.term()

        while self.peek() != "}":
            if self.peek() == "(":
                self.next()
                row = []
                while self.peek() != ")":
                    row.append(_values_term())
                self.next()
            else:
                row = [_values_term()]
            if len(row) != len(vars_):
                raise ValueError(
                    f"VALUES: row arity {len(row)} != variable count {len(vars_)}"
                )
            rows.append(row)
        self.next()
        if not rows:
            raise ValueError("VALUES: empty row set")
        return vars_, rows

    # --- FILTER expressions (precedence: || < && < ! < comparison) -------
    def _filter_or(self) -> FilterExpr:
        parts = [self._filter_and()]
        while self.peek() == "||":
            self.next()
            parts.append(self._filter_and())
        return parts[0] if len(parts) == 1 else Or(parts)

    def _filter_and(self) -> FilterExpr:
        parts = [self._filter_unary()]
        while self.peek() == "&&":
            self.next()
            parts.append(self._filter_unary())
        return parts[0] if len(parts) == 1 else And(parts)

    def _filter_unary(self) -> FilterExpr:
        if self.peek() == "!":
            self.next()
            return Not(self._filter_unary())
        return self._filter_primary()

    def _filter_primary(self) -> FilterExpr:
        t = self.peek()
        if t == "(":
            self.next()
            e = self._filter_or()
            self.expect(")")
            return e
        if t is not None and t.upper() == "REGEX":
            self.next()
            self.expect("(")
            var = self._filter_operand()
            if var[0] != "var":
                raise ValueError("regex(): first argument must be a variable")
            self.expect(",")
            pat = self._filter_operand()
            if pat[0] != "lit":
                raise ValueError("regex(): pattern must be a string literal")
            flags = ""
            if self.peek() == ",":
                self.next()
                fl = self._filter_operand()
                if fl[0] != "lit":
                    raise ValueError("regex(): flags must be a string literal")
                flags = fl[1]
            self.expect(")")
            return Regex(var[1], pat[1], flags)
        if t is not None and t.upper() == "BOUND":
            self.next()
            self.expect("(")
            var = self._filter_operand()
            if var[0] != "var":
                raise ValueError("bound(): argument must be a variable")
            self.expect(")")
            return Bound(var[1])
        if t is not None and t.upper() == "SAMETERM":
            # sameTerm(a, b): term IDENTITY — on the plain-string term
            # model, string equality of the lexical forms, lowered onto a
            # STRING = comparison (which keeps the encoded-id lowering).
            # Numeric literal arguments keep their WRITTEN lexical form:
            # sameTerm(?v, 3) matches the term "3" only, where `= 3`
            # would value-match "3.0" too. (Function operands — STRLEN
            # etc. — still compare by their computed value.)
            self.next()
            self.expect("(")
            lhs = self._sameterm_arg()
            self.expect(",")
            rhs = self._sameterm_arg()
            self.expect(")")
            return Comparison("=", lhs, rhs)
        if t is not None and t.upper() in (
            "ISIRI", "ISURI", "ISLITERAL", "ISBLANK", "ISNUMERIC",
        ):
            func = self.next().lower()
            if func == "isuri":
                func = "isiri"  # spec synonym
            self.expect("(")
            arg = self._filter_operand()
            self.expect(")")
            return TermTest(func, arg)
        if t is not None and t.upper() in ("STRSTARTS", "STRENDS", "CONTAINS"):
            func = self.next().lower()
            self.expect("(")
            arg = self._filter_operand()
            self.expect(",")
            probe = self._filter_operand()
            self.expect(")")
            return StrTest(func, arg, probe)
        # comparison operands reuse the BIND expression grammar, so
        # arithmetic (FILTER(?a * 2 + 1 > ?b)) and CONCAT/IF/COALESCE
        # compose on either side; a LEADING '(' still opens a boolean
        # group (the one place the two grammars collide), so parenthesize
        # arithmetic only after an operator: ?a + (?b * 2)
        lhs = self._bind_expr()
        nxt = self.peek()
        if nxt is not None and nxt.upper() in ("IN", "NOT"):
            if not isinstance(lhs, tuple):
                raise ValueError("FILTER: IN needs a plain term operand")
            negated = nxt.upper() == "NOT"
            self.next()
            if negated:
                if not self._kw(self.peek(), "IN"):
                    raise ValueError("FILTER: expected IN after NOT")
                self.next()
            self.expect("(")
            values = []
            while True:
                v = self._filter_operand()
                if v[0] not in ("lit", "num"):
                    raise ValueError("IN list members must be constants")
                values.append(v)
                if self.peek() != ",":
                    break
                self.next()
            self.expect(")")
            return InList(lhs, values, negated)
        op = nxt
        if op not in ("=", "!=", "<", "<=", ">", ">="):
            raise ValueError(
                f"FILTER: expected comparison operator after operand, got {op!r}"
            )
        self.next()
        rhs = self._bind_expr()
        return Comparison(op, lhs, rhs)

    _STRFN_ARITY = {
        "substr": (2, 3), "replace": (3, 3),
        "strbefore": (2, 2), "strafter": (2, 2),
    }

    _NUM_TOKEN_RE = re.compile(r"-?[0-9]+(?:\.[0-9]+)?")

    def _sameterm_arg(self) -> tuple:
        t = self.peek()
        if t is not None and self._NUM_TOKEN_RE.fullmatch(t):
            # keep the lexical form: sameTerm is identity, not value
            self.next()
            return ("lit", t)
        return self._filter_operand()

    def _filter_operand(self) -> tuple:
        t = self.next()
        if t.upper() in _UNARY_FN_NAMES and self.peek() == "(":
            # unary term-function operand, usable anywhere a var/constant
            # is; the argument is a full BIND-grammar expression, so
            # arithmetic composes inside (ABS(?x - 5))
            self.next()
            inner = self._bind_expr()
            self.expect(")")
            return ("func", t.lower(), inner)
        if t.lower() in self._STRFN_ARITY and self.peek() == "(":
            # multi-arg string functions, composable like the unary ones;
            # arguments are BIND-grammar expressions (SUBSTR(?v, ?i + 1))
            self.next()
            args = [self._bind_expr()]
            while self.peek() == ",":
                self.next()
                args.append(self._bind_expr())
            self.expect(")")
            lo, hi = self._STRFN_ARITY[t.lower()]
            if not lo <= len(args) <= hi:
                raise ValueError(
                    f"{t.upper()}(): takes {lo}"
                    + (f"-{hi}" if hi != lo else "")
                    + " arguments"
                )
            return ("strfn", t.lower(), tuple(args))
        if t.startswith(("?", "$")):
            return ("var", t[1:])
        if t.startswith('"'):
            body = re.match(r'"((?:[^"\\]|\\.)*)"', t).group(1)
            return ("lit", body.replace('\\"', '"').replace("\\\\", "\\"))
        if t.startswith("<") and t.endswith(">"):
            # <iri> operand: same term constant the pattern positions
            # accept — prefix-compacted so it compares against the
            # dictionary's stored form (terms are stored bracket-free)
            return ("lit", self._compact_iri(t[1:-1]))
        try:
            return ("num", float(t))
        except ValueError:
            raise ValueError(f"FILTER: cannot interpret operand {t!r}") from None

    def _group_block(self) -> list[Pattern]:
        """Parse one `{ triples }` UNION alternative."""
        self.expect("{")
        out: list[Pattern] = []
        self._triples_block(out, stop="}")
        self.expect("}")
        if not out:
            raise ValueError("UNION: empty group block")
        return out

    def _filtered_block(
        self, kind: str
    ) -> "tuple[list[Pattern], list[FilterExpr]]":
        """Parse ``{ triples... FILTER(e)... }`` for a block construct
        (OPTIONAL / MINUS / FILTER EXISTS): triples plus value-expression
        FILTERs scoped to the block. Other group constructs inside the
        block are out of scope and rejected with a named error. Consumes
        the opening and closing braces."""
        self.expect("{")
        group: list[Pattern] = []
        gfilters: list[FilterExpr] = []
        while True:
            bt = self.peek()
            if bt is None:
                raise ValueError("SPARQL parser: missing closing '}'")
            if bt == "}":
                break
            if bt == ".":
                self.next()
                continue
            if self._kw(bt, "FILTER"):
                if not self.allow_filter:
                    raise ValueError(
                        "FILTER is not supported at reference parity "
                        "(pass allow_filter=True to opt in)"
                    )
                self.next()
                if self._kw(self.peek(), "EXISTS") or self._kw(
                    self.peek(), "NOT"
                ):
                    raise ValueError(
                        f"FILTER [NOT] EXISTS inside a {kind} block is not "
                        "supported (write it at group level)"
                    )
                self.expect("(")
                gfilters.append(self._filter_or())
                self.expect(")")
                continue
            if bt == "{" or self._kw(bt, "OPTIONAL"):
                raise ValueError(
                    f"nested group constructs inside a {kind} block are "
                    "not supported (one flat triples-plus-FILTER block "
                    f"per {kind})"
                )
            self._triples_same_subject(group)
        self.expect("}")
        return group, gfilters

    def _triples_block(self, out: list[Pattern], stop: str) -> None:
        while self.peek() is not None and self.peek() != stop:
            if self.peek() == ".":
                self.next()
                continue
            self._triples_same_subject(out)

    def _pattern_term(self, out: list[Pattern]) -> str:
        """One subject/object term inside a triples block: a plain term, or
        a ``[]`` / ``[ p o ; ... ]`` blank node — a fresh anonymous variable
        whose property list (if any) lands in ``out``. RDF4J desugars query
        bnodes to anonymous variables before the reference's DAG building
        (StatementPattern vars), so this is parity surface."""
        if self.peek() != "[":
            return self.term()
        self.next()
        v = f"?__bn{self._bn}"
        self._bn += 1
        if self.peek() == "]":
            self.next()
            return v
        self._property_list(v, out, stop="]")
        self.expect("]")
        return v

    def _property_list(self, s: str, out: list[Pattern], stop: str) -> None:
        """``p o (, o)* (; p o ...)*`` with ``s`` as subject; objects (and
        nested brackets) recurse through :meth:`_pattern_term`."""
        while True:
            p = self._predicate()
            while True:
                o = self._pattern_term(out)
                out.append(Pattern(s, p, o))
                if self.peek() == ",":
                    self.next()
                    continue
                break
            if self.peek() == ";":
                self.next()
                if self.peek() in (".", "}", stop, None):  # dangling ';'
                    break
                continue
            break

    def _triples_same_subject(self, out: list[Pattern]) -> None:
        was = len(out)
        s = self._pattern_term(out)
        if len(out) > was and self.peek() in (".", "}", None):
            return  # '[ p o ] .' — the bracket alone is the triple
        self._property_list(s, out, stop="}")

    def _predicate(self) -> "str | Path":
        """Predicate position: a variable (opt-in), a plain term, or — with
        allow_paths — a property-path expression. Plain predicates stay
        strings, a bare one-or-more path keeps the legacy "<pred>+" string
        form (the engine's p+ fast path); composite paths become Path
        trees."""
        t = self.peek()
        if t is not None and t.startswith(("?", "$")):
            p = self.term(allow_a=True)
            if not self.allow_var_predicates:
                # parity by default: the reference rejects predicate
                # variables (DagCreator.java:170-171). Opt in via
                # parse_sparql(..., allow_var_predicates=True) to use the
                # engine's OSP-backed extension.
                raise ValueError(
                    "variable predicates are not supported "
                    "(pass allow_var_predicates=True to opt in)"
                )
            if self.peek() in ("+", "*", "?", "/", "|"):
                raise ValueError("property path on a variable predicate")
            return p
        if not self.allow_paths:
            if t in ("^", "(", "!"):
                raise ValueError(
                    "property paths are not supported at reference "
                    "parity (pass allow_paths=True to opt in)"
                )
            p = self.term(allow_a=True)
            if self.peek() in ("+", "*", "?", "/", "|"):
                # parity by default: the reference rejects property paths
                # with the rest of non-BGP SPARQL (DagCreator.java:269-271).
                # parse_sparql(..., allow_paths=True) opts in.
                raise ValueError(
                    "property paths are not supported at reference "
                    "parity (pass allow_paths=True to opt in)"
                )
            return p
        return _normalize_path(self._path_alt())

    # --- property-path grammar (opt-in): alt < seq < elt(^, mod) < primary
    def _path_alt(self) -> Path:
        parts = [self._path_seq()]
        while self.peek() == "|":
            self.next()
            parts.append(self._path_seq())
        return parts[0] if len(parts) == 1 else Path("alt", tuple(parts))

    def _path_seq(self) -> Path:
        parts = [self._path_elt()]
        while self.peek() == "/":
            self.next()
            parts.append(self._path_elt())
        return parts[0] if len(parts) == 1 else Path("seq", tuple(parts))

    def _path_elt(self) -> Path:
        inv = False
        if self.peek() == "^":
            self.next()
            inv = True
        prim = self._path_primary()
        mod = self.peek()
        if mod in ("+", "*", "?"):
            self.next()
            prim = Path({"+": "plus", "*": "star", "?": "opt"}[mod], (prim,))
        elif mod == "{":
            prim = self._path_quantifier(prim)
        return Path("inv", (prim,)) if inv else prim

    def _path_quantifier(self, prim: Path) -> Path:
        """``p{n}`` / ``p{n,}`` / ``p{n,m}`` bounded repetition (opt-in
        extension; drafts of SPARQL 1.1 carried these before the final
        spec dropped them). Lowered at parse time onto the existing path
        algebra — no new engine machinery:

          p{n}   -> p/p/.../p                (n copies)
          p{n,}  -> p/.../p/(p*)             (n copies then closure)
          p{n,m} -> p/.../p/(p?)/.../(p?)    (n copies + m-n optionals)

        seq-of-opt is exact because ``p?`` includes the zero-length
        identity over the graph's term domain."""
        self.expect("{")
        lo = self.next()
        if not lo.isdigit():
            raise ValueError(f"path quantifier: expected integer, got {lo!r}")
        n = int(lo)
        m: int | None = n
        if self.peek() == ",":
            self.next()
            if self.peek() == "}":
                m = None  # open upper bound
            else:
                hi = self.next()
                if not hi.isdigit():
                    raise ValueError(
                        f"path quantifier: expected integer, got {hi!r}"
                    )
                m = int(hi)
        self.expect("}")
        if m is not None and m < n:
            raise ValueError(f"path quantifier: max {m} < min {n}")
        if m == 0:
            raise ValueError("path quantifier: {0} matches nothing but "
                             "zero-length paths; use p? or p*")
        parts = [prim] * n
        if m is None:
            parts.append(Path("star", (prim,)))
        else:
            parts.extend([Path("opt", (prim,))] * (m - n))
        return parts[0] if len(parts) == 1 else Path("seq", tuple(parts))

    def _path_primary(self) -> Path:
        if self.peek() == "(":
            self.next()
            p = self._path_alt()
            self.expect(")")
            return p
        if self.peek() == "!":
            # negated property set !p / !(p1|p2): any single forward edge
            # whose predicate is NOT one of the listed IRIs
            self.next()
            preds = []
            if self.peek() == "(":
                self.next()
                preds.append(self._negset_member())
                while self.peek() == "|":
                    self.next()
                    preds.append(self._negset_member())
                self.expect(")")
            else:
                preds.append(self._negset_member())
            return Path("negset", tuple(preds))
        t = self.term(allow_a=True)
        if t.startswith("?"):
            raise ValueError("property path on a variable predicate")
        return Path("link", (t,))

    def _negset_member(self) -> str:
        if self.peek() == "^":
            raise ValueError(
                "inverse members in a negated property set are not supported"
            )
        t = self.term(allow_a=True)
        if t.startswith("?"):
            raise ValueError("property path on a variable predicate")
        return t

    @staticmethod
    def _validate(q: SparqlQuery) -> None:
        if (
            not q.patterns and not q.unions and not q.subqueries
            and not q.services
            # constant-only DESCRIBE legitimately has no WHERE clause
            and not (q.describe and not any(t.startswith("?") for t in q.describe))
        ):
            raise ValueError("SPARQL parser: empty basic graph pattern")
        opt_flat = [p for g in q.optional for p in g]
        union_flat = [p for grp in q.unions for alt in grp for p in alt]
        svc_flat = [p for _, _, sp in q.services for p in sp]
        bound = {
            v for p in q.patterns + opt_flat + union_flat + svc_flat
            for v in p.vars()
        }
        bound |= {v for vars_, _ in q.values for v in vars_}
        # subquery projections are visible to the enclosing group (the
        # subqueries themselves were validated when parsed)
        bound |= {v for sub in q.subqueries for v in query_projection(sub)}
        for expr, v in q.binds:
            unknown = [x for x in sorted(bind_vars(expr)) if x not in bound]
            if unknown:
                raise ValueError(f"BIND expression vars not bound: {unknown}")
            if v in bound:
                raise ValueError(f"BIND target ?{v} is already bound")
            bound.add(v)
        if q.construct is not None:
            if q.aggregates or q.order_by or q.limit is not None or q.offset is not None:
                raise ValueError(
                    "CONSTRUCT does not combine with aggregates or solution "
                    "modifiers (ORDER BY / LIMIT / OFFSET) in this subset"
                )
            unknown = sorted(
                {v for p in q.construct for v in p.vars()} - bound
            )
            if unknown:
                raise ValueError(
                    f"CONSTRUCT template vars not bound by the WHERE clause: {unknown}"
                )
        if q.describe is not None:
            if q.aggregates or q.order_by or q.limit is not None or q.offset is not None:
                raise ValueError(
                    "DESCRIBE does not combine with aggregates or solution "
                    "modifiers (ORDER BY / LIMIT / OFFSET) in this subset"
                )
            unknown = sorted(
                {t[1:] for t in q.describe if t.startswith("?")} - bound
            )
            if unknown:
                raise ValueError(
                    f"DESCRIBE vars not bound by the WHERE clause: {unknown}"
                )
        if q.select:
            unknown = [v for v in q.select if v not in bound]
            if unknown:
                raise ValueError(
                    f"SELECT vars not bound by any pattern: {unknown} (bound: {sorted(bound)})"
                )
        for f in q.filters:
            unknown = [v for v in sorted(filter_vars(f)) if v not in bound]
            if unknown:
                raise ValueError(
                    f"FILTER vars not bound by any pattern: {unknown} "
                    f"(bound: {sorted(bound)})"
                )
        for kind, groups, gfilters in (
            ("OPTIONAL", q.optional, q.optional_filters),
            ("MINUS", q.minus, q.minus_filters),
            ("FILTER EXISTS", [g for _, g in q.exists], q.exists_filters),
        ):
            for grp, gfs in zip(groups, gfilters):
                gvars = {v for p in grp for v in p.vars()}
                for f in gfs:
                    outside = [
                        v for v in sorted(filter_vars(f)) if v not in gvars
                    ]
                    if outside:
                        # pre-filter factoring needs the expression's vars
                        # bound inside the block; a cross-side expression
                        # is a genuine join condition, out of this subset
                        raise ValueError(
                            f"FILTER inside a {kind} block may only "
                            "reference variables bound in that block: "
                            f"{outside} (block binds: {sorted(gvars)})"
                        )
        if q.group_by and not q.aggregates:
            raise ValueError("GROUP BY requires at least one aggregate SELECT item")
        if q.having and not q.aggregates:
            raise ValueError("HAVING requires aggregate SELECT items")
        if q.aggregates:
            if q.ask:
                raise ValueError("aggregates are not valid in an ASK query")
            unknown = [v for v in q.group_by if v not in bound]
            if unknown:
                raise ValueError(f"GROUP BY vars not bound by any pattern: {unknown}")
            unknown = sorted(agg_value_vars(q.aggregates) - bound)
            if unknown:
                raise ValueError(f"aggregate vars not bound by any pattern: {unknown}")
            bad = [v for v in (q.select or []) if v not in q.group_by]
            if bad:
                raise ValueError(
                    f"non-aggregated SELECT vars must appear in GROUP BY: {bad}"
                )
            aliases = [a.alias for a in q.aggregates]
            if len(set(aliases)) != len(aliases):
                raise ValueError(f"duplicate aggregate aliases: {aliases}")
            clash = set(aliases) & bound
            if clash:
                raise ValueError(
                    f"aggregate aliases shadow pattern variables: {sorted(clash)}"
                )
            visible = set(aliases) | set(q.group_by)
            for h in q.having:
                unknown = [v for v in sorted(filter_vars(h)) if v not in visible]
                if unknown:
                    raise ValueError(
                        f"HAVING vars must be aggregate aliases or GROUP BY "
                        f"vars: {unknown}"
                    )


def parse_sparql(text: str, **flags: bool) -> SparqlQuery:
    """Parse a SPARQL query string (see module docstring for the accepted
    subset; everything the reference rejects, we reject by default).
    ``flags`` are the ``ALLOW_FLAGS`` opt-ins: ``allow_var_predicates``
    (the engine's OSP-backed variable predicates), ``allow_filter``
    (FILTER expressions compiled to native Column predicates, FILTER
    [NOT] EXISTS blocks included), ``allow_union`` (equal-varset UNION
    groups), ``allow_ask`` (the ASK form), ``allow_minus`` (MINUS
    anti-join blocks), ``allow_paths`` (property paths — ``p+`` plus the
    composite forms ``^p``, ``p1/p2``, ``p1|p2``, ``p*``, ``p?`` with
    ``( )`` grouping), ``allow_offset`` (the OFFSET modifier),
    ``allow_aggregates`` (aggregate SELECT items with GROUP BY and
    HAVING), ``allow_values`` (VALUES inline bindings),
    ``allow_construct`` (the CONSTRUCT form), ``allow_bind`` (BIND
    computed columns), ``allow_subquery`` (nested ``{ SELECT ... }``
    groups), ``allow_describe`` (the DESCRIBE form), ``allow_graph``
    (``GRAPH <iri>/?var { ... }`` blocks and FROM / FROM NAMED over a quad
    relation, :func:`execute_on_quads`) and ``allow_service`` (``SERVICE
    [SILENT] <name> { ... }`` blocks over caller-registered relations)."""
    for name in flags:
        if name not in ALLOW_FLAGS:
            raise TypeError(
                f"parse_sparql() got an unexpected keyword argument {name!r}"
            )
    return _Parser(_tokenize(text), **flags).parse()


def parse_engine_sparql(text: str, **flags: bool) -> SparqlQuery:
    """:func:`parse_sparql` with the opt-ins spelled as
    :meth:`~parj_spark.query.bgp.BGPEngine.sparql` takes them
    (``ENGINE_FLAGS``)."""
    for name in flags:
        if name not in ENGINE_FLAGS:
            raise TypeError(f"sparql() got an unexpected keyword argument {name!r}")
    return parse_sparql(text, **{ENGINE_FLAGS[k]: v for k, v in flags.items()})


def parse_update(text: str) -> list[UpdateOp]:
    """Parse a SPARQL 1.1 Update request string into a list of operations
    (opt-in extension; the reference stores are read-only — parj.c:599, 1129).

    Supported forms, ';'-separated and sharing one PREFIX prologue (a new
    prologue may also precede any operation, per the spec grammar):

      INSERT DATA { ground triples }
      DELETE DATA { ground triples }
      DELETE WHERE { pattern }                  (pattern doubles as template)
      DELETE { template } INSERT { template } WHERE { group }   (either or
                                                                 both heads)

    Graph-management operations (LOAD/CLEAR/CREATE/DROP/MOVE) and the
    ``WITH``/``USING`` graph selectors are out of scope — the engine models
    one graph (the reference's data model, SURVEY.md §1.1). Template
    validation (ground-ness for DATA, boundness of template variables, no
    property paths in templates) happens here; extension gating for the
    WHERE group (FILTER/UNION/...) happens when the rendered group is parsed
    at execution time under the caller's allow flags."""
    return _Parser(_tokenize(text)).parse_update_ops()


class TripleAccess(GraphAccess):
    """A string-typed (s, p, o) relation as the graph of the shared SPARQL
    lowering (:class:`~parj_spark.query.bgp.GraphAccess`): every term is
    its own join key, so constants resolve to themselves and decoding is a
    no-op — no dictionary, no stats, and no Spark job while a plan is
    built (property-path closures aside). Join order: most-constant-bound
    pattern first, then connected patterns — each scan is a filtered
    projection, so Catalyst pushes the constant filters into the scan and
    AQE picks the join strategy.

    ``quads`` is the named-graph relation (s, p, o, g) for GRAPH patterns,
    or None; ``services`` maps SERVICE names to registered (s, p, o)
    relations."""

    TERM_TYPE = "string"

    def __init__(self, triples, quads=None, services: "dict | None" = None):
        self.triples = triples
        self.quads = quads
        self.services = services or {}
        self.spark = triples.sparkSession
        self._closure_cache: dict = {}
        self._graphs: dict = {}  # named graph -> its TripleAccess (paths)

    def _named(self):
        if self.quads is None:
            raise ValueError(
                "GRAPH pattern needs a quad relation with a 'g' column "
                "(use execute_on_quads)"
            )
        return self.quads

    def _graph(self, g: "str | None") -> "TripleAccess":
        """The access a property path in graph context ``g`` walks: the
        default graph, or one constant named graph (variable-graph paths
        are rejected at parse time)."""
        if g is None:
            return self
        if g not in self._graphs:
            from pyspark.sql import functions as F

            self._graphs[g] = TripleAccess(
                self._named().filter(F.col("g") == g).drop("g")
            )
        return self._graphs[g]

    def _scan(self, pat: Pattern):
        # one (var term -> source column) slot per distinct var: a repeated
        # var adds an equality filter instead of a duplicate column
        from pyspark.sql import functions as F

        p = pat.p
        if isinstance(p, str) and not _is_var(p) and p.endswith("+"):
            p = Path("plus", (Path("link", (p[:-1],)),))
        if isinstance(p, Path):
            # property path: the scan is the path's pair relation (s, o
            # columns only; the predicate is consumed by the path)
            consts = [t for t in (pat.s, pat.o) if not _is_var(t)]
            df = self._graph(pat.g)._path_pairs(p, consts[0] if consts else None)
            terms = [(pat.s, "s"), (pat.o, "o")]
        else:
            terms = [(pat.s, "s"), (pat.p, "p"), (pat.o, "o")]
            if pat.g is None:
                df = self.triples
            else:
                # GRAPH ranges over the *named* graphs: a variable graph
                # must not bind the default graph's null label (a constant
                # graph excludes nulls via the equality filter anyway)
                df = self._named().filter(F.col("g").isNotNull())
                terms.append((pat.g, "g"))
        slots: dict[str, str] = {}
        for term, col in terms:
            if not _is_var(term):
                df = df.filter(F.col(col) == term)
            elif term in slots:
                df = df.filter(F.col(slots[term]) == F.col(col))
            else:
                slots[term] = col
        if not slots:  # fully bound: existence probe
            return df.limit(1).select(F.lit(1).alias("__exists"))
        return df.select(*[F.col(c).alias(v[1:]) for v, c in slots.items()])

    def _bgp(self, patterns: list[Pattern], terms):
        def n_consts(p: Pattern) -> int:
            return sum(not _is_var(t) for t in (p.s, p.o))

        remaining = sorted(patterns, key=lambda p: -n_consts(p))
        ordered = [remaining.pop(0)]
        bound = set(ordered[0].vars())
        while remaining:
            nxt = next((p for p in remaining if p.vars() & bound), remaining[0])
            remaining.remove(nxt)
            ordered.append(nxt)
            bound |= nxt.vars()
        out = None
        for pat in ordered:
            sc = self._scan(pat)
            if out is None:
                out = sc
            else:
                shared = sorted(set(out.columns) & set(sc.columns) - {"__exists"})
                out = out.join(sc, on=shared) if shared else out.crossJoin(sc)
        return out.drop("__exists") if "__exists" in out.columns else out

    def _block(self, group, terms):
        return self._bgp(group, terms)

    def _resolve(self, patterns, consts=()):
        return {t: t for t in consts}

    def _pred_id(self, term):
        return term

    def _check_var_spaces(self, patterns):
        pass  # one term space: a var may join predicate and entity slots

    def _edges_all(self):
        return self.triples

    def _decode_frame(self, df, pvars, only=None):
        return df

    def _encode(self, df, v, gated=True):
        return df

    def _with_term(self, df, v, pvars):
        from pyspark.sql import functions as F

        return df.withColumn(f"__lit_{v}", F.col(v))

    def _const_frame(self, term, col):
        return self.spark.createDataFrame([(term,)], f"{col} string")

    def _service(self, name, silent, patterns):
        rel = self.services.get(name)
        if rel is None:
            return super()._service(name, silent, patterns)
        return TripleAccess(rel.select("s", "p", "o"))._bgp(patterns, {})

    def _described(self, ids):
        # the input relation may repeat a triple; the result is a graph
        return (
            self.triples.join(ids, "s", "left_semi").select("s", "p", "o").distinct()
        )


def execute_on_triples(triples, text: str, services: "dict | None" = None, **flags):
    """Execute a SPARQL query directly over a (s, p, o) string-typed
    triples DataFrame — no dictionary encoding or stats required. ``flags``
    are :func:`parse_sparql`'s ``allow_*`` opt-ins.

    This is the parser's oracle-checkable execution path (used by the
    driver-contract kg_sparql_* queries): the query runs through the same
    lowering as :meth:`BGPEngine.sparql`, over a :class:`TripleAccess`.
    ``SELECT *`` columns come out sorted by name.

    ``allow_service=True`` + ``services={name: DataFrame}`` enables
    ``SERVICE [SILENT] <name> { ... }`` blocks — a *federation seam*, not a
    network call: each name resolves to a caller-registered (s, p, o)
    relation, the block's BGP evaluates against it, and the cross-dataset
    join is a plain Spark join (at 100 TB that means Catalyst/AQE pick the
    strategy, exactly like any other join — no endpoint round-trips). An
    unregistered name errors; with SILENT the block contributes nothing,
    the spec's empty-solution failure semantics.

    With ``allow_graph=True`` the input may be a *quad* relation carrying a
    fourth string column ``g`` (null = default graph; see
    :func:`execute_on_quads`): non-GRAPH patterns, property paths and the
    zero-length node domain then match only the default graph, while
    ``GRAPH <iri> { ... }`` filters on ``g`` (a pushed-down scan predicate —
    partition-prunable when the quads are written partitioned by graph) and
    ``GRAPH ?g { ... }`` binds ``?g`` as one more join column.
    """
    from pyspark.sql import functions as F

    q = parse_sparql(text, **flags)

    # the quad interpretation (g column = graph label, default graph = null)
    # only applies under the opt-in: without allow_graph a stray 'g' column
    # is just data and patterns match every row, exactly as before the
    # extension existed
    quads = triples if (flags.get("allow_graph") and "g" in triples.columns) else None
    if quads is not None:
        if q.from_graphs or q.from_named:
            # explicit dataset: default graph = set-merge of the FROM
            # graphs (a graph is a set of triples, so cross-graph
            # duplicates collapse), named-graph set = FROM NAMED exactly;
            # an absent side is EMPTY (limit(0) keeps the schema), so a
            # GRAPH pattern under FROM-only matches nothing, per spec
            base = quads
            if q.from_graphs:
                triples = base.filter(F.col("g").isin(q.from_graphs)).drop("g")
                if len(q.from_graphs) > 1:
                    triples = triples.distinct()
            else:
                triples = base.limit(0).drop("g")
            quads = (
                base.filter(F.col("g").isin(q.from_named))
                if q.from_named
                else base.limit(0)
            )
        else:
            # the default graph is the set of statements with no graph
            # label; everything that isn't GRAPH-scoped (plain patterns,
            # path relations, the zero-length node domain) matches it alone
            triples = quads.filter(F.col("g").isNull()).drop("g")
    elif q.from_graphs or q.from_named:
        raise ValueError(
            "FROM / FROM NAMED need a quad relation with a 'g' column "
            "(use execute_on_quads)"
        )

    df = TripleAccess(triples, quads, services)._sparql_query(q, decode=True)
    if q.select is None and not (
        q.aggregates or q.ask or q.construct is not None or q.describe is not None
    ):
        df = df.select(*sorted(df.columns))
    return df


def execute_on_quads(quads, text: str, **allow_flags):
    """Execute a SPARQL SELECT with ``GRAPH`` blocks over a string-typed
    *quad* relation ``(s, p, o, g)`` — ``g`` null for default-graph
    statements, exactly the shape :func:`parj_spark.construct.rdf_io.
    read_nquads` produces (modulo the ``_uri`` column suffixes).

    Opt-in extension (the reference models a single graph and rejects
    GRAPH outright, DagCreator.java:170-171, 269-271). Thin wrapper over
    :func:`execute_on_triples` with ``allow_graph=True``; all other
    ``allow_*`` extension flags pass through. Constant graphs become
    pushed-down scan predicates on ``g`` (partition-prunable when the
    quads are laid out partitioned by graph); variable graphs bind one
    more join column.
    """
    if "g" not in quads.columns:
        raise ValueError("execute_on_quads expects a 'g' column (null = "
                         "default graph); use execute_on_triples for triples")
    allow_flags.setdefault("allow_graph", True)  # redundant-but-legal
    return execute_on_triples(quads, text, **allow_flags)
