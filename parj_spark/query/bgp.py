"""Basic-graph-pattern query engine over the materialized permutation tables.

Spark-first re-expression of PARJ's live query surface (SURVEY.md §2.3 J1):
a BGP is a multi-way equi self-join of the triples relation on shared
variables. Where the reference hand-builds a left-deep CROSS JOIN chain with
DP-chosen order and forces SQLite's NLJ over sorted permutation arrays
(DPSubLinear.java:40-113, SQLQuery.java:1076-1178), we:

- scan the predicate partition of the right sort order per pattern
  (SPO when subject-bound/unbound, POS when object-bound — the reference's
  access-path choice, DagCreator.java:94-122, becomes "which table to read");
- order the joins by a left-deep DP over the T3 pair cardinalities (the
  reference's DPSubLinear, SURVEY.md §4.1) for BGPs of up to
  ``BGPEngine.MAX_DP_PATTERNS`` patterns, else greedily most-selective-
  first over connected patterns;
- broadcast small pattern scans and the dictionary decode (J4:
  QueryTester.java:189-223's decode join, placed after all joins).

One planning step (``BGPEngine._plan_joins``) makes every join decision —
access path, join keys, strategy; the join composer applies it and
``BGPEngine.explain`` prints it.

Predicate variables — which the reference rejects outright
(DagCreator.java:170-171) — are supported here as an extension. On the
bucketed layout a var-p pattern reads SPO_b / POS_b with no partition
filter (the bucket spec is table-wide, so its joins stay bucket-aligned);
without the layout it reads the OSP table when its object is bound
(global o-sort gives parquet range pruning) and the SPO table otherwise.
Predicate ids live in their own dense space (the properties catalog, not
the term dictionary), so a variable may not appear in both predicate and
subject/object position.

SPARQL is lowered once, like the reference's one DagCreator → SQL path:
:class:`GraphAccess` holds the only algebra lowering (UNION, OPTIONAL,
MINUS, EXISTS, VALUES, BIND, subqueries, SERVICE, FILTER, aggregates, the
query forms, solution modifiers) and the only property-path evaluator,
and reaches its graph through a handful of primitives — join a pattern
list, resolve constants, decode or encode named columns, the edge relation
paths walk. :class:`BGPEngine` implements them over the encoded
permutation tables; ``sparql.TripleAccess`` over a string triple relation
(:func:`~parj_spark.query.sparql.execute_on_triples`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parj_spark.construct.pipeline import GraphStore

# Explicit-broadcast-hint gate for pattern scans. Deliberately conservative:
# a hint OVERRIDES Catalyst/AQE's own cost choice, so it should only assert
# what the planner can't know (a constant-bound scan the stats say is tiny).
# Round-3 ran this at 2M rows, force-broadcasting ~30-60 MB hash relations
# of full-predicate scans on every action — measured at 8.35M triples that
# was slower on EVERY query shape than hinting at 500k and letting AQE pick
# strategies for the mid-size joins from observed sizes (q1 0.56s -> 0.29s,
# chain 0.55 -> 0.44, lubm7 max/min spread 18x -> 1.1x; BENCH/ADDENDUM r4).
# At 500k rows (~8 MB) a hinted broadcast is also cluster-sane — under the
# classic 10 MB default threshold, no 8 GB-limit risk at 100 TB.
BROADCAST_ROWS = 500_000


def _is_var(term) -> bool:
    # predicate position may hold a Path expression object, never a variable
    return isinstance(term, str) and term.startswith("?")


@dataclass(frozen=True)
class Path:
    """Property-path expression tree (opt-in extension beyond reference
    parity — the BGP-only reference rejects paths with the rest of non-BGP
    SPARQL, DagCreator.java:269-271).

    op / parts:
      "link"  (predicate,)          one edge step
      "inv"   (child,)              ^p  — reversed direction
      "seq"   (child, child, ...)   p1/p2 — composition, left to right
      "alt"   (child, child, ...)   p1|p2 — union of step relations (bag)
      "plus"  (child,)              p+ — one-or-more (distinct closure)
      "star"  (child,)              p* — zero-or-more (closure + zero-length)
      "opt"   (child,)              p? — zero-or-one

    Plain predicates stay ``str`` in ``Pattern.p``, and a bare one-or-more
    path keeps its legacy ``"<pred>+"`` string form (the engine's p+ fast
    path); only composite paths become Path objects. Zero-length semantics
    (star/opt): a (t, t) pair for every term occurring as a subject or
    object in the graph — the SPARQL ZeroLengthPath node domain.
    """

    op: str
    parts: tuple


def path_link_preds(p) -> set[str]:
    """Base link predicate names referenced by a predicate-position term
    (str predicate, "pred+" string path, or Path tree)."""
    if isinstance(p, str):
        if _is_var(p):
            return set()
        return {p[:-1]} if p.endswith("+") else {p}
    if p.op == "link":
        return {p.parts[0]}
    return {q for c in p.parts for q in path_link_preds(c)}


@dataclass(frozen=True)
class Pattern:
    s: str
    p: "str | Path"  # predicate name, "?var", "<pred>+", or a Path tree
    o: str
    # GRAPH context (opt-in SPARQL extension; always None at parity and on
    # the encoded-engine path): "?var", a graph IRI, or None = default graph.
    # Carried per pattern so one WHERE clause can mix GRAPH blocks and
    # default-graph patterns and still join as a single BGP.
    g: "str | None" = None

    def vars(self) -> set[str]:
        """Join variables (subject/object/predicate positions all count —
        two patterns sharing a predicate var join on it; a variable GRAPH
        context joins like any other position)."""
        out = {t[1:] for t in (self.s, self.p, self.o) if _is_var(t)}
        if self.g is not None and _is_var(self.g):
            out.add(self.g[1:])
        return out

    def entity_vars(self) -> set[str]:
        return {t[1:] for t in (self.s, self.o) if _is_var(t)}

    def pred_var(self) -> str | None:
        return self.p[1:] if _is_var(self.p) else None


def parse_bgp(text: str) -> list[Pattern]:
    """Parse whitespace-separated triple patterns, one per line, optional
    trailing '.'; terms are '?var' or constant URIs/literals (quote literals
    containing spaces with double quotes)."""
    import shlex

    pats = []
    for line in text.strip().splitlines():
        for chunk in line.split(" . "):  # allow several patterns per line
            chunk = chunk.strip().rstrip(".").strip()
            if not chunk:
                continue
            parts = shlex.split(chunk)
            if len(parts) != 3:
                raise ValueError(f"bad pattern line: {chunk!r}")
            pats.append(Pattern(*parts))
    return pats


def _scan_columns(pat: Pattern) -> dict[str, str]:
    """{var: table column} of ``pat``'s scan, in s, p, o order — the
    columns the scan outputs (``?x p ?x`` gives one). Empty for a
    fully-bound pattern, whose scan is the existence probe ``__exists``."""
    cols: dict[str, str] = {}
    for col, t in (("s", pat.s), ("p", pat.p), ("o", pat.o)):
        if _is_var(t):
            cols.setdefault(t[1:], col)
    return cols


@dataclass(frozen=True)
class Access:
    """Which relation ``BGPEngine._scan`` reads for one pattern.

    ``kind``: "table" (the predicate's partition of permutation ``table``),
    "var_table" (a variable predicate: all of ``table``), "path" (a
    property-path relation) or "absent" (a constant or predicate missing
    from the catalogs: the pattern matches nothing). ``bucket_var``: the
    variable bound to the bucket column of the table read, or None (no
    bucket layout behind the scan, or the bucket column is constant)."""

    kind: str
    table: str | None = None
    bucket_var: str | None = None


@dataclass(frozen=True)
class JoinStep:
    """One step of a left-deep join plan (``BGPEngine._plan_joins``).

    ``hint``: the table the join prefers ("spo" when the subject var joins,
    "pos" when the object var does). ``keys``: the columns shared with the
    running result (empty: a cross join). ``strategy``: "seed" (the first
    scan), "aligned" (bucketed sort-merge join, no exchange), "broadcast"
    (hint on the scan), "broadcast_seed" (hint on the seed side),
    "shuffle" (no hint), or "cross" (no keys, no hint)."""

    pattern: Pattern
    hint: str | None
    access: Access
    est: float
    keys: tuple[str, ...]
    strategy: str


class GraphAccess:
    """The one SPARQL lowering, over whatever graph a subclass gives it.

    :meth:`_sparql_query` lowers a parsed ``SparqlQuery`` (core BGP, UNION,
    SERVICE, subqueries, VALUES, OPTIONAL, MINUS, [NOT] EXISTS, FILTER,
    BIND, the ASK/CONSTRUCT/DESCRIBE forms, aggregates and the solution
    modifiers) and :meth:`_path_rel` evaluates property paths. Both reach
    the graph only through these primitives, which a subclass supplies:

    - ``_bgp(patterns)``: the joined solutions of a pattern list;
      ``_block(group, terms)`` an OPTIONAL block's, or None when it can
      match nothing; ``_check_var_spaces(patterns)`` rejects what the
      graph cannot join.
    - ``_resolve(patterns)``: the constants of an OPTIONAL block, ready
      for ``_block``; ``_term_ids(terms)`` / ``_pred_id(term)``: constant
      terms (predicates) as the graph's join keys.
    - ``_decode_frame(df, pvars, only)``: named columns as term strings;
      ``_encode(df, v, gated)``: a term-string column as a join key;
      ``_with_term(df, v, pvars)``: ``v``'s term string as ``__lit_<v>``.
    - ``_const_frame(term, col)`` and ``_described(ids)``: DESCRIBE's
      resource constants and the outgoing edges of a resource set.
    - ``_edges_all()``: the (s, p, o) relation property paths walk, with
      terms of type ``TERM_TYPE``.
    - ``_service(name, silent, patterns)``: a SERVICE block's solutions, or
      None for a SILENT block that cannot be answered.

    :class:`BGPEngine` implements them over the encoded permutation tables
    (dictionary ids, stats-driven join order);
    :class:`~parj_spark.query.sparql.TripleAccess` over a string triple
    relation, where every term is its own id and decoding is a no-op.
    """

    MAX_PATH_DEPTH = 64
    TERM_TYPE = "long"

    def _project(self, df: DataFrame, select: list[str], decode: bool) -> DataFrame:
        """``df`` projected to ``select``; a var that no solution binds
        projects as an unbound (all-null) column, as SPARQL defines it."""
        nul = F.lit(None).cast("string" if decode else self.TERM_TYPE)
        return df.select(*[c if c in df.columns else nul.alias(c) for c in select])

    def _service(self, name: str, silent: bool, patterns: list[Pattern]):
        """The solutions of ``SERVICE [SILENT] <name> { patterns }``. This
        graph registers no services: a SILENT block returns None (the
        lowering binds it as the empty solution), any other raises."""
        if not silent:
            raise ValueError(
                f"SERVICE {name!r} is not registered "
                "(pass services={name: DataFrame})"
            )
        return None

    def _closure_edges(self, edges: DataFrame) -> DataFrame:
        """Distinct transitive closure of an (s, o) edge relation — the
        SPARQL ``p+`` path, which the reference (BGP-only) cannot express.
        Semi-naive iteration: each round extends only the previous round's
        frontier by one edge and anti-joins away the already-known pairs,
        so work is O(new pairs) per round, not O(closure) — the standard
        Datalog delta evaluation, distributed. Lineage is cut with
        localCheckpoint every round (self-referencing iterative joins grow
        the logical plan multiplicatively — same discipline as
        canonicalize.connected_components). The iteration runs actions at
        plan-build time, so :meth:`_path_rel` caches its result."""
        edges = edges.distinct().localCheckpoint()
        paths = edges
        frontier = edges
        for _ in range(self.MAX_PATH_DEPTH):
            ext = (
                frontier.withColumnRenamed("o", "m")
                .join(edges.withColumnRenamed("s", "m"), "m")
                .select("s", "o")
            )
            frontier = (
                ext.join(paths, ["s", "o"], "left_anti").distinct().localCheckpoint()
            )
            if frontier.isEmpty():
                return paths
            paths = paths.union(frontier).localCheckpoint()
        raise RuntimeError(
            f"property-path closure exceeded {self.MAX_PATH_DEPTH} hops"
        )

    def _nodes_rel(self) -> DataFrame:
        """Zero-length path domain: every term occurring as subject or
        object (SPARQL ZeroLengthPath over the graph's term set). One
        distinct over the edge relation, cached for the access's lifetime —
        at scale this is the graph's node set, which star/opt paths with
        unbound endpoints inherently require."""
        cached = self._closure_cache.get("__nodes__")
        if cached is None:
            t = self._edges_all()
            cached = (
                t.select(F.col("s").alias("n"))
                .union(t.select(F.col("o").alias("n")))
                .distinct()
                .localCheckpoint()
            )
            self._closure_cache["__nodes__"] = cached
        return cached

    def _path_rel(self, path: Path) -> DataFrame:
        """Evaluate a property path to its (s, o) pair relation,
        recursively: link = the predicate's edge set, inv = swapped
        columns, seq = joins o->s left to right, alt = bag union,
        plus/star = distinct closure (star/opt add the zero-length
        identity over the node domain). Relations are cached per path
        shape for the access's lifetime."""
        cached = self._closure_cache.get(path)
        if cached is not None:
            return cached
        if path.op == "link":
            pid = self._pred_id(path.parts[0])
            df = (
                self._edges_all()
                .filter(F.col("p") == pid if pid is not None else F.lit(False))
                .select("s", "o")
            )
        elif path.op == "inv":
            df = self._path_rel(path.parts[0]).select(
                F.col("o").alias("s"), F.col("s").alias("o")
            )
        elif path.op == "seq":
            df = self._path_rel(path.parts[0])
            for nxt in path.parts[1:]:
                df = (
                    df.withColumnRenamed("o", "m")
                    .join(self._path_rel(nxt).withColumnRenamed("s", "m"), "m")
                    .select("s", "o")
                )
        elif path.op == "alt":
            df = self._path_rel(path.parts[0])
            for nxt in path.parts[1:]:
                df = df.unionByName(self._path_rel(nxt))
        elif path.op == "negset":
            # any single edge whose predicate is NOT in the listed set:
            # scans every predicate partition except the excluded ones
            # (partition pruning still drops the listed partitions)
            pids = [i for i in map(self._pred_id, path.parts) if i is not None]
            df = (
                self._edges_all()
                .filter(~F.col("p").isin(pids) if pids else F.lit(True))
                .select("s", "o")
            )
        elif path.op == "plus":
            df = self._closure_edges(self._path_rel(path.parts[0]))
        elif path.op in ("star", "opt"):
            zero = self._nodes_rel().select(
                F.col("n").alias("s"), F.col("n").alias("o")
            )
            step = self._path_rel(path.parts[0])
            if path.op == "star":
                step = self._closure_edges(step)
            df = step.unionByName(zero).distinct()
        else:  # pragma: no cover - parser never emits other ops
            raise ValueError(f"unknown path op {path.op!r}")
        self._closure_cache[path] = df
        return df

    def _path_pairs(self, path: Path, anchor=None) -> DataFrame:
        """The (s, o) relation a path pattern scans. ``anchor`` is the
        pattern's constant endpoint (as a join key), if any: an anchored
        zero-length form contributes just (c, c) — gated on c occurring in
        the graph by a lazy limit(1) probe — so the whole-graph node-domain
        distinct is never built for it."""
        if path.op not in ("star", "opt") or anchor is None:
            return self._path_rel(path)
        # reuse the cached plus-closure for star (one fixpoint per access
        # lifetime, like every other path relation)
        step = self._path_rel(
            Path("plus", (path.parts[0],)) if path.op == "star" else path.parts[0]
        )
        c = F.lit(anchor).cast(self.TERM_TYPE)
        zero = (
            self._edges_all()
            .filter((F.col("s") == anchor) | (F.col("o") == anchor))
            .limit(1)
            .select(c.alias("s"), c.alias("o"))
        )
        return step.unionByName(zero).distinct()

    def _apply_optional_groups(
        self,
        result: DataFrame,
        opt_groups: list[list[Pattern]],
        terms: dict,
        literal: "frozenset[str] | set[str]" = frozenset(),
        pvars: "frozenset[str] | set[str]" = frozenset(),
        opt_filters: list | None = None,
    ) -> DataFrame:
        """Left-join each OPTIONAL block onto the accumulated solution set:
        the block's patterns join each other first, then the assembled block
        left-joins ``result``, so it matches as a whole or leaves all its
        vars unbound (SPARQL group semantics).

        Placement contract: in the SPARQL path this runs AFTER every
        binding join (core BGP ⋈ UNION ⋈ SERVICE ⋈ subquery ⋈ VALUES) —
        the group-element normal form documented on SparqlQuery — so no
        equi-join downstream ever sees a possibly-unbound (null) key. The
        differential fuzzer found the old order (OPTIONAL inside the core
        query(), UNION joined after) null-dropping solutions whose
        OPTIONAL var a UNION group shares: SPARQL's compatibility join
        treats unbound as joining-with-anything, which a plain equi-join
        on a null key silently violates.

        ``literal`` names result columns already holding decoded term
        strings (constant-FILTER rebinds, subquery ride-alongs): a block
        var shared with one decodes ON THE BLOCK SIDE before the join —
        the same probe-side decode the MINUS/EXISTS paths apply — so the
        join compares strings to strings instead of casting a term string
        to a long key (which threw at runtime before r5).
        ``opt_filters`` holds each block's scoped FILTER expressions
        (SPARQL LeftJoin(G, P, E), E over P's vars), applied to the
        block's ENCODED frame before the left join via
        _filter_group_frame."""
        for gi, group in enumerate(opt_groups):
            gdf = self._block(group, terms)
            # None = a group pattern with an unknown constant matches nothing
            dead = gdf is None
            group_vars = sorted({v for p in group for v in p.vars()})
            if dead:
                for v in group_vars:
                    if v not in result.columns:
                        result = result.withColumn(v, F.lit(None).cast("long"))
                continue
            if "__exists" in gdf.columns:
                gdf = gdf.drop("__exists")
            if opt_filters and gi < len(opt_filters) and opt_filters[gi]:
                gdf = self._filter_group_frame(
                    gdf, opt_filters[gi], group, pvars
                )
            if not gdf.columns:
                continue  # fully-bound block binds nothing
            shared = sorted(set(result.columns) & set(gdf.columns))
            lit_shared = [v for v in shared if v in literal]
            if lit_shared:
                gpv = {v for p in group for v in [p.pred_var()] if v}
                cols = list(gdf.columns)
                gdf = self._decode_frame(
                    gdf, set(pvars) | gpv, only=lit_shared
                ).select(*cols)
            # no shared vars: constant-true left join preserves core rows
            # even when the optional side is empty (crossJoin annihilates)
            result = (
                result.join(gdf, on=shared, how="left")
                if shared
                else result.join(gdf, F.lit(True), "left")
            )
        return result

    def _filter_group_frame(
        self,
        gdf: DataFrame,
        gfs: list,
        group: list[Pattern],
        pvars: "frozenset[str] | set[str]",
    ) -> DataFrame:
        """Apply block-scoped FILTERs to an OPTIONAL / MINUS / EXISTS
        group's ENCODED frame.

        Same two-tier lowering as the top-level FILTER path: id-lowerable
        forms (=/!=/IN/BOUND over vars and constant terms) prune on join
        keys after a pruned driver-side constant lookup; the rest decode
        ONLY the referenced vars into throwaway ``__lit_*`` columns so the
        block's join keys stay encoded for the join that follows."""
        from parj_spark.query.sparql import filter_to_column, filter_vars

        gpv = {v for p in group for v in [p.pred_var()] if v} | set(pvars)
        cols = set(gdf.columns)
        lowerable, rest, ent_consts = [], [], set()
        for fexpr in gfs:
            plan = self._filter_id_plan(fexpr, cols, set(), gpv)
            if plan is None:
                rest.append(fexpr)
            else:
                lowerable.append(fexpr)
                ent_consts |= plan[0]
        if lowerable:
            ent_ids = self._term_ids(ent_consts)
            for fexpr in lowerable:
                gdf = gdf.filter(self._filter_id_column(fexpr, ent_ids, gpv))
        if rest:
            refs = sorted({v for fexpr in rest for v in filter_vars(fexpr)} & cols)
            for v in refs:
                gdf = self._with_term(gdf, v, gpv)
            for fexpr in rest:
                gdf = gdf.filter(
                    filter_to_column(fexpr, lambda n: F.col(f"__lit_{n}"))
                )
            gdf = gdf.drop(*[f"__lit_{v}" for v in refs])
        return gdf

    # --- FILTER lowering onto encoded ids ------------------------------
    def _filter_id_plan(self, e, cols: set[str], literal: set[str], pvars: set[str]):
        """If FILTER expression ``e`` can evaluate on ENCODED ids, return
        (entity_consts, pred_consts) — the constant terms it needs resolved
        — else None. Lowerable: =/!= between vars and/or literal terms,
        [NOT] IN over literal terms, BOUND, and NOT/&&/|| compositions of
        those: for these shapes term comparison IS dictionary-id comparison
        (the dictionary is a bijection), so the filter prunes on longs
        BEFORE any decode join (the reference's decode-outputs-last rule,
        QueryTester.java:189-223, extended to FILTER). Numeric comparisons,
        regex and string functions need the decoded term — not lowerable.
        Mixed predicate/entity-var comparisons are refused (the two id
        spaces are separate catalogs)."""
        from parj_spark.query import sparql as S

        if isinstance(e, S.Comparison):
            if e.op not in ("=", "!="):
                return None
            if not (isinstance(e.lhs, tuple) and isinstance(e.rhs, tuple)):
                # BIND-grammar operand (arithmetic/CONCAT/IF/COALESCE):
                # needs the decoded term value, not lowerable onto ids
                return None
            vs = [t for t in (e.lhs, e.rhs) if t[0] == "var"]
            if not vs:
                return None
            for t in vs:
                if t[1] in literal or t[1] not in cols:
                    return None
            kinds = {t[1] in pvars for t in vs}
            if len(kinds) > 1:
                return None
            is_pred = kinds.pop()
            ent, pred = set(), set()
            for t in (e.lhs, e.rhs):
                if t[0] == "lit":
                    (pred if is_pred else ent).add(t[1])
                elif t[0] != "var":
                    return None
            return ent, pred
        if isinstance(e, S.Bound):
            if e.var in cols and e.var not in literal:
                return set(), set()
            return None
        if isinstance(e, S.InList):
            if e.arg[0] != "var" or e.arg[1] in literal or e.arg[1] not in cols:
                return None
            if any(v[0] != "lit" for v in e.values):
                return None
            vals = {v[1] for v in e.values}
            if e.arg[1] in pvars:
                return set(), vals
            return vals, set()
        if isinstance(e, S.Not):
            return self._filter_id_plan(e.expr, cols, literal, pvars)
        if isinstance(e, (S.And, S.Or)):
            ent, pred = set(), set()
            for p in e.parts:
                c = self._filter_id_plan(p, cols, literal, pvars)
                if c is None:
                    return None
                ent |= c[0]
                pred |= c[1]
            return ent, pred
        return None

    def _filter_id_column(self, e, ent_ids: dict, pvars: set[str]):
        """Compile an id-lowerable FILTER expression (see _filter_id_plan)
        to a Column over the ENCODED solution columns. ``ent_ids`` maps
        resolved entity terms to ids; terms absent from the dictionary can
        match nothing, compiled null-exactly (when(bound, const)) so
        OPTIONAL-null rows still drop under NOT per SPARQL's
        evaluation-error-is-false rule."""
        from parj_spark.query import sparql as S

        def const_when_bound(var_col, value: bool):
            return F.when(var_col.isNotNull(), F.lit(value))

        if isinstance(e, S.Comparison):
            vs = [t for t in (e.lhs, e.rhs) if t[0] == "var"]
            is_pred = vs[0][1] in pvars

            def resolve(t):
                if t[0] == "var":
                    return F.col(t[1])
                tid = self._pred_id(t[1]) if is_pred else ent_ids.get(t[1])
                return None if tid is None else F.lit(tid)

            l, r = resolve(e.lhs), resolve(e.rhs)
            if l is None or r is None:
                # absent term: '=' can never hold, '!=' holds for every
                # BOUND value (null rows still error out to null)
                return const_when_bound(F.col(vs[0][1]), e.op == "!=")
            return (l == r) if e.op == "=" else (l != r)
        if isinstance(e, S.Bound):
            return F.col(e.var).isNotNull()
        if isinstance(e, S.InList):
            is_pred = e.arg[1] in pvars
            ids = [
                (self._pred_id(v[1]) if is_pred else ent_ids.get(v[1]))
                for v in e.values
            ]
            ids = [i for i in ids if i is not None]
            c = F.col(e.arg[1])
            if not ids:
                return const_when_bound(c, e.negated)
            m = c.isin(ids)
            return ~m if e.negated else m
        if isinstance(e, S.Not):
            return ~self._filter_id_column(e.expr, ent_ids, pvars)
        parts = [self._filter_id_column(p, ent_ids, pvars) for p in e.parts]
        out = parts[0]
        for p in parts[1:]:
            out = (out & p) if isinstance(e, S.And) else (out | p)
        return out

    def _propagate_const_filters(self, q):
        """Sideways information passing for constant equality: a top-level
        ``FILTER(?v = "term")`` (or single-member ``IN``) conjunct whose var
        appears ONLY in the core BGP's s/o slots binds ?v BEFORE planning —
        the pattern slot becomes a constant term, so the planner sees the
        true point-lookup selectivity (orientation choice, bucket/row-group
        pruning, join order seeded from the selective pattern) instead of
        discovering the constant only as a Catalyst pushdown after the join
        tree is fixed. The reference gets this for free because constants
        can only arrive inside the query string (DagCreator.java builds
        access paths from the triple's bound slots); the rewrite puts
        FILTER constants on equal footing. ?v re-surfaces as a constant
        literal column after the core compose, so projection/ORDER
        BY/other filters see it unchanged. A term absent from the
        dictionary yields the empty result through the ordinary
        constant-resolution path — identical to '=' error semantics.

        Vars referenced anywhere else (OPTIONAL/UNION/MINUS/EXISTS/VALUES/
        BIND/CONSTRUCT/DESCRIBE/GRAPH slots/subquery projections/predicate
        position) are left to the post-compose id-lowered filter — the
        rewrite must not change group semantics, only access paths.
        Returns (q', [(var, term), ...]); ``q`` itself is not mutated."""
        import dataclasses

        from parj_spark.query import sparql as S

        if not q.filters or not q.patterns:
            return q, []

        blocked: set[str] = set()

        def block_pats(pats):
            for p in pats:
                for t in (p.s, p.o):
                    if _is_var(t):
                        blocked.add(t[1:])
                pv = p.pred_var()
                if pv:
                    blocked.add(pv)
                if p.g is not None and _is_var(p.g):
                    blocked.add(p.g[1:])

        for grp in q.optional:
            block_pats(grp)
        for grp in q.unions:
            for alt in grp:
                block_pats(alt)
        for grp in q.minus:
            block_pats(grp)
        for _, grp in q.exists:
            block_pats(grp)
        for _, _, grp in q.services:
            block_pats(grp)
        for vars_, _ in q.values:
            blocked.update(vars_)
        for expr, alias in q.binds:
            blocked.add(alias)
            blocked.update(S.bind_vars(expr))
        if q.construct is not None:
            block_pats(q.construct)
        if q.describe is not None:
            blocked.update(t[1:] for t in q.describe if t.startswith("?"))
        for sub in q.subqueries:
            if sub.select is None:
                return q, []  # SELECT * projection: can't bound its vars
            blocked.update(sub.select)
            blocked.update(a.alias for a in sub.aggregates)
        for p in q.patterns:  # predicate/GRAPH position in the core itself
            pv = p.pred_var()
            if pv:
                blocked.add(pv)
            if p.g is not None and _is_var(p.g):
                blocked.add(p.g[1:])
        core_vars = {
            t[1:] for p in q.patterns for t in (p.s, p.o) if _is_var(t)
        }

        def eq_const(f):
            if (
                isinstance(f, S.Comparison)
                and f.op == "="
                and isinstance(f.lhs, tuple)
                and isinstance(f.rhs, tuple)
            ):
                vs = [t for t in (f.lhs, f.rhs) if t[0] == "var"]
                ls = [t for t in (f.lhs, f.rhs) if t[0] == "lit"]
                if len(vs) == 1 and len(ls) == 1:
                    return vs[0][1], ls[0][1]
            if (
                isinstance(f, S.InList)
                and not f.negated
                and f.arg[0] == "var"
                and len(f.values) == 1
                and f.values[0][0] == "lit"
            ):
                return f.arg[1], f.values[0][1]
            return None

        sub: dict[str, str] = {}
        kept = []
        for f in q.filters:
            hit = eq_const(f)
            if (
                hit is not None
                and hit[0] in core_vars
                and hit[0] not in blocked
                and hit[0] not in sub
            ):
                sub[hit[0]] = hit[1]
            else:
                kept.append(f)
        if not sub:
            return q, []

        def slot(t):
            return sub[t[1:]] if _is_var(t) and t[1:] in sub else t

        pats = [
            dataclasses.replace(p, s=slot(p.s), o=slot(p.o))
            for p in q.patterns
        ]
        return dataclasses.replace(q, patterns=pats, filters=kept), sorted(
            sub.items()
        )

    def _sparql_query(self, q, decode: bool) -> DataFrame:
        """Lower one parsed (sub)query — recursive for nested ``{ SELECT }``
        groups, in the group-element normal form documented on SparqlQuery:
        core BGP ⋈ UNION ⋈ SERVICE ⋈ subquery ⋈ VALUES, then OPTIONAL
        left joins, MINUS / EXISTS, FILTER / BIND, the query form and the
        solution modifiers."""
        from parj_spark.query.sparql import (
            agg_value_vars,
            aggregate_columns,
            bind_to_column,
            bind_vars,
            filter_to_column,
            filter_vars,
            order_columns,
            order_vars,
        )

        # `literal` tracks solution columns that hold FINAL values (decoded
        # terms, BIND outputs, subquery aggregates) instead of join keys.
        # Everything else stays encoded until the last possible moment —
        # joins, MINUS/EXISTS probes, id-lowerable FILTERs and hash
        # aggregates all run on keys (the reference's decode-outputs-last
        # rule, QueryTester.java:189-223)
        literal: set[str] = set()
        order_cols = order_columns(q.order_by) or None
        if q.filters and not decode:
            raise ValueError(
                "FILTER expressions compare decoded term values; "
                "sparql(..., filters=True) requires decode=True"
            )
        # sideways information passing: constant-equality FILTERs over
        # core-BGP-only vars bind the pattern slot BEFORE planning (point
        # lookup + true selectivity); the vars re-surface as constant
        # literal columns right after the compose
        q, const_binds = self._propagate_const_filters(q)
        # run the core BGP and every UNION alternative ENCODED so all joins
        # happen on join keys — decoding each sub-BGP separately would both
        # repeat the dictionary join per alternative and shuffle term
        # strings instead of longs; decode once at the end. OPTIONAL groups
        # do NOT join here: they left-join AFTER the UNION/SERVICE/
        # subquery/VALUES binding joins (see _apply_optional_groups's
        # placement contract), so a var those elements share with an
        # OPTIONAL block is never a possibly-null equi-join key.
        opt_pats = [p for g in q.optional for p in g]
        if opt_pats:
            self._check_var_spaces(list(q.patterns) + opt_pats)
        result = self._bgp(q.patterns) if q.patterns else None
        for v, term in const_binds:
            result = result.withColumn(v, F.lit(term))
            literal.add(v)

        def join(result, df):
            if result is None:
                return df
            shared = sorted(set(result.columns) & set(df.columns))
            return result.join(df, on=shared) if shared else result.crossJoin(df)

        for grp in q.unions:
            # alternatives bind the same vars (parse-enforced) -> a plain
            # column-aligned union, then an equi-join with the core BGP
            u = self._bgp(grp[0])
            for alt in grp[1:]:
                u = u.unionByName(self._bgp(alt))
            result = join(result, u)
        for silent, name, spats in q.services:
            # SERVICE: the block's solutions from the access (a federation
            # seam, not a network call); the cross-dataset join is a plain
            # Spark join
            svc = self._service(name, silent, spats)
            if svc is not None:
                result = join(result, svc)
                continue
            # SERVICE SILENT failure = the single empty solution: it joins
            # as identity and leaves the block's variables unbound (null),
            # so projections still resolve
            svars = sorted(
                {v for p in spats for v in p.vars() if not v.startswith("__bn")}
            )
            nul = F.lit(None).cast(self.TERM_TYPE)
            if result is None:
                result = self.spark.range(1).select(*[nul.alias(v) for v in svars])
            for v in svars:
                if v not in result.columns:
                    result = result.withColumn(v, nul)
        all_pats = (
            list(q.patterns)
            + opt_pats
            + [p for grp in q.unions for alt in grp for p in alt]
        )
        pvars = {v for p in all_pats for v in [p.pred_var()] if v}
        for sub in q.subqueries:
            # nested SELECT: its own lowering (recursively). The subquery
            # surfaces decoded term strings (its own contract), but the
            # enclosing group must keep joining on keys — so shared
            # projected vars are encoded BACK at the boundary and only the
            # subquery's non-shared outputs (typically aggregates) ride
            # along as literal columns.
            sdf = self._sparql_query(sub, decode=True)
            if result is None:
                result = sdf
                literal.update(sdf.columns)
                continue
            shared = sorted(set(result.columns) & set(sdf.columns))
            for v in shared:
                if v not in literal:  # both sides literal -> join on values
                    sdf = self._encode(sdf, v)
            literal.update(set(sdf.columns) - set(shared))
            result = join(result, sdf)
        for vars_, rows in q.values:
            # VALUES inline bindings, joined on ENCODED keys: join-key terms
            # of the tiny literal relation encode first (terms absent from
            # the graph bind nothing there, per inner-join semantics), so
            # the constraint prunes the core join on keys instead of waiting
            # for the decoded strings. Vars the solution set does NOT
            # already bind ride along as literal string columns (they key
            # nothing — and a term outside the graph still binds, per
            # SPARQL, which an id could not carry). UNDEF rows group by
            # their bound-variable mask: each mask joins on its own shared
            # vars and the branches union — every row lives in exactly one
            # mask, so the union IS SPARQL's compatibility (multiset) join.
            rcols = set(result.columns) if result is not None else set()
            ride = [v for v in vars_ if v not in rcols]
            by_mask: dict = {}
            for r in rows:
                mask = tuple(v for v, t in zip(vars_, r) if t is not None)
                by_mask.setdefault(mask, []).append(
                    tuple(t for t in r if t is not None)
                )
            branches = []
            for mask, mrows in sorted(by_mask.items()):
                if mask:
                    vdf = self.spark.createDataFrame(
                        mrows, schema=", ".join(f"{v} string" for v in mask)
                    )
                    for v in mask:
                        if v in rcols and v not in literal:
                            vdf = self._encode(vdf, v, gated=False)
                else:
                    # all-UNDEF rows constrain nothing: k of them multiply
                    # every solution k times (bag semantics)
                    vdf = self.spark.range(len(mrows)).select(
                        F.lit(1).alias("__dup")
                    )
                if result is None:
                    br = vdf
                else:
                    shared = sorted(rcols & set(vdf.columns))
                    br = (
                        result.join(F.broadcast(vdf), on=shared)
                        if shared
                        else result.crossJoin(F.broadcast(vdf))
                    )
                if "__dup" in br.columns:
                    br = br.drop("__dup")
                for v in ride:
                    if v not in br.columns:
                        br = br.withColumn(v, F.lit(None).cast("string"))
                branches.append(br)
            new = branches[0]
            for b in branches[1:]:
                new = new.unionByName(b)
            result = new
            literal.update(ride)
        if q.optional:
            # OPTIONAL left-joins the fully-composed binding set (core ⋈
            # UNION ⋈ SERVICE ⋈ subquery ⋈ VALUES) in typical document
            # order. The core join neither resolved this block's constants
            # nor hydrated its predicates' stats, so _resolve does both.
            if result is None:
                raise ValueError("OPTIONAL without a core BGP is not supported")
            result = self._apply_optional_groups(
                result,
                [list(g) for g in q.optional],
                self._resolve(opt_pats),
                literal=literal,
                pvars=pvars,
                opt_filters=q.optional_filters,
            )

        def block_frame(group, gfs):
            """A MINUS / EXISTS block's ENCODED frame, pre-filtered by its
            scoped FILTERs (exact per spec: a MINUS block never sees outer
            bindings; for EXISTS the join equates the shared vars)."""
            gdf = self._bgp(group)
            if gfs:
                gdf = self._filter_group_frame(gdf, gfs, group, pvars)
            return gdf

        def probe_side(gdf, group, shared):
            """Decode the block's shared vars that are literal on the
            solution side, so the probe compares like with like."""
            lit_shared = [v for v in shared if v in literal]
            if not lit_shared:
                return gdf
            gpv = {v for p in group for v in [p.pred_var()] if v}
            cols = list(gdf.columns)
            return self._decode_frame(gdf, pvars | gpv, only=lit_shared).select(*cols)

        for gi, group in enumerate(q.minus):
            # MINUS on encoded keys BEFORE decode: the anti-join probes
            # keys (same plan shape as the reference-parity semi/anti ops),
            # and removed rows never pay the dictionary join. A block with
            # no shared variable removes nothing (SPARQL disjoint-domain
            # rule) — skipped, since anti-joining on no keys annihilates.
            mdf = block_frame(group, q.minus_filters[gi] if gi < len(q.minus_filters) else None)
            shared = sorted(set(result.columns) & set(mdf.columns))
            if shared:
                mdf = probe_side(mdf, group, shared)
                result = result.join(mdf, on=shared, how="left_anti")
        for gi, (positive, group) in enumerate(q.exists):
            # FILTER [NOT] EXISTS on encoded keys (same placement rationale
            # as MINUS); a no-shared-variable block gates globally via a
            # constant-true semi/anti join against the block's first row.
            gdf = block_frame(group, q.exists_filters[gi] if gi < len(q.exists_filters) else None)
            shared = sorted(set(result.columns) & set(gdf.columns))
            how = "left_semi" if positive else "left_anti"
            if shared:
                gdf = probe_side(gdf, group, shared)
                result = result.join(gdf, on=shared, how=how)
            else:
                result = result.join(gdf.limit(1), F.lit(True), how)

        def decode_cols(df: DataFrame, cols) -> DataFrame:
            """Decode the named columns in place (order preserved), skip
            ones already literal, and record them as literal."""
            todo = [c for c in cols if c in df.columns and c not in literal]
            if not todo:
                return df
            order = list(df.columns)
            out = self._decode_frame(df, pvars, only=todo).select(*order)
            literal.update(todo)
            return out

        # split FILTERs: id-lowerable ones (=/!=/IN/BOUND over vars and
        # constant terms) prune the ENCODED solution set — constants
        # resolve to join keys driver-side in one pruned point-lookup
        # job — and the rest evaluate on decoded strings after decoding
        # ONLY the vars they reference.
        str_filters = list(q.filters)
        if q.filters and result is not None:
            lowerable, rest, ent_consts = [], [], set()
            rcols = set(result.columns)
            for fexpr in q.filters:
                plan = self._filter_id_plan(fexpr, rcols, literal, pvars)
                if plan is None:
                    rest.append(fexpr)
                else:
                    lowerable.append(fexpr)
                    ent_consts |= plan[0]
            ent_ids = self._term_ids(ent_consts)
            for fexpr in lowerable:
                result = result.filter(
                    self._filter_id_column(fexpr, ent_ids, pvars)
                )
            str_filters = rest
        pre_vars = {v for fe in str_filters for v in filter_vars(fe)}
        for expr, _ in q.binds:
            pre_vars |= bind_vars(expr)
        if result is not None and result.columns and pre_vars:
            result = decode_cols(result, sorted(pre_vars))
        for expr, v in q.binds:
            # BIND(expr AS ?v): a computed column on the solution set, in
            # document order (later binds may reference earlier targets),
            # after ALL the group's joins — OPTIONAL blocks included, whose
            # vars a bind/SELECT expression may reference
            result = result.withColumn(v, bind_to_column(expr, F.col))
            literal.add(v)
        # FILTERs apply after OPTIONAL joins but before projection (their
        # vars need not be selected); compiled to native Column predicates
        for fexpr in str_filters:
            result = result.filter(filter_to_column(fexpr, F.col))
        # the remaining OUTPUT columns decode AFTER the filters have pruned
        # — and only the columns the query actually surfaces (projection +
        # ORDER BY keys + CONSTRUCT template vars): a var that is joined on
        # but never output never pays a dictionary join at all.
        # ASK/DESCRIBE/aggregates handle their own (late or no) decode.
        if (
            result is not None
            and result.columns
            and (
                q.construct is not None
                or (
                    decode and not q.ask and q.describe is None
                    and not q.aggregates
                )
            )
        ):
            if q.construct is not None:
                need = {
                    t[1:]
                    for tp in q.construct
                    for t in (tp.s, tp.p, tp.o)
                    if _is_var(t)
                }
            elif q.select:
                need = set(q.select) | order_vars(q.order_by)
            else:
                need = {c for c in result.columns if not c.startswith("__bn")}
            result = decode_cols(result, sorted(need))
        if q.ask:
            # ASK: one row, one boolean — any solution exists? limit(1)
            # before the aggregate makes it an existence probe (LocalLimit
            # short-circuits each task's scan after the first solution)
            # instead of a full count of every solution — the reference's
            # first-solution semantics at plan level, not just result level.
            return result.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))
        if q.construct is not None:
            # CONSTRUCT over the decoded solution set: instantiate each
            # template triple per solution, union, dedup (a result graph is
            # a set of triples)
            out = None
            for tp in q.construct:
                row = result.select(
                    *(
                        (F.col(t[1:]) if _is_var(t) else F.lit(t))
                        .cast("string")  # a graph holds terms, not typed values
                        .alias(c)
                        for t, c in ((tp.s, "s"), (tp.p, "p"), (tp.o, "o"))
                    )
                )
                out = row if out is None else out.unionByName(row)
            return out.distinct()
        if q.describe is not None:
            # DESCRIBE: the distinct outgoing edges of the described
            # resources (concise bounded description, one hop). The
            # resource set is assembled on ENCODED keys — solution columns
            # are keys unless FILTER/BIND forced an early decode, and
            # constants resolve through the dictionary (pruned point
            # lookups) — so the edge fetch is a semi-join on keys; the
            # (usually small) result decodes at the end.
            ids = None
            for t in q.describe:
                if t.startswith("?"):
                    c = result.select(F.col(t[1:]).alias("rid")).distinct()
                    if t[1:] in literal:  # term strings -> back to keys
                        c = self._encode(c, "rid")
                else:
                    c = self._const_frame(t, "rid")
                ids = c if ids is None else ids.unionByName(c)
            edges = self._described(ids.distinct().withColumnRenamed("rid", "s"))
            if decode:
                edges = self._decode_frame(edges, pvars={"p"}).select("s", "p", "o")
            return edges
        if q.aggregates:
            # GROUP BY + aggregates with SQL-oracle (varchar) value
            # semantics, one hash aggregate, partial+final combine for free.
            # Scale-critical placement: only the aggregate VALUE vars are
            # decoded before grouping (SUM/AVG/MIN/MAX read term strings);
            # the GROUP BY keys stay encoded through the shuffle and decode
            # on the (small) aggregated output — the reference's
            # decode-outputs-last rule (QueryTester.java:189-223) applied
            # to the aggregate boundary. HAVING runs after the key decode,
            # so its string comparisons see terms either way. decode_cols
            # skips vars a FILTER/BIND already decoded, so a value var
            # doubling as a group key simply groups on its decoded form.
            if decode and result.columns:
                value_vars = sorted(agg_value_vars(q.aggregates))
                if value_vars:
                    result = decode_cols(result, value_vars)
            grouped = result.groupBy(*q.group_by) if q.group_by else result.groupBy()
            result = grouped.agg(*aggregate_columns(q.aggregates))
            literal.update(a.alias for a in q.aggregates)
            if decode and q.group_by:
                result = decode_cols(result, list(q.group_by))
            for h in q.having:
                result = result.filter(filter_to_column(h, F.col))
            result = result.select(*((q.select or []) + [a.alias for a in q.aggregates]))
        elif q.select:
            result = self._project(result, q.select, decode)
        else:
            # SELECT *: blank-node anonymous vars join but never project
            bn = [c for c in result.columns if c.startswith("__bn")]
            if bn:
                result = result.drop(*bn)
        if q.distinct:
            result = result.distinct()
        if order_cols:
            result = result.orderBy(*order_cols)
        if q.offset is not None:
            result = result.offset(q.offset)
        if q.limit is not None:
            result = result.limit(q.limit)
        return result


class BGPEngine(GraphAccess):
    """BGP executor over a GraphStore.

    ``bucketed_prefix``: which permutation-table layout joins read.
    The default ``"auto"`` picks up the graph's own bucketed layout
    (``GraphStore.bucketed_prefix()`` — built by the pipeline at load, like
    the reference's always-built permutation indexes, parj.c:1972-2189):
    first-column-to-first-column joins then run as bucketed sort-merge
    joins with no shuffle exchange (the 100 TB join path). Pass an explicit
    prefix for an ad-hoc layout, or None to force the p-partitioned
    parquet path (the pre-round-4 default, kept for A/B benching). None is
    also what ``"auto"`` yields on a ``StreamedGraphStore`` with pending
    deltas: the merge-on-read view has no bucketed layout.
    ``broadcast_rows``: scans estimated below this broadcast (set 0 to
    force shuffle joins, e.g. to observe the bucketed plan).
    """

    def __init__(
        self,
        store: GraphStore,
        bucketed_prefix: str | None = "auto",
        broadcast_rows: int = BROADCAST_ROWS,
    ):
        self.store = store
        self.spark = store.spark
        if bucketed_prefix == "auto":
            bucketed_prefix = getattr(store, "bucketed_prefix", lambda: None)()
        self.bucketed_prefix = bucketed_prefix
        if bucketed_prefix:
            # keep the bucketed read ON for scan-only shapes: Spark's
            # DisableUnnecessaryBucketedScan (autoBucketedScan, default on)
            # re-plans a bucketed table as a plain file scan when no join/
            # aggregate needs the distribution — which also silently drops
            # BUCKET PRUNING, so a point lookup on the bucket column reads
            # all n_buckets files instead of one (verified empirically on
            # 4.x: SelectedBucketsCount only appears with the rule off).
            # Joins are unaffected (SMJ keeps the bucketed scan either
            # way); the cost is bucket-grained task splits on full scans of
            # the bucketed tables, which n_buckets is sized for anyway.
            self.spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
            )
        self.broadcast_rows = broadcast_rows
        self._props = {r["uri"]: r["id"] for r in store.properties().collect()}
        self._stats = {r["p"]: r.asDict() for r in store.stats().collect()}
        self._dict = store.dict()
        self._dict_rows: int | None = None  # lazy: counted on first decode
        self._total_n = float(sum(st["n"] for st in self._stats.values()))
        # lazy catalog-wide uniform-estimate sums for variable-predicate
        # patterns (computed once, O(catalog); see _catalog_sums)
        self._uniform_sums: tuple[float, float, float] | None = None
        self._props_inv: dict[int, str] | None = None
        self._type_pid = self._props.get("rdf:type")

        # Planner statistics hydration is LAZY and per-query (VERDICT r3
        # missing #3): T1 (per-predicate) and T2 (per-class) are O(catalog)
        # and load eagerly above/below, but T3 pair cardinalities, the
        # type-restricted T3 and the per-(p, col) histograms are
        # O(predicates^2)-shaped tables — an eager collect is a driver-
        # memory cliff on a 10k-predicate corpus (the reference gets away
        # with eager because histograms.json is per-workload, QueryTester
        # .java:126-139). _hydrate() filters each stats parquet down to the
        # query's predicate ids before collecting (pushdown on p1/p2/p) and
        # merges into these dicts, which act as the driver-side cache.
        self._join_stats_df = store.join_stats()
        # (p1, p2, orientation) -> exact join cardinality (stat vtab T3)
        self._join_stats: dict[tuple[int, int, str], int] = {}
        # type-restricted T3 (reference getTypeCardinality, parj.c:510-547):
        # {(class, p1, p2, orientation) -> card over class-instance join keys}
        self._cjs_df = getattr(store, "class_join_stats", lambda: None)()
        self._class_join_stats: dict[tuple[int, int, int, str], int] = {}
        # the tracked-class set is O(top_k) and decides "pair absent means
        # zero" vs "class untracked" — loaded eagerly so lazy pair loading
        # cannot change anchor semantics
        self._cjs_classes: set[int] = (
            {r["cls"] for r in self._cjs_df.select("cls").distinct().collect()}
            if self._cjs_df is not None
            else set()
        )
        # equi-depth histograms (Histogram.java:106-212 analog): per
        # (predicate, column) sorted bucket lists for constant selectivity
        self._hist_df = getattr(store, "histograms", lambda: None)()
        self._hists: dict[tuple[int, str], list[tuple[int, int, int, int]]] = {}
        self._hydrated_pids: set[int] = set()
        # property-path relations (GraphAccess._path_rel), keyed by Path
        # tree or "__nodes__" (zero-length domain)
        self._closure_cache: dict = {}

        # T2 per-class stats (parj.c:338-364, MemoryStat.java:248-315):
        # {class id -> instance count}, for exact `?x rdf:type C` estimates
        cs = getattr(store, "class_stats", lambda: None)()
        self._class_stats = (
            {r["o"]: r["n"] for r in cs.collect()} if cs is not None else {}
        )

    def _hydrate(self, patterns: list[Pattern]) -> None:
        """Load the T3 / class-T3 / histogram rows for ``patterns``'s
        predicate ids into the driver-side cache dicts (no-op for already-
        hydrated ids). Only pairs touching a NEW id are fetched — pairs
        among previously-hydrated ids are already cached — so over an
        engine's lifetime each stats row is collected at most once and a
        single query costs O(|query predicates| x hydrated) rows, never
        O(catalog^2)."""
        if self._join_stats_df is None and self._cjs_df is None and self._hist_df is None:
            return
        pids = {
            self._props.get(pred)
            for p in patterns
            for pred in path_link_preds(p.p)
        }
        pids.discard(None)
        new = pids - self._hydrated_pids
        if not new:
            return
        allp = [int(x) for x in pids | self._hydrated_pids]
        newl = [int(x) for x in new]
        pair_pred = (
            F.col("p1").isin(allp)
            & F.col("p2").isin(allp)
            & (F.col("p1").isin(newl) | F.col("p2").isin(newl))
        )
        if self._join_stats_df is not None:
            for r in self._join_stats_df.filter(pair_pred).collect():
                self._join_stats[(r["p1"], r["p2"], r["orientation"])] = r["card"]
        if self._cjs_df is not None:
            for r in self._cjs_df.filter(pair_pred).collect():
                self._class_join_stats[
                    (r["cls"], r["p1"], r["p2"], r["orientation"])
                ] = r["card"]
        if self._hist_df is not None:
            fresh: dict[tuple[int, str], list] = {}
            for r in self._hist_df.filter(F.col("p").isin(newl)).collect():
                fresh.setdefault((r["p"], r["col"]), []).append(
                    (r["bucket"], r["lo"], r["hi"], r["n"], r["ndv"])
                )
            for key, buckets in fresh.items():
                self._hists[key] = [t[1:] for t in sorted(buckets)]
        self._hydrated_pids |= new

    def _hist_estimate(self, pid: int, col: str, val: int) -> float | None:
        """Estimated rows with ``col = val`` under predicate ``pid`` from the
        equi-depth histogram: count/ndv of the containing bucket; 0 when the
        value falls outside every bucket (absent); None when no histogram."""
        buckets = self._hists.get((pid, col))
        if not buckets:
            return None
        for lo, hi, n, ndv in buckets:
            if lo <= val <= hi:
                return n / max(1.0, float(ndv))
        return 0.0

    def _decode_dict(self) -> DataFrame:
        """The (id, uri) dictionary, broadcast only when it fits.

        At sandbox scale the dict always broadcasts; at 100 TB it is the
        distinct-term set (billions of rows) and an unconditional broadcast
        exceeds Spark's 8 GB limit and dies — so gate on the row count
        (a metadata-only parquet count) and fall back to a shuffle join,
        which AQE can still convert per-query when the result side is small.
        """
        if self._dict_rows is None:
            self._dict_rows = self._dict.count()
        if 0 < self.broadcast_rows >= self._dict_rows:
            return F.broadcast(self._dict)
        return self._dict

    def _table(self, name: str) -> DataFrame:
        """Permutation table ``name`` ("spo", "pos"; "osp" only without the
        bucketed layout)."""
        if self.bucketed_prefix:
            return self.spark.table(f"{self.bucketed_prefix}_{name}_b")
        return getattr(self.store, name)()

    # --- term resolution and the other GraphAccess primitives -----------
    def _resolve_terms(self, patterns: list[Pattern]) -> dict[str, int]:
        return self._term_ids(
            {t for p in patterns for t in (p.s, p.o) if not _is_var(t)}
        )

    def _term_ids(self, terms) -> dict[str, int]:
        """Dictionary ids of constant entity terms — one pruned point-lookup
        job, none when there is no term; an absent term has no entry."""
        if not terms:
            return {}
        rows = self._dict.filter(F.col("uri").isin(sorted(terms))).collect()
        return {r["uri"]: r["id"] for r in rows}

    def _pred_id(self, term: str) -> int | None:
        return self._props.get(term)

    def _resolve(self, patterns: list[Pattern]) -> dict[str, int]:
        self._hydrate(patterns)
        return self._resolve_terms(patterns)

    def _bgp(self, patterns: list[Pattern]) -> DataFrame:
        return self.query(patterns, select=None, decode=False)

    def _block(self, group: list[Pattern], terms: dict) -> DataFrame | None:
        return self._compose_joins(
            self._order(group, terms) if len(group) > 1 else list(group), terms
        )

    def _check_var_spaces(self, patterns: list[Pattern]) -> set[str]:
        """Reject a variable used in both predicate and subject/object
        position — predicate ids live in the properties catalog, entity
        ids in the term dictionary, and joining across the two spaces is
        invalid. Returns the predicate variables."""
        pvars = {v for p in patterns for v in [p.pred_var()] if v}
        evars = {v for p in patterns for v in p.entity_vars()}
        if pvars & evars:
            raise ValueError(
                f"variable(s) used in both predicate and subject/object "
                f"position: {sorted(pvars & evars)}"
            )
        return pvars

    def _edges_all(self) -> DataFrame:
        return self._table("spo")

    def _term_frame(self, v: str, pvars) -> DataFrame:
        """The (id, uri) catalog ``v`` decodes through: the (tiny,
        broadcast) properties catalog for predicate vars, else the
        size-gated term dictionary."""
        if v in pvars:
            return F.broadcast(self.store.properties())
        return self._decode_dict()

    def _with_term(self, df: DataFrame, v: str, pvars) -> DataFrame:
        d = self._term_frame(v, pvars).select(
            F.col("id").alias(v), F.col("uri").alias(f"__lit_{v}")
        )
        return df.join(d, v, "left")

    def _encode(self, df: DataFrame, v: str, gated: bool = True) -> DataFrame:
        """Resolve term-string column ``v`` back to dictionary ids (an inner
        join: a term outside the graph matches nothing). ``gated`` joins
        the size-gated broadcast dictionary, else the plain one."""
        d = (self._decode_dict() if gated else self._dict).select(
            F.col("uri").alias(v), F.col("id").alias(f"__{v}_id")
        )
        return df.join(d, v).drop(v).withColumnRenamed(f"__{v}_id", v)

    def _const_frame(self, term: str, col: str) -> DataFrame:
        return (
            self._decode_dict()
            .filter(F.col("uri") == term)
            .select(F.col("id").alias(col))
        )

    def _described(self, ids: DataFrame) -> DataFrame:
        # SPO is a set by construction and the semi-join preserves that,
        # so no distinct is needed before or after decode
        return self.store.spo().join(ids, "s", "left_semi").select("s", "p", "o")

    # --- planning --------------------------------------------------------
    def _catalog_sums(self) -> tuple[float, float, float]:
        """Catalog-wide sums of the uniform per-predicate estimates —
        (Σ n/ndv_o, Σ n/ndv_s, Σ n/(ndv_o·ndv_s)) — computed ONCE per
        engine. These answer constant-bound variable-predicate estimates in
        O(1) catalog work; only predicates with a better-than-uniform stat
        (T2 class counts for rdf:type, hydrated histograms) need a per-pid
        correction (VERDICT r4: the per-call Python loop over the catalog
        was quadratic-ish inside the greedy planner on large catalogs)."""
        if self._uniform_sums is None:
            so = ss = sso = 0.0
            for st in self._stats.values():
                n = float(st["n"])
                dvo = max(1.0, float(st["ndv_o"]))
                dvs = max(1.0, float(st["ndv_s"]))
                so += n / dvo
                ss += n / dvs
                sso += n / (dvo * dvs)
            self._uniform_sums = (so, ss, sso)
        return self._uniform_sums

    def _uniform_est(self, pid: int, s_bound: bool, o_bound: bool) -> float:
        """The histogram-free uniform estimate one predicate contributes to
        the catalog sums — subtracted when a better stat replaces it."""
        st = self._stats.get(pid)
        if st is None:
            return 0.0
        n = float(st["n"])
        if o_bound:
            n /= max(1.0, float(st["ndv_o"]))
        if s_bound:
            n /= max(1.0, float(st["ndv_s"]))
        return n

    def _var_pred_estimate(
        self, pat: Pattern, terms: dict[str, int] | None
    ) -> float:
        """Estimate for a variable-predicate pattern with >=1 bound term:
        the precomputed uniform catalog sum, corrected per-pid only where a
        better stat exists. Equivalent to summing _estimate over every
        predicate (histograms exist only for hydrated pids; class stats
        only apply to rdf:type) at O(query predicates) per call."""
        s_bound, o_bound = not _is_var(pat.s), not _is_var(pat.o)
        so, ss, sso = self._catalog_sums()
        total = sso if (s_bound and o_bound) else (so if o_bound else ss)
        special = set(self._hydrated_pids)
        if o_bound and self._class_stats and self._type_pid is not None:
            special.add(self._type_pid)
        if special:
            if self._props_inv is None:
                self._props_inv = {pid: uri for uri, pid in self._props.items()}
            for pid in special:
                uri = self._props_inv.get(pid)
                if uri is None or pid not in self._stats:
                    continue
                exact = self._estimate(Pattern(pat.s, uri, pat.o), terms)
                total += exact - self._uniform_est(pid, s_bound, o_bound)
        return max(total, 0.0)

    def _estimate(self, pat: Pattern, terms: dict[str, int] | None = None) -> float:
        if _is_var(pat.p):
            # variable predicate, nothing bound: the scan is the whole
            # graph — answer from the precomputed total instead of a
            # Python loop over the catalog (quadratic-ish on pathological
            # catalogs when called per candidate, VERDICT r3 nit)
            if _is_var(pat.s) and _is_var(pat.o):
                return self._total_n
            # a constant bound: answered from the once-per-engine catalog
            # sums + per-pid corrections, O(query predicates) per call
            return self._var_pred_estimate(pat, terms)
        if isinstance(pat.p, Path):
            if pat.p.op == "negset":
                # everything-but-the-listed-predicates: total minus the
                # excluded edge sets
                listed = sum(
                    float(self._stats.get(self._props.get(x), {}).get("n", 0))
                    for x in pat.p.parts
                )
                return max(self._total_n - listed, 1.0)
            # composite path: size it as 2x the sum of its base link edge
            # sets — closure/alternation grow the relation, and a nonzero
            # estimate keeps the planner from broadcast-hinting it
            return 2.0 * sum(
                self._estimate(Pattern(pat.s, pred, pat.o), terms)
                for pred in path_link_preds(pat.p)
            )
        if pat.p.endswith("+") and pat.p[:-1] in self._props:
            # property path: the closure is at least the base edge set and
            # typically a small multiple of it on shallow hierarchies —
            # estimate 2x base so the planner never treats it as empty
            # (a 0 estimate would broadcast-hint the whole closure)
            return 2.0 * self._estimate(Pattern(pat.s, pat.p[:-1], pat.o), terms)
        pid = self._props.get(pat.p)
        st = self._stats.get(pid)
        if st is None:
            return 0.0
        n_total = float(st["n"])
        n = n_total
        if not _is_var(pat.o):
            # constant-object selectivity, best stat first: T2 exact class
            # cardinality for rdf:type, else the equi-depth histogram bucket
            # (skew-aware), else the uniform n/ndv_o guess
            oid = terms.get(pat.o) if terms else None
            if pid == self._type_pid and oid is not None and self._class_stats:
                n = float(self._class_stats.get(oid, 0.0))
            else:
                h = self._hist_estimate(pid, "o", oid) if oid is not None else None
                n = h if h is not None else n / max(1.0, float(st["ndv_o"]))
        if not _is_var(pat.s):
            sid = terms.get(pat.s) if terms else None
            h = self._hist_estimate(pid, "s", sid) if sid is not None else None
            sel = (h / n_total) if (h is not None and n_total > 0) else 1.0 / max(
                1.0, float(st["ndv_s"])
            )
            n *= sel
        return n

    def _access(
        self, pat: Pattern, terms: dict[str, int], hint: str | None
    ) -> Access:
        """The relation :meth:`_scan` reads for ``pat``, decided without
        building it. The table is the reference's J2 access-path choice
        (DagCreator.java:94-122): a constant binding wins, then ``hint``
        (the column the enclosing join touches — reading its sort order
        gives the bucketed/sorted join path), then SPO.

        A variable predicate (extension beyond the reference) reads the
        permutation table with NO partition filter: on the bucketed layout
        the table-wide bucket spec survives the missing p filter, so an
        o-bound scan keeps bucket+rowgroup pruning on POS_b and its joins
        ride the exchange-free SMJ path like any other pattern (reference
        analog: the inverse permutation is a first-class index,
        parj.c:1713-1718); without the layout, an o-bound scan reads the
        OSP o-range parquet, else SPO. Path relations have no layout
        behind them, so no bucket var."""
        s_bound, o_bound = not _is_var(pat.s), not _is_var(pat.o)
        if (s_bound and pat.s not in terms) or (o_bound and pat.o not in terms):
            return Access("absent")
        if isinstance(pat.p, Path):
            return Access("path")
        if not _is_var(pat.p) and pat.p.endswith("+"):
            return Access("path" if pat.p[:-1] in self._props else "absent")
        if _is_var(pat.p) and not self.bucketed_prefix:
            return Access("var_table", "osp" if o_bound else "spo")
        if not _is_var(pat.p) and pat.p not in self._props:
            return Access("absent")
        if s_bound or o_bound:
            table = "spo" if s_bound else "pos"
        else:
            table = hint or "spo"
        key = pat.s if table == "spo" else pat.o
        return Access(
            "var_table" if _is_var(pat.p) else "table",
            table,
            key[1:] if self.bucketed_prefix and _is_var(key) else None,
        )

    def _scan(
        self, pat: Pattern, terms: dict[str, int], access: Access
    ) -> DataFrame | None:
        """One filtered scan of ``access``'s relation, columns renamed to
        var names (:func:`_scan_columns`); None when the access is absent."""
        if pat.g is not None:
            raise ValueError(
                "GRAPH patterns need a quad relation (use execute_on_quads)"
            )
        if access.kind == "absent":
            return None
        s_const = None if _is_var(pat.s) else terms[pat.s]
        o_const = None if _is_var(pat.o) else terms[pat.o]
        if isinstance(pat.p, Path):
            # composite property path (extension): the scan is the path's
            # evaluated pair relation
            anchor = s_const if s_const is not None else o_const
            df = self._path_pairs(pat.p, anchor)
        elif access.kind == "path":
            # p+ (extension beyond the reference): the predicate's closure
            df = self._path_rel(Path("plus", (Path("link", (pat.p[:-1],)),)))
        else:
            df = self._table(access.table)
            if access.kind == "table":
                df = df.filter(F.col("p") == self._props[pat.p])
        if s_const is not None:
            df = df.filter(F.col("s") == s_const)
        if o_const is not None:
            df = df.filter(F.col("o") == o_const)
        if _is_var(pat.s) and pat.s == pat.o:
            df = df.filter(F.col("s") == F.col("o"))
        cols = _scan_columns(pat)
        if not cols:  # fully-bound pattern: existence filter
            return df.limit(1).select(F.lit(1).alias("__exists"))
        return df.select(*[F.col(c).alias(v) for v, c in cols.items()])

    def _anchors(
        self, patterns: list[Pattern], terms: dict[str, int] | None
    ) -> dict[str, int]:
        """{var -> class id} for every ``?x rdf:type <C>`` pattern whose
        class has type-restricted T3 entries — the BGP's class anchors
        (reference: type pseudo-tables, MemoryStat.java:273, 301)."""
        if not self._class_join_stats or self._type_pid is None or not terms:
            return {}
        out: dict[str, int] = {}
        for p in patterns:
            if (
                not _is_var(p.p)
                and self._props.get(p.p) == self._type_pid
                and _is_var(p.s)
                and not _is_var(p.o)
            ):
                cid = terms.get(p.o)
                if cid is not None and cid in self._cjs_classes:
                    out[p.s[1:]] = cid
        return out

    def _join_card(
        self,
        prev: Pattern,
        cand: Pattern,
        anchors: dict[str, int] | None = None,
    ) -> float | None:
        """Exact pairwise join cardinality from the T3 stats, if the two
        patterns share a variable (orientation per parj.c:447-466). When the
        shared variable is anchored by a ``?x rdf:type C`` pattern, the
        class-restricted cardinality is used (reference getTypeCardinality,
        parj.c:510-547): it counts only join keys that are C instances, so a
        selective class shrinks the join estimate, not just the scan."""
        if _is_var(prev.p) or _is_var(cand.p):
            return None  # no T3 entry without both predicates bound
        p1, p2 = self._props.get(prev.p), self._props.get(cand.p)
        if p1 is None or p2 is None or not self._join_stats:
            return None
        best = None
        for v in prev.entity_vars() & cand.entity_vars():
            side1 = "S" if (_is_var(prev.s) and prev.s[1:] == v) else "O"
            side2 = "S" if (_is_var(cand.s) and cand.s[1:] == v) else "O"
            cls = anchors.get(v) if anchors else None
            if cls is not None:
                # tracked class, pair absent -> genuinely zero joining keys
                card = self._class_join_stats.get((cls, p1, p2, side1 + side2), 0)
            else:
                card = self._join_stats.get((p1, p2, side1 + side2))
            if card is not None:
                best = card if best is None else min(best, card)
        return best

    MAX_DP_PATTERNS = 10

    def _join_sel(
        self, a: Pattern, b: Pattern, anchors: dict[str, int] | None = None
    ) -> float | None:
        """Join selectivity of two patterns on their shared variable:
        T3 exact pair cardinality / (|p_a| * |p_b|) — class-restricted when
        the shared var is type-anchored (proportional model: the restricted
        numerator shrinks the selectivity by the class's share of joining
        keys). None if disconnected or the stats are missing."""
        card = self._join_card(a, b, anchors)
        if card is None:
            return None
        na = float(self._stats.get(self._props.get(a.p), {}).get("n", 0)) or 1.0
        nb = float(self._stats.get(self._props.get(b.p), {}).get("n", 0)) or 1.0
        return card / (na * nb)

    def _order(
        self, patterns: list[Pattern], terms: dict[str, int] | None = None
    ) -> list[Pattern]:
        """Join order: left-deep DP over the subset lattice when the BGP is
        small enough and T3 pair stats exist (the reference's DPSubLinear
        .java:40-113 — patterns <= 10, so the 2^n lattice is tiny), else the
        greedy most-selective-first order (which matches DP on chain/star/
        triangle shapes but can lock into a bad prefix on 6+ pattern BGPs)."""
        self._hydrate(patterns)
        if self._uses_dp(patterns):
            return self._order_dp(patterns, terms)
        return self._order_greedy(patterns, terms)

    def _uses_dp(self, patterns: list[Pattern]) -> bool:
        """Whether :meth:`_order` runs the DP (after hydrating ``patterns``)."""
        return 2 < len(patterns) <= self.MAX_DP_PATTERNS and bool(self._join_stats)

    # cost discount for a join whose key the left side is already
    # partitioned/sorted on (bucketed SMJ, no exchange/sort) — the repo
    # analog of the reference's INDEX_UTILIZATION discount
    # (DPEntry.sorted, NodeCostEstimator.java:451-523)
    SORT_ALIGNED_DISCOUNT = 0.7

    def _order_dp(
        self, patterns: list[Pattern], terms: dict[str, int] | None
    ) -> list[Pattern]:
        """Left-deep DP: dp[S] = min-cost order of subset S, extended one
        pattern at a time. Cardinality model: card(S + q) = card(S) * est(q)
        * product of the join selectivities between q and S (independence
        across join predicates — the product makes card(full BGP)
        order-invariant, so orders compete only on intermediate sizes),
        where est(q) folds in constant selectivity — the same running-min
        shape as the reference's DPSubLinear with NodeCostEstimator costs.

        Cost is sort-order-aware: an extension joining on the key set the
        left side is already partitioned on (the previous join's keys; for
        a seed scan, any single entity var — the permutation-table choice
        makes it the first sorted column) is discounted, so two
        equal-cardinality orders resolve to the one that keeps every join
        on the bucketed/sorted column (sort-free SMJ at scale)."""
        from itertools import combinations

        n = len(patterns)
        anchors = self._anchors(patterns, terms)
        est1 = [max(self._estimate(p, terms), 1e-3) for p in patterns]
        sels: dict[tuple[int, int], float | None] = {}
        for i in range(n):
            for j in range(i + 1, n):
                s = (
                    self._join_sel(patterns[i], patterns[j], anchors)
                    if patterns[i].vars() & patterns[j].vars()
                    else None
                )
                sels[(i, j)] = sels[(j, i)] = s
        varsets = [p.vars() for p in patterns]

        # dp: frozenset -> (cost, card, order, sort)
        # sort = ("seed", entity vars of the lone scan) or ("join", keys):
        # what the intermediate is partitioned/sorted on
        dp: dict[frozenset, tuple[float, float, list[int], tuple]] = {
            frozenset([i]): (0.0, est1[i], [i], ("seed", frozenset(patterns[i].entity_vars())))
            for i in range(n)
        }
        for size in range(2, n + 1):
            for subset in combinations(range(n), size):
                fs = frozenset(subset)
                best: tuple[float, float, list[int], tuple] | None = None
                for last in subset:
                    rest = fs - {last}
                    if rest not in dp:
                        continue
                    cost_r, card_r, order_r, sort_r = dp[rest]
                    if best is not None and cost_r >= best[0]:
                        continue  # running-min prune
                    sel = 1.0
                    for p in rest:
                        s = sels[(p, last)]
                        if s is not None:
                            sel *= s
                    card = card_r * est1[last] * sel
                    shared = frozenset(
                        v
                        for p in rest
                        for v in varsets[p] & varsets[last]
                    )
                    kind, keys = sort_r
                    aligned = bool(shared) and (
                        (len(shared) == 1 and shared <= keys)
                        if kind == "seed"
                        else shared == keys
                    )
                    step = card * (self.SORT_ALIGNED_DISCOUNT if aligned else 1.0)
                    cost = cost_r + step
                    if best is None or cost < best[0]:
                        new_sort = ("join", shared) if shared else sort_r
                        best = (cost, card, order_r + [last], new_sort)
                if best is not None:
                    dp[fs] = best
        return [patterns[i] for i in dp[frozenset(range(n))][2]]

    def _order_greedy(
        self, patterns: list[Pattern], terms: dict[str, int] | None
    ) -> list[Pattern]:
        """Greedy: cheapest first, then the *connected* pattern minimizing
        the estimated joined size — scored by the exact pairwise join
        cardinalities (T3 stats) scaled by the candidate's own constant
        selectivity, falling back to scan size."""
        anchors = self._anchors(patterns, terms)
        remaining = sorted(patterns, key=lambda p: self._estimate(p, terms))
        ordered = [remaining.pop(0)]
        bound = set(ordered[0].vars())

        def score(cand: Pattern) -> float:
            est = self._estimate(cand, terms)
            pid = self._props.get(cand.p)
            st = self._stats.get(pid) if pid is not None else None
            sel = est / max(float(st["n"]), 1.0) if st else 1.0
            cards = [
                c
                for prev in ordered
                if prev.vars() & cand.vars()
                for c in [self._join_card(prev, cand, anchors)]
                if c is not None
            ]
            return min(cards) * sel if cards else est

        while remaining:
            connected = [p for p in remaining if p.vars() & bound]
            pick = (
                min(connected, key=score)
                if connected
                else min(remaining, key=lambda p: self._estimate(p, terms))
            )
            remaining.remove(pick)
            ordered.append(pick)
            bound |= pick.vars()
        return ordered

    # --- execution -------------------------------------------------------
    def query(
        self,
        patterns: list[Pattern] | str,
        select: list[str] | None = None,
        distinct: bool = False,
        decode: bool = True,
        optional: list[Pattern] | list[list[Pattern]] | str | None = None,
        order_by: list[str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """Answer a BGP. ``optional`` joins LEFT OUTER (SPARQL OPTIONAL —
        the reference carries the opcode but never constructs it,
        Node.java:43 / SURVEY.md §2.3 J5). A flat pattern list or string is
        ONE optional block; a list of lists is one block per inner list —
        each block's patterns join each other first, then the assembled
        block left-joins the core, so a block matches as a whole or leaves
        all its vars unbound (SPARQL group semantics). ``order_by``/
        ``limit`` complete the O1/O2 surface."""
        if isinstance(patterns, str):
            patterns = parse_bgp(patterns)
        if isinstance(optional, str):
            opt_groups: list[list[Pattern]] = [parse_bgp(optional)]
        elif not optional:
            opt_groups = []
        elif isinstance(optional[0], Pattern):
            opt_groups = [list(optional)]  # flat list = one block
        else:
            opt_groups = [list(g) for g in optional]
        opt_patterns = [p for g in opt_groups for p in g]
        pvars = self._check_var_spaces(list(patterns) + opt_patterns)
        return self._plan_and_execute(
            patterns, opt_groups, opt_patterns, pvars,
            select=select, distinct=distinct, decode=decode,
            order_by=order_by, limit=limit,
        )

    def _plan_joins(
        self, ordered: list[Pattern], terms: dict[str, int]
    ) -> list[JoinStep]:
        """The join plan of a pre-ordered pattern list, one :class:`JoinStep`
        per pattern: every decision :meth:`_compose_joins` applies and
        :meth:`explain` prints is made here, once. No scan is built (a path
        scan runs its fixpoint jobs when built).

        Tracks the variable on which the running result is still clustered
        BY THE BUCKET LAYOUT (the seed's bucket column, preserved through
        broadcast and same-key bucketed joins). A join whose single key is
        this var against a scan bucketed on the same var needs neither
        shuffle nor hash-relation build — bucketed SMJ beats even a small
        broadcast there (measured: the 5-pattern star at 8.35M triples runs
        2x faster pure-SMJ than broadcast, BENCH/BASELINE.md bgp_large
        addendum), so an aligned join gets no broadcast hint. Otherwise a
        scan estimated under ``broadcast_rows`` broadcasts; else, at the
        first join, a seed under it broadcasts (the streamed scan keeps its
        bucket clustering); else the join shuffles."""
        steps: list[JoinStep] = []
        cols: set[str] = set()
        aligned_var: str | None = None
        for pat in ordered:
            scan_cols = _scan_columns(pat)
            keys = tuple(sorted(v for v in scan_cols if v in cols))
            joined = {scan_cols[v] for v in keys}
            hint = "spo" if "s" in joined else "pos" if "o" in joined else None
            access = self._access(pat, terms, hint)
            est = self._estimate(pat, terms)
            if not steps:
                strategy, aligned_var = "seed", access.bucket_var
            elif keys == (aligned_var,) and access.bucket_var == aligned_var:
                strategy = "aligned"
            elif 0 < self.broadcast_rows >= est:
                strategy = "broadcast"  # the result keeps its clustering
            elif len(steps) == 1 and 0 < self.broadcast_rows >= steps[0].est:
                strategy, aligned_var = "broadcast_seed", access.bucket_var
            else:
                strategy, aligned_var = ("shuffle" if keys else "cross"), None
            if steps and not keys:
                aligned_var = None  # a cross join keeps no clustering
            steps.append(JoinStep(pat, hint, access, est, keys, strategy))
            cols.update(scan_cols)
        return steps

    def _compose_joins(
        self, ordered: list[Pattern], terms: dict[str, int]
    ) -> DataFrame | None:
        """Join a pre-ordered pattern list into one relation by the plan of
        :meth:`_plan_joins`; None when any pattern's constant/predicate is
        absent from the catalogs (the empty relation — callers decide
        whether that kills the query or just an OPTIONAL block). Used by
        both the core BGP and each OPTIONAL group."""
        result: DataFrame | None = None
        for step in self._plan_joins(ordered, terms):
            scan = self._scan(step.pattern, terms, step.access)
            if scan is None:
                return None
            if step.strategy == "seed":
                result = scan
                continue
            if step.strategy == "broadcast":
                scan = F.broadcast(scan)
            elif step.strategy == "broadcast_seed":
                result = F.broadcast(result)
            keys = list(step.keys)
            result = result.join(scan, on=keys) if keys else result.crossJoin(scan)
        return result

    def _plan_and_execute(
        self, patterns, opt_groups, opt_patterns, pvars,
        select, distinct, decode, order_by, limit,
    ) -> DataFrame:
        """query()'s planning + execution tail, after input normalization
        and the predicate/entity variable-space check."""
        terms = self._resolve_terms(list(patterns) + opt_patterns)
        # core + optional predicates, one hydration pass
        self._hydrate(list(patterns) + opt_patterns)
        ordered = self._order(patterns, terms)

        result = self._compose_joins(ordered, terms)
        if result is None:
            # unknown predicate/constant: empty result with right columns
            all_vars = sorted({v for p in patterns for v in p.vars()})
            result = self.spark.createDataFrame(
                [], "".join(f"{v} long," for v in all_vars).rstrip(",") or "x long"
            )
        if "__exists" in result.columns:
            result = result.drop("__exists")

        result = self._apply_optional_groups(result, opt_groups, terms)

        all_pats = list(patterns) + opt_patterns
        out_vars = select or sorted(
            # blank-node anonymous vars (SPARQL [] sugar) join, never project
            {v for p in all_pats for v in p.vars() if not v.startswith("__bn")}
        )
        # a select var not bound by any pattern is dropped (consistently for
        # decode=True and decode=False) rather than failing at decode time
        out_vars = [c for c in out_vars if c in result.columns]
        result = result.select(*out_vars)
        if distinct:
            result = result.distinct()
        if decode and result.columns:
            result = self._decode_frame(result, pvars).select(*out_vars)
        if order_by:
            result = result.orderBy(*order_by)
        if limit is not None:
            result = result.limit(limit)
        return result

    def explain(self, patterns: list[Pattern] | str) -> str:
        """Driver-side plan report: the join plan :meth:`_plan_joins` makes
        for a BGP — the one :meth:`_compose_joins` applies — without
        building or executing it; the analog of the reference printing its
        decomposed join DAG before running (DagCreator.java:55-154 logs the
        chosen tree). One line per pattern in join order: access path
        (which permutation table / path closure), estimated cardinality,
        join keys, and the join strategy (broadcast below the gate, on the
        scan or on a small seed; bucketed sort-merge with no exchange when
        the join key is the layout's bucket column; shuffle otherwise).

        For the executed physical plan, call ``.explain("formatted")`` on
        the query's DataFrame."""
        if isinstance(patterns, str):
            patterns = parse_bgp(patterns)
        terms = self._resolve_terms(patterns)
        ordered = self._order(patterns, terms)
        method = (
            "DP (left-deep subset lattice, T3-costed)"
            if self._uses_dp(patterns)
            else "greedy (most-selective-first)"
        )
        layout = (
            f"bucketed ({self.bucketed_prefix}_*, p-partitioned + "
            "bucketed/sorted on the first column)"
            if self.bucketed_prefix
            else "p-partitioned parquet permutations"
        )
        lines = [f"layout: {layout}", f"join order: {method}"]
        for i, step in enumerate(self._plan_joins(ordered, terms), 1):
            pat, acc = step.pattern, step.access
            if acc.kind == "path":
                access = "path closure (semi-naive fixpoint relation)"
            elif acc.kind == "absent":
                access = "absent from the catalogs (matches nothing)"
            elif acc.kind == "var_table":
                where = " bucketed, all p-partitions" if self.bucketed_prefix else ""
                access = f"{acc.table.upper()}{where} (var predicate)"
            else:
                bound = "+".join(
                    c for c, t in (("s", pat.s), ("o", pat.o)) if not _is_var(t)
                )
                access = acc.table.upper() + (f", {bound} bound" if bound else "")
            on = f"on ({', '.join(step.keys)})"
            strat = {
                "seed": "seed scan",
                "cross": "CARTESIAN (no shared vars)",
                "aligned": f"bucketed sort-merge join {on}, no exchange",
                "broadcast": f"broadcast hash join {on}",
                "broadcast_seed": f"broadcast hash join {on}, seed side broadcast",
                "shuffle": f"shuffle join {on}",
            }[step.strategy]
            if step.strategy.startswith("broadcast") and not step.keys:
                side = "seed" if step.strategy == "broadcast_seed" else "scan"
                strat = f"CARTESIAN (no shared vars), {side} side broadcast"
            lines.append(
                f"  [{i}] {pat.s} {pat.p} {pat.o}  "
                f"-> {access}; est {step.est:,.0f} rows; {strat}"
            )
        return "\n".join(lines)

    def _decode_frame(
        self, result: DataFrame, pvars: set[str], only: list[str] | None = None
    ) -> DataFrame:
        """Decode id columns of ``result`` to their term strings:
        predicate vars through the (tiny, broadcast) properties catalog,
        entity vars through the term dictionary (size-gated broadcast).
        ``only`` restricts decoding to those columns (used by the
        aggregate path to decode value vars before and group keys after
        the hash aggregate). Column order is not preserved — callers
        re-select."""
        for v in (list(result.columns) if only is None else only):
            d = self._term_frame(v, pvars).select(
                F.col("id").alias(v), F.col("uri").alias(f"{v}_uri")
            )
            result = result.join(d, v, "left").drop(v).withColumnRenamed(f"{v}_uri", v)
        return result

    def sparql(self, text: str, decode: bool = True, **flags) -> DataFrame:
        """Execute a SPARQL string — the reference's actual entry point
        (QueryTester.java:152 parses SPARQL text; DagCreator.java:55-154
        lowers it to the join DAG).

        ``flags`` opt in to the parser's extensions under the engine's
        spelling (``filters=True``, ``unions=True``, ``paths=True``, ...;
        see ``ENGINE_FLAGS`` in :mod:`parj_spark.query.sparql`). A plain
        BGP (+ OPTIONAL + modifiers) lowers straight to :meth:`query`;
        everything else goes through the shared lowering
        (:meth:`GraphAccess._sparql_query`) over the encoded permutation
        tables: UNION alternatives plan as their own BGPs, id-lowerable
        FILTERs (=/!=/IN/BOUND over constant terms) prune on ENCODED ids
        before any decode join, other FILTERs decode only the vars they
        reference, and a ``{ SELECT }`` subquery's shared projected vars
        re-encode to ids at the boundary, so the enclosing group still
        joins on longs."""
        from parj_spark.query.sparql import parse_engine_sparql

        return self._sparql_query(parse_engine_sparql(text, **flags), decode)

    def explain_sparql(self, text: str, **flags) -> str:
        """:meth:`explain` for a SPARQL string: parse with the same opt-in
        ``flags`` :meth:`sparql` takes and report the plan of the query's
        core BGP (UNION/OPTIONAL/MINUS blocks plan as their own BGPs with
        the same machinery and are not repeated here)."""
        from parj_spark.query.sparql import parse_engine_sparql

        q = parse_engine_sparql(text, **flags)
        pats = getattr(q, "patterns", None)
        if not pats:
            return "(no core BGP — nothing to plan driver-side)"
        const_binds = []
        if getattr(q, "filters", None):
            q, const_binds = self._propagate_const_filters(q)
            pats = q.patterns
        report = self.explain(list(pats))
        if const_binds:
            report += "\nfilter constants propagated into the BGP:" + "".join(
                f"\n  ?{v} = {term} (pattern slot bound pre-planning — "
                "point-lookup access path)"
                for v, term in const_binds
            )
        if getattr(q, "filters", None):
            # report the FILTER decode placement (r5 lowering):
            # id-lowerable filters prune the encoded solution set before any
            # dictionary join; the rest decode only the vars they reference
            from parj_spark.query.sparql import filter_vars

            all_pats = (
                list(q.patterns)
                + [p for g in q.optional for p in g]
                + [p for grp in q.unions for alt in grp for p in alt]
            )
            pvars = {v for p in all_pats for v in [p.pred_var()] if v}
            cols = pvars | {
                t[1:]
                for p in all_pats
                for t in (p.s, p.o)
                if _is_var(t)
            }
            lines = []
            for fexpr in q.filters:
                plan = self._filter_id_plan(fexpr, cols, set(), pvars)
                fv = ",".join(sorted(filter_vars(fexpr))) or "-"
                if plan is not None:
                    ent, pred = plan
                    consts = len(ent) + len(pred)
                    lines.append(
                        f"  FILTER on ({fv}): id-lowered — prunes on "
                        f"encoded longs before any decode"
                        + (
                            f"; {consts} constant term(s) resolved via "
                            "pruned dictionary point lookup"
                            if consts
                            else ""
                        )
                    )
                else:
                    lines.append(
                        f"  FILTER on ({fv}): string path — decodes only "
                        "these vars pre-filter (output vars decode after)"
                    )
            report += "\nfilter lowering:\n" + "\n".join(lines)
        return report

    def _sparql_query(self, q, decode: bool) -> DataFrame:
        """A plain BGP (+ OPTIONAL blocks + modifiers) lowers straight to
        :meth:`query`, which decodes after DISTINCT; everything else takes
        the shared lowering."""
        if (
            not q.filters and not any(q.optional_filters) and not q.unions
            and not q.ask and not q.minus
            and not q.exists and q.offset is None and not q.aggregates
            and not q.values and q.construct is None and not q.binds
            and not q.subqueries and q.describe is None and not q.services
        ):
            from parj_spark.query.sparql import order_columns

            result = self.query(
                q.patterns,
                select=q.select,
                distinct=q.distinct,
                decode=decode,
                optional=q.optional or None,
                order_by=order_columns(q.order_by) or None,
                limit=q.limit,
            )
            # query() drops a select var no pattern binds; SPARQL keeps it
            if q.select and result.columns != q.select:
                result = self._project(result, q.select, decode)
            return result
        return super()._sparql_query(q, decode)

    def count(self, patterns: list[Pattern] | str) -> int:
        """count(*) result counting (reference A1, SQLiteLocalExecutor.java:152)."""
        return self.query(patterns, decode=False).count()
