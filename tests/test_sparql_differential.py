"""Differential fuzzing of the SPARQL surface: randomized queries executed
several ways must agree exactly —

  1. the stats-driven encoded engine over the BUCKETED layout (the default
     100 TB join path: exchange-free SMJ / size-gated broadcasts),
  2. the same engine forced onto the PARTITIONED parquet fallback
     (different physical plans, same logical semantics),
  3. ``execute_on_triples`` — the same SPARQL lowering over the string
     triple relation (the string access: no dictionary, heuristic join
     order), which the driver-contract oracles vouch for query-by-query,
  4. a DuckDB SQL twin of the drawn query over the decoded triples — the
     independent oracle, since 1-3 share one lowering. Every generator
     emits one (BGP, FILTER, OPTIONAL, UNION, MINUS, EXISTS, property
     paths, VALUES with UNDEF, subqueries, BIND, aggregates, HAVING,
     modifiers), except for the term-test and numeric FILTER / BIND forms.
     The base generator draws join predicates and FILTER constants from
     the terms a var can bind, and its test requires that at least a
     third of its draws agree on a non-empty result.

The hand-written contract queries pin ~90 fixed shapes; this fuzzer walks
the combinatorial space BETWEEN them (pattern topology x constant placement
x FILTER form x OPTIONAL/UNION x modifiers), which is exactly where a
planner rewrite — join-order seeding, constant-FILTER propagation into
pattern slots, encoded-id FILTER lowering, partial decode — could diverge
from the spec while every fixed test stays green. Reference analog: the
reference validates plans only against its 7 hardcoded LUBM exemplars
(QueryTester.java:107-119); this is the stronger guarantee a from-scratch
planner needs.

Hypothesis settings are derandomized so CI failures reproduce exactly.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from parj_spark.query import BGPEngine
from parj_spark.query.sparql import ENGINE_FLAGS, execute_on_triples

VARS = ["a", "b", "c", "d"]
ABSENT = "ub:Nowhere_404"  # never generated by the fixture ontology


@pytest.fixture(scope="module")
def diff(spark, tiny_graph):
    """Engines over both layouts + the decoded string relation + a term
    vocabulary sampled from the graph itself (driver-side: the tiny fixture
    graph is a few thousand triples — vocabulary only, not a data path)."""
    triples = (
        tiny_graph.decoded_triples()
        .select(
            F.col("s_uri").alias("s"),
            F.col("p_uri").alias("p"),
            F.col("o_uri").alias("o"),
        )
        .cache()
    )
    rows = triples.collect()
    by_pred: dict[str, tuple[list, list]] = {}
    for r in rows:
        subs, objs = by_pred.setdefault(r.p, ([], []))
        subs.append(r.s)
        objs.append(r.o)
    # deterministic, deduped, small per-predicate term pools
    vocab = {
        p: (sorted(set(subs))[:12], sorted(set(objs))[:12])
        for p, (subs, objs) in by_pred.items()
    }
    duck = duckdb.connect()
    duck.execute("CREATE TABLE t (s VARCHAR, p VARCHAR, o VARCHAR)")
    duck.executemany("INSERT INTO t VALUES (?, ?, ?)", [tuple(r) for r in rows])
    yield {
        "bucketed": BGPEngine(tiny_graph),  # auto: picks up the layout
        "partitioned": BGPEngine(tiny_graph, bucketed_prefix=None),
        "triples": triples,
        "duck": duck,
        "preds": sorted(vocab),
        "vocab": vocab,
    }
    duck.close()


def _term_sparql(t: str) -> str:
    """Render a constant for a pattern slot: URI-shaped terms bracketed,
    everything else (literals with spaces/@/+) quoted."""
    if all(ch.isalnum() or ch in ":_.-" for ch in t):
        return f"<{t}>"
    return '"' + t.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _filter_term(t: str) -> str:
    # FILTER operands are plain-string literals in the term model
    return '"' + t.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _sql_str(t: str) -> str:
    return "'" + t.replace("'", "''") + "'"


def _sql_bgp(pats: list) -> tuple[str, set]:
    """DuckDB SELECT over ``t(s, p, o)`` for a BGP whose slots are "?var"
    or ("c", term): one self-join alias per pattern, each var projected
    from its first slot and equated with the later ones."""
    binds: dict[str, str] = {}
    conds = []
    for i, (s, p, o) in enumerate(pats):
        conds.append(f"t{i}.p = {_sql_str(p)}")
        for term, col in ((s, "s"), (o, "o")):
            ref = f"t{i}.{col}"
            if isinstance(term, tuple):
                conds.append(f"{ref} = {_sql_str(term[1])}")
            elif term[1:] in binds:
                conds.append(f"{ref} = {binds[term[1:]]}")
            else:
                binds[term[1:]] = ref
    cols = ", ".join(f"{ref} AS {v}" for v, ref in binds.items())
    froms = ", ".join(f"t AS t{i}" for i in range(len(pats)))
    return f"SELECT {cols} FROM {froms} WHERE {' AND '.join(conds)}", set(binds)


def _sql_edge(j: str, v: str, preds: list) -> str:
    """Bag union of ``?j <p> ?v`` over ``preds`` as a (j, v) relation."""
    return " UNION ALL ".join(
        f"SELECT s AS {j}, o AS {v} FROM t WHERE p = {_sql_str(p)}" for p in preds
    )


def _gen_query(draw, vocab: dict, preds: list) -> tuple[str, dict, str | None]:
    """Draw one SPARQL SELECT: 1-3 connected core patterns over graph
    vocabulary, then optional DISTINCT / FILTER / OPTIONAL / UNION /
    ORDER+LIMIT. Returns (text, opt-in flags for the engine path, the
    equivalent DuckDB SQL over ``t(s, p, o)`` — None when the FILTER form
    drawn is a term test or numeric function, which has no SQL twin here).
    The SQL follows the group-element normal form: core ⋈ UNION, then the
    OPTIONAL left join, then FILTER, DISTINCT, ORDER BY + LIMIT."""
    used: list[str] = []
    pats: list[str] = []
    core: list = []  # (s, p, o) with "?var" or ("c", term) slots
    flags = {"filters": False, "unions": False}
    # var -> vocabulary terms of the slot that introduced it: join
    # predicates and FILTER constants are drawn to meet them, so most
    # draws have solutions for the SQL twin to agree on
    terms: dict[str, list] = {}

    def fresh(pool: list) -> str | None:
        for v in VARS:
            if v not in used:
                used.append(v)
                terms[v] = pool
                return v
        return None

    def meeting(v: str, slot: int, any_one: bool = True) -> list:
        """Predicates whose ``slot`` (0 = s, 1 = o) shares a term with
        ``v``'s — or, when none does or (``any_one``) one draw in eight,
        every predicate."""
        meet = [q for q in preds if set(vocab[q][slot]) & set(terms[v])]
        if not meet or (any_one and draw(st.integers(0, 7)) == 7):
            return preds
        return meet

    n_pats = draw(st.integers(1, 3))
    for i in range(n_pats):
        if i == 0:
            s_var, join_var = True, None
            p = draw(st.sampled_from(preds))
        else:
            # stay connected: reuse an existing var on one side, usually
            # through a predicate whose slot can meet the var's terms
            s_var = draw(st.booleans())
            join_var = draw(st.sampled_from(used))
            if meeting(join_var, 0 if s_var else 1, any_one=False) is preds:
                s_var = not s_var  # only the other slot can meet it
            p = draw(st.sampled_from(meeting(join_var, 0 if s_var else 1)))
        subs, objs = vocab[p]
        # a constant beside a join var rarely co-occurs with its terms:
        # joined patterns draw constants half as often as the first one
        rare = 2 if i else 1
        # subject slot
        if i > 0 and s_var:
            s = f"?{join_var}"
        elif draw(st.integers(0, 5 * rare - 1)) == 0 and subs:
            s = ("c", draw(st.sampled_from(subs)))
        else:
            v = fresh(subs)
            s = f"?{v}" if v else f"?{used[0]}"
        # object slot
        if i > 0 and not s_var:
            o = f"?{join_var}"
        elif draw(st.integers(0, 3 * rare - 1)) == 0 and objs:
            pool = objs + [ABSENT] if draw(st.integers(0, 5)) == 0 else objs
            o = ("c", draw(st.sampled_from(pool)))
        else:
            v = fresh(objs)
            o = f"?{v}" if v else f"?{used[0]}"
        s_text, o_text = (
            _term_sparql(t[1]) if isinstance(t, tuple) else t for t in (s, o)
        )
        if "?" not in s_text and "?" not in o_text:
            # fully-bound existence probes change the projection story;
            # keep at least one var per pattern
            v = fresh(objs) or used[0]
            o = o_text = f"?{v}"
        core.append((s, p, o))
        pats.append(f"{s_text} <{p}> {o_text} .")

    body = " ".join(pats)
    sql_core, cols = _sql_bgp(core)
    sql_from = f"({sql_core}) AS core"
    opt_sql = None

    # OPTIONAL: one pattern hanging a fresh var off an existing one
    if draw(st.integers(0, 2)) == 0:
        j = draw(st.sampled_from(used))
        p = draw(st.sampled_from(meeting(j, 0)))
        v = fresh(vocab[p][1])
        if v:
            body += f" OPTIONAL {{ ?{j} <{p}> ?{v} . }}"
            opt_sql = ({j, v}, f"({_sql_edge(j, v, [p])}) AS opt")

    # UNION group sharing one var with the core
    if draw(st.integers(0, 3)) == 0 and len(preds) >= 2:
        j = draw(st.sampled_from(used))
        p1, p2 = (draw(st.sampled_from(meeting(j, 0))) for _ in range(2))
        v = fresh(vocab[p1][1] + vocab[p2][1])
        if v:
            body += (
                f" {{ ?{j} <{p1}> ?{v} . }} UNION {{ ?{j} <{p2}> ?{v} . }}"
            )
            flags["unions"] = True
            shared = sorted(cols & {j, v})
            un = f"({_sql_edge(j, v, [p1, p2])}) AS un"
            sql_from += (
                f" JOIN {un} USING ({', '.join(shared)})" if shared else f" CROSS JOIN {un}"
            )
            cols |= {j, v}
    if opt_sql is not None:
        # OPTIONAL joins after the UNION (the normal form), on every var
        # it shares with the core and the UNION
        ovars, opt = opt_sql
        sql_from += f" LEFT JOIN {opt} USING ({', '.join(sorted(cols & ovars))})"
    where = ""
    has_sql = True

    # FILTER over any in-scope var (OPTIONAL vars exercise error-is-false)
    if draw(st.integers(0, 1)) == 0:
        fv = draw(st.sampled_from(used))
        # candidate constants: the var's own terms, one draw in eight
        # anything in the vocabulary; an absent term either way
        pool: list[str] = [ABSENT]
        if terms[fv] and draw(st.integers(0, 7)) != 7:
            pool += terms[fv]
        else:
            for p in preds:
                subs, objs = vocab[p]
                pool += subs[:3] + objs[:3]
        pool = sorted(set(pool))
        form = draw(st.integers(0, 5))
        if form in (0, 1):
            t = draw(st.sampled_from(pool))
            op = "=" if form == 0 else "!="
            body += f" FILTER(?{fv} {op} {_filter_term(t)})"
            where = f" WHERE {fv} {'=' if form == 0 else '<>'} {_sql_str(t)}"
        elif form == 2:
            k = draw(st.integers(1, 3))
            members = [draw(st.sampled_from(pool)) for _ in range(k)]
            body += f" FILTER(?{fv} IN ({', '.join(map(_filter_term, members))}))"
            where = f" WHERE {fv} IN ({', '.join(map(_sql_str, members))})"
        elif form == 3:
            body += f" FILTER(BOUND(?{fv}))"
            where = f" WHERE {fv} IS NOT NULL"
        elif form == 4:
            has_sql = False
            # term-kind tests, negated half the time (OPTIONAL vars hit
            # the unbound -> error -> false path even under !)
            tt = draw(st.sampled_from(
                ["isIRI", "isLiteral", "isBlank", "isNumeric"]
            ))
            neg = "!" if draw(st.booleans()) else ""
            body += f" FILTER({neg}{tt}(?{fv}))"
        else:
            # numeric term functions + operand arithmetic: vocab terms are
            # URI-ish strings, so try_cast fails -> null -> error-is-false
            # drops the row, while STRLEN-wrapped operands go numeric —
            # both branches matter
            has_sql = False
            fn = draw(st.sampled_from(["ABS", "CEIL", "FLOOR", "ROUND"]))
            arg = f"?{fv}" if draw(st.booleans()) else f"STRLEN(?{fv})"
            if draw(st.booleans()):
                arg = f"{fn}({arg})"
            else:
                arg = f"{fn}({arg}) * {draw(st.integers(1, 3))}" + (
                    f" + {draw(st.integers(0, 2))}" if draw(st.booleans()) else ""
                )
            op = draw(st.sampled_from(["<", ">=", "="]))
            body += f" FILTER({arg} {op} {draw(st.integers(-2, 30))})"
        flags["filters"] = True

    proj = " ".join(f"?{v}" for v in used)
    distinct = "DISTINCT " if draw(st.booleans()) else ""
    text = f"SELECT {distinct}{proj} WHERE {{ {body} }}"
    sql = f"SELECT {distinct}{', '.join(used)} FROM {sql_from}{where}"

    # ORDER BY the full var tuple -> LIMIT is a deterministic multiset;
    # sometimes an expression condition leads, the tuple breaking its ties
    if draw(st.integers(0, 2)) == 0:
        direction = draw(st.sampled_from(["ASC", "DESC"]))
        order = " ".join(f"{direction}(?{v})" for v in used)
        # Spark's null order: first ascending, last descending
        nulls = "NULLS FIRST" if direction == "ASC" else "NULLS LAST"
        keys = [f"{v} {direction} {nulls}" for v in used]
        if draw(st.integers(0, 2)) == 0:
            lead_v = draw(st.sampled_from(used))
            order = f"{direction}(STRLEN(?{lead_v})) {order}"
            keys.insert(0, f"length({lead_v}) {direction} {nulls}")
        n = draw(st.integers(1, 20))
        text += f" ORDER BY {order} LIMIT {n}"
        sql = f"SELECT * FROM ({sql}) AS q ORDER BY {', '.join(keys)} LIMIT {n}"
    return text, flags, sql if has_sql else None


def _gen_query_ext(draw, vocab: dict, preds: list) -> tuple[str, dict, str]:
    """Draw one SPARQL SELECT from the EXTENDED surface — the opt-in forms
    the base generator skips: MINUS, FILTER [NOT] EXISTS, property paths
    (sequence / alternation / inverse / one-or-more), and aggregates.
    One extension per query keeps every draw valid and shrinkable. Returns
    (text, flags, the DuckDB SQL twin over ``t(s, p, o)``)."""
    core_p = draw(st.sampled_from(preds))
    mode = draw(st.sampled_from(["minus", "exists", "path", "agg"]))
    flags = {"filters": False, "unions": False, "minus": False, "paths": False,
             "aggregates": False}

    if mode == "path":
        flags["paths"] = True
        p2 = draw(st.sampled_from(preds))
        form = draw(st.integers(0, 3))
        c1, c2 = _sql_str(core_p), _sql_str(p2)
        if form == 0:
            path = f"<{core_p}>/<{p2}>"
            rel = (
                f"SELECT x.s, y.o FROM t AS x JOIN t AS y ON y.s = x.o "
                f"WHERE x.p = {c1} AND y.p = {c2}"
            )
        elif form == 1:
            path = f"<{core_p}>|<{p2}>"
            rel = (
                f"SELECT s, o FROM t WHERE p = {c1} "
                f"UNION ALL SELECT s, o FROM t WHERE p = {c2}"
            )
        elif form == 2:
            path = f"^<{core_p}>"
            rel = f"SELECT o AS s, s AS o FROM t WHERE p = {c1}"
        else:
            path = f"<{core_p}>+"
            # a closure is a set of pairs: the recursive UNION dedups
            rel = (
                f"WITH RECURSIVE c(s, o) AS (SELECT s, o FROM t WHERE p = {c1} "
                f"UNION SELECT c.s, t.o FROM c JOIN t ON t.s = c.o AND t.p = {c1}) "
                "SELECT s, o FROM c"
            )
        # anchor one end sometimes so closures get a bound entry point
        subs, objs = vocab[core_p]
        if draw(st.integers(0, 2)) == 0 and subs:
            a = draw(st.sampled_from(subs))
            text = f"SELECT ?b WHERE {{ {_term_sparql(a)} {path} ?b . }}"
            sql = f"SELECT o AS b FROM ({rel}) AS r WHERE s = {_sql_str(a)}"
        else:
            text = f"SELECT ?a ?b WHERE {{ ?a {path} ?b . }}"
            sql = f"SELECT s AS a, o AS b FROM ({rel}) AS r"
        return text, flags, sql

    body = f"?a <{core_p}> ?b ."
    core_sql = f"SELECT s AS a, o AS b FROM t WHERE p = {_sql_str(core_p)}"

    def _scoped(p2: str) -> tuple[str, str]:
        # optionally scope a FILTER to the block itself (pre-filters the
        # block frame in both evaluators)
        if draw(st.integers(0, 2)) != 0:
            return ".", ""
        s2, o2 = vocab[p2]
        t = draw(st.sampled_from((o2 or s2 or [ABSENT]) + [ABSENT]))
        flags["filters"] = True
        return f"FILTER(?m != {_filter_term(t)})", f" AND m.o <> {_sql_str(t)}"

    if mode in ("minus", "exists"):
        p2 = draw(st.sampled_from(preds))
        j = draw(st.sampled_from(["a", "b"]))
        if mode == "minus":
            flags["minus"] = True
            scoped, cond = _scoped(p2)
            body += f" MINUS {{ ?{j} <{p2}> ?m {scoped} }}"
            neg = "NOT "
        else:
            flags["filters"] = True
            neg = "NOT " if draw(st.booleans()) else ""
            scoped, cond = _scoped(p2)
            body += f" FILTER {neg}EXISTS {{ ?{j} <{p2}> ?m {scoped} }}"
        # the block shares only ?j with the core (always bound), so MINUS
        # is the same anti-join as FILTER NOT EXISTS
        sql = (
            f"SELECT a, b FROM ({core_sql}) AS core WHERE {neg}EXISTS "
            f"(SELECT 1 FROM t AS m WHERE m.p = {_sql_str(p2)} AND m.s = core.{j}{cond})"
        )
        return f"SELECT ?a ?b WHERE {{ {body} }}", flags, sql

    # aggregates: COUNT over one group key (COUNT is total-order-safe on
    # the string term model, unlike SUM/AVG try_cast numerics)
    flags["aggregates"] = True
    distinct = "DISTINCT " if draw(st.booleans()) else ""
    key = draw(st.sampled_from(["a", "b"]))
    other = "b" if key == "a" else "a"
    text = (
        f"SELECT ?{key} (COUNT({distinct}?{other}) AS ?n) "
        f"WHERE {{ {body} }} GROUP BY ?{key}"
    )
    sql = (
        f"SELECT {key}, COUNT({distinct}{other}) AS n FROM ({core_sql}) AS core "
        f"GROUP BY {key}"
    )
    return text, flags, sql


def _sql_nodes() -> str:
    """The zero-length path domain: every term occurring as s or o."""
    return "SELECT s AS n FROM t UNION SELECT o FROM t"


def _sql_values(rows: list, names: list) -> str:
    """A VALUES table over ``names``; None (UNDEF) as a typed null."""
    cell = lambda t: "CAST(NULL AS VARCHAR)" if t is None else _sql_str(t)  # noqa: E731
    body = ", ".join("(" + ", ".join(map(cell, r)) + ")" for r in rows)
    return f"(VALUES {body}) AS v({', '.join(names)})"


def _gen_query_ext2(draw, vocab: dict, preds: list) -> tuple[str, dict, str | None]:
    """Draw one SPARQL SELECT from the surface the round-5 rewrites touched
    most directly — BIND computed columns (partial decode of referenced
    vars), VALUES (id-resolved broadcast join), `{ SELECT }` subqueries
    (id-resolution at the projection boundary), HAVING, composite-path
    forms the first ext generator skips (zero-length / quantified /
    negated), deterministic GROUP_CONCAT/MIN/MAX/SUM aggregates, and
    ORDER+LIMIT+OFFSET pagination. One form per query, as in _gen_query_ext.
    Returns (text, flags, the DuckDB SQL twin — None for the numeric BIND
    functions, whose SPARQL rounding and typing have no exact SQL twin)."""
    core_p = draw(st.sampled_from(preds))
    subs, objs = vocab[core_p]
    cp = _sql_str(core_p)
    core_sql = f"SELECT s AS a, o AS b FROM t WHERE p = {cp}"
    mode = draw(
        st.sampled_from(
            ["bind", "values", "subquery", "having", "cpath", "agg2",
             "offset", "varpred", "optfilter"]
        )
    )

    if mode == "optfilter":
        # FILTER scoped inside an OPTIONAL block: LeftJoin(G, P, E) — a
        # failing E leaves the block vars unbound instead of dropping the
        # core row (the semantic difference from a group-level FILTER)
        flags = {"filters": True}
        p2 = draw(st.sampled_from(preds))
        subs2, objs2 = vocab[p2]
        pool = (objs2 or subs2 or [ABSENT]) + [ABSENT]
        form = draw(st.integers(0, 3))
        if form == 0:
            t = draw(st.sampled_from(pool))
            fl, cond = f"FILTER(?x != {_filter_term(t)})", f"x.o <> {_sql_str(t)}"
        elif form == 1:
            k = draw(st.integers(1, 3))
            members = [draw(st.sampled_from(pool)) for _ in range(k)]
            fl = f"FILTER(?x IN ({', '.join(map(_filter_term, members))}))"
            cond = f"x.o IN ({', '.join(map(_sql_str, members))})"
        elif form == 2:
            n = draw(st.integers(3, 20))
            fl, cond = f"FILTER(STRLEN(?x) > {n})", f"length(x.o) > {n}"
        else:
            t = draw(st.sampled_from(pool))
            fl, cond = f"FILTER(?x = {_filter_term(t)})", f"x.o = {_sql_str(t)}"
        hang = "a" if draw(st.booleans()) else "b"
        body = f"?a <{core_p}> ?b . OPTIONAL {{ ?{hang} <{p2}> ?x {fl} }}"
        sql = (
            f"SELECT core.a, core.b, x.o AS x FROM ({core_sql}) AS core "
            f"LEFT JOIN t AS x ON x.p = {_sql_str(p2)} AND x.s = core.{hang} "
            f"AND {cond}"
        )
        return f"SELECT ?a ?b ?x WHERE {{ {body} }}", flags, sql

    if mode == "varpred":
        # ?p ranges over the properties catalog; on the bucketed layout the
        # scan reads the permutation table partition-unfiltered
        flags = {"var_predicates": True}
        form = draw(st.integers(0, 2))
        if form == 0 and subs:
            c = draw(st.sampled_from(subs))
            return (
                f"SELECT ?p ?b WHERE {{ {_term_sparql(c)} ?p ?b . }}",
                flags,
                f"SELECT p, o AS b FROM t WHERE s = {_sql_str(c)}",
            )
        if form == 1 and objs:
            c = draw(st.sampled_from(objs))
            return (
                f"SELECT ?a ?p WHERE {{ ?a ?p {_term_sparql(c)} . }}",
                flags,
                f"SELECT s AS a, p FROM t WHERE o = {_sql_str(c)}",
            )
        p2 = draw(st.sampled_from(preds))
        return (
            f"SELECT ?a ?p ?b ?c WHERE {{ ?a ?p ?b . ?b <{p2}> ?c . }}",
            flags,
            "SELECT x.s AS a, x.p, x.o AS b, y.o AS c FROM t AS x "
            f"JOIN t AS y ON y.s = x.o WHERE y.p = {_sql_str(p2)}",
        )

    if mode == "bind":
        flags = {"bind": True}
        form = draw(st.integers(0, 5))
        if form == 0:
            b, u = "BIND(STRLEN(?b) AS ?u)", "length(b)"
        elif form == 1:
            b, u = "BIND(UCASE(?b) AS ?u)", "upper(b)"
        elif form == 2:
            b, u = 'BIND(CONCAT("t:", ?b) AS ?u)', "'t:' || b"
        elif form == 3:
            b, u = 'BIND(IF(BOUND(?b), "y", "n") AS ?u)', "'y'"
        elif form == 4:
            # numeric builtin over STRLEN (URI-ish terms aren't numeric)
            fn = draw(st.sampled_from(["ABS", "CEIL", "FLOOR", "ROUND"]))
            b, u = f"BIND({fn}(STRLEN(?b) / 2) AS ?u)", None
        else:
            b, u = "BIND(MD5(?b) AS ?u)", "md5(b)"
        body = f"?a <{core_p}> ?b . {b}"
        sql = u and f"SELECT a, b, {u} AS u FROM ({core_sql}) AS core"
        if form != 0 and draw(st.booleans()):
            # FILTER over the computed column — the engine must place the
            # filter after the bind it reads; for the numeric form the
            # comparison string-renders the column (the ANSI-cast guard
            # in filter_to_column's var operand)
            flags["filters"] = True
            body += ' . FILTER(?u != "t:nope")'
            sql = sql and f"SELECT * FROM ({sql}) AS q WHERE u <> 't:nope'"
        return f"SELECT ?a ?b ?u WHERE {{ {body} }}", flags, sql

    if mode == "values":
        flags = {"values": True}
        k = draw(st.integers(1, 3))

        def vterm(pool):
            # UNDEF leaves the var unbound in its row (compatibility join:
            # per-row mask grouping in both evaluators)
            if draw(st.integers(0, 3)) == 0:
                return None
            return draw(st.sampled_from(pool))

        def render(t):
            return "UNDEF" if t is None else _term_sparql(t)

        if subs and objs and draw(st.booleans()):
            # multi-var row form constrains tuples, not columns
            rows = [(vterm(subs), vterm(objs + [ABSENT])) for _ in range(k)]
            names = ["a", "b"]
            pairs = " ".join(f"({render(x)} {render(y)})" for x, y in rows)
            body = f"?a <{core_p}> ?b . VALUES (?a ?b) {{ {pairs} }}"
        else:
            pool = (objs or subs) + [ABSENT]
            rows = [(vterm(pool),) for _ in range(k)]
            names = ["b"]
            terms_v = " ".join(render(r[0]) for r in rows)
            body = f"?a <{core_p}> ?b . VALUES ?b {{ {terms_v} }}"
        # compatibility join: an UNDEF cell matches anything
        on = " AND ".join(f"(v.{n} IS NULL OR v.{n} = core.{n})" for n in names)
        sql = (
            f"SELECT core.a, core.b FROM ({core_sql}) AS core "
            f"JOIN {_sql_values(rows, names)} ON {on}"
        )
        return f"SELECT ?a ?b WHERE {{ {body} }}", flags, sql

    if mode == "subquery":
        p2 = draw(st.sampled_from(preds))
        outer = f"FROM t AS x JOIN ({{}}) AS g ON g.b = x.s WHERE x.p = {_sql_str(p2)}"
        if draw(st.booleans()):
            # grouped-count subquery joined with an outer pattern: the
            # boundary var must re-encode to ids for the enclosing join
            text = (
                f"SELECT ?b ?n WHERE {{ ?b <{p2}> ?c . "
                f"{{ SELECT ?b (COUNT(*) AS ?n) "
                f"WHERE {{ ?a <{core_p}> ?b }} GROUP BY ?b }} }}"
            )
            sub = f"SELECT o AS b, COUNT(*) AS n FROM t WHERE p = {cp} GROUP BY o"
            sql = "SELECT x.s AS b, g.n " + outer.format(sub)
            return text, {"subquery": True, "aggregates": True}, sql
        text = (
            f"SELECT ?b ?c WHERE {{ ?b <{p2}> ?c . "
            f"{{ SELECT DISTINCT ?b WHERE {{ ?a <{core_p}> ?b }} }} }}"
        )
        sub = f"SELECT DISTINCT o AS b FROM t WHERE p = {cp}"
        sql = "SELECT x.s AS b, x.o AS c " + outer.format(sub)
        return text, {"subquery": True}, sql

    if mode == "having":
        k = draw(st.integers(1, 3))
        distinct = "DISTINCT " if draw(st.booleans()) else ""
        text = (
            f"SELECT ?b (COUNT({distinct}?a) AS ?n) "
            f"WHERE {{ ?a <{core_p}> ?b }} GROUP BY ?b HAVING(?n >= {k})"
        )
        sql = (
            f"SELECT b, COUNT({distinct}a) AS n FROM ({core_sql}) AS core "
            f"GROUP BY b HAVING COUNT({distinct}a) >= {k}"
        )
        return text, {"aggregates": True}, sql

    if mode == "cpath":
        flags = {"paths": True}
        form = draw(st.integers(0, 3))
        step = f"SELECT s, o FROM t WHERE p = {cp}"
        closure = (
            f"WITH RECURSIVE c(s, o) AS ({step} "
            f"UNION SELECT c.s, t.o FROM c JOIN t ON t.s = c.o AND t.p = {cp}) "
            "SELECT s, o FROM c"
        )
        zero = f"SELECT n AS s, n AS o FROM ({_sql_nodes()}) AS nodes"
        if form == 0:
            path, rel = f"<{core_p}>?", f"{step} UNION {zero}"
        elif form == 1:
            # p{1,2} = p/(p?): a bag join with the distinct p? relation
            path = f"<{core_p}>{{1,2}}"
            rel = (
                f"SELECT x.s, r.o FROM t AS x JOIN ({step} UNION {zero}) AS r "
                f"ON r.s = x.o WHERE x.p = {cp}"
            )
        elif form == 2:
            path, rel = f"!<{core_p}>", f"SELECT s, o FROM t WHERE p <> {cp}"
        else:
            path, rel = f"<{core_p}>*", f"SELECT * FROM ({closure}) AS c UNION {zero}"
        if form in (0, 3) and subs and draw(st.integers(0, 1)) == 0:
            # anchored zero-length forms take the lazy (c, c) probe path:
            # the anchor pairs with itself when it occurs in the graph
            anchor = draw(st.sampled_from(subs))
            c = _sql_str(anchor)
            reach = step if form == 0 else f"SELECT * FROM ({closure}) AS c"
            sql = (
                f"SELECT o AS b FROM ({reach}) AS r WHERE s = {c} UNION "
                f"SELECT {c} FROM t WHERE s = {c} OR o = {c}"
            )
            text = f"SELECT ?b WHERE {{ {_term_sparql(anchor)} {path} ?b . }}"
            return text, flags, sql
        return (
            f"SELECT ?a ?b WHERE {{ ?a {path} ?b . }}",
            flags,
            f"SELECT s AS a, o AS b FROM ({rel}) AS r",
        )

    if mode == "agg2":
        fn, sql_fn = draw(st.sampled_from([
            ("MIN(?a)", "min(a)"), ("MAX(?a)", "max(a)"),
            ("SUM(STRLEN(?a))", "CAST(sum(length(a)) AS DOUBLE)"),
            ("GROUP_CONCAT(?a)", "string_agg(a, ' ' ORDER BY a)"),
        ]))
        # MIN/MAX are lexicographic, GROUP_CONCAT sorts before joining,
        # SUM(STRLEN) adds small exact-in-double ints: all total-order-safe
        text = (
            f"SELECT ?b ({fn} AS ?m) "
            f"WHERE {{ ?a <{core_p}> ?b }} GROUP BY ?b"
        )
        sql = f"SELECT b, {sql_fn} AS m FROM ({core_sql}) AS core GROUP BY b"
        return text, {"aggregates": True}, sql

    # pagination: ORDER BY the full (unique) var tuple -> deterministic page
    lim = draw(st.integers(1, 10))
    off = draw(st.integers(0, 5))
    text = (
        f"SELECT ?a ?b WHERE {{ ?a <{core_p}> ?b }} "
        f"ORDER BY ASC(?a) ASC(?b) LIMIT {lim} OFFSET {off}"
    )
    sql = f"{core_sql} ORDER BY a, b LIMIT {lim} OFFSET {off}"
    return text, {"offset": True}, sql


def _gen_query_combo(draw, vocab: dict, preds: list) -> tuple[str, dict, str]:
    """Compose TWO opt-in features over one core pattern — the interaction
    space where both r5 finds lived (a UNION var bound only by an OPTIONAL
    null-dropped through an equi-join; an OPTIONAL block over a subquery
    ride-along literal cast its term string to a long join key). The
    single-extension generators can never reach these shapes. Returns
    (text, flags, the DuckDB SQL twin over ``t(s, p, o)``): the features
    share only the always-bound core vars, so the twin's join order is the
    document order's."""
    core_p = draw(st.sampled_from(preds))
    subs, objs = vocab[core_p]
    flags: dict = {}
    frags: list[str] = []
    proj = ["a", "b"]
    # the twin: core ⋈ binding joins ⟕ left joins, then WHERE conditions
    cols = {"a": "core.a", "b": "core.b"}
    joins: list[str] = []
    conds: list[str] = []

    def lit_pool(p) -> list:
        s2, o2 = vocab[p]
        return (o2 or s2 or [ABSENT]) + [ABSENT]

    feats = draw(
        st.permutations(
            ["union", "optional", "optfilter", "values", "subquery",
             "minus", "filter", "bind"]
        )
    )[:2]
    for feat in feats:
        p2 = draw(st.sampled_from(preds))
        c2 = _sql_str(p2)
        if feat == "union":
            p3 = draw(st.sampled_from(preds))
            hang = draw(st.sampled_from(["a", "b"]))
            frags.append(
                f"{{ ?{hang} <{p2}> ?u . }} UNION {{ ?{hang} <{p3}> ?u . }}"
            )
            proj.append("u")
            flags["unions"] = True
            joins.append(
                f"JOIN ({_sql_edge('h', 'u', [p2, p3])}) AS un ON un.h = core.{hang}"
            )
            cols["u"] = "un.u"
        elif feat == "optional":
            hang = draw(st.sampled_from(["a", "b"]))
            frags.append(f"OPTIONAL {{ ?{hang} <{p2}> ?d . }}")
            proj.append("d")
            joins.append(f"LEFT JOIN t AS od ON od.p = {c2} AND od.s = core.{hang}")
            cols["d"] = "od.o"
        elif feat == "optfilter":
            t = draw(st.sampled_from(lit_pool(p2)))
            frags.append(f"OPTIONAL {{ ?a <{p2}> ?e FILTER(?e != {_filter_term(t)}) }}")
            proj.append("e")
            flags["filters"] = True
            joins.append(
                f"LEFT JOIN t AS oe ON oe.p = {c2} AND oe.s = core.a "
                f"AND oe.o <> {_sql_str(t)}"
            )
            cols["e"] = "oe.o"
        elif feat == "values":
            k = draw(st.integers(1, 2))
            pool = (objs or subs) + [ABSENT]
            rows = [
                (None if draw(st.integers(0, 2)) == 0 else draw(st.sampled_from(pool)),)
                for _ in range(k)
            ]
            terms_v = " ".join(
                "UNDEF" if t is None else _term_sparql(t) for (t,) in rows
            )
            frags.append(f"VALUES ?b {{ {terms_v} }}")
            flags["values"] = True
            joins.append(
                f"JOIN {_sql_values(rows, ['b'])} ON v.b IS NULL OR v.b = core.b"
            )
        elif feat == "subquery":
            frags.append(
                f"{{ SELECT ?a (COUNT(*) AS ?m) "
                f"WHERE {{ ?a <{p2}> ?w }} GROUP BY ?a }}"
            )
            proj.append("m")
            flags["subquery"] = True
            flags["aggregates"] = True
            joins.append(
                f"JOIN (SELECT s AS a, COUNT(*) AS m FROM t WHERE p = {c2} "
                "GROUP BY s) AS sq ON sq.a = core.a"
            )
            cols["m"] = "sq.m"
        elif feat == "minus":
            cond = ""
            if draw(st.booleans()):
                t = draw(st.sampled_from(lit_pool(p2)))
                frags.append(f"MINUS {{ ?a <{p2}> ?v FILTER(?v != {_filter_term(t)}) }}")
                flags["filters"] = True
                cond = f" AND mv.o <> {_sql_str(t)}"
            else:
                frags.append(f"MINUS {{ ?a <{p2}> ?v . }}")
            flags["minus"] = True
            conds.append(
                f"NOT EXISTS (SELECT 1 FROM t AS mv WHERE mv.p = {c2} "
                f"AND mv.s = core.a{cond})"
            )
        elif feat == "filter":
            pool = [ABSENT] + (objs or subs)[:6]
            t = draw(st.sampled_from(sorted(set(pool))))
            form = draw(st.integers(0, 2))
            if form == 0:
                frags.append(f"FILTER(?b != {_filter_term(t)})")
                conds.append(f"core.b <> {_sql_str(t)}")
            elif form == 1:
                frags.append(f"FILTER(?b IN ({_filter_term(t)}))")
                conds.append(f"core.b IN ({_sql_str(t)})")
            else:
                frags.append("FILTER(BOUND(?b))")
                conds.append("core.b IS NOT NULL")
            flags["filters"] = True
        else:  # bind
            frags.append("BIND(STRLEN(?b) AS ?L)")
            proj.append("L")
            flags["bind"] = True
            cols["L"] = "length(core.b)"
    body = f"?a <{core_p}> ?b . " + " ".join(frags)
    group = (
        f"FROM (SELECT s AS a, o AS b FROM t WHERE p = {_sql_str(core_p)}) AS core "
        + " ".join(joins)
        + (f" WHERE {' AND '.join(conds)}" if conds else "")
    )
    if draw(st.integers(0, 2)) == 0:
        # aggregate over the composed group: the hash aggregate runs after
        # every binding/left join of the normal form
        flags["aggregates"] = True
        return (
            f"SELECT ?a (COUNT(*) AS ?cnt) WHERE {{ {body} }} GROUP BY ?a",
            flags,
            f"SELECT core.a AS a, COUNT(*) AS cnt {group} GROUP BY core.a",
        )
    sel = " ".join(f"?{v}" for v in proj)
    distinct = "DISTINCT " if draw(st.booleans()) else ""
    sql_cols = ", ".join(f"{cols[v]} AS {v}" for v in proj)
    return (
        f"SELECT {distinct}{sel} WHERE {{ {body} }}",
        flags,
        f"SELECT {distinct}{sql_cols} {group}",
    )


def _sorted_rows(out: list) -> list:
    # type-safe total order: None first, then by string rendering (columns
    # are consistently typed within a run, so key ties imply value equality)
    return sorted(
        out, key=lambda t: tuple((v is None, str(v)) for v in t)
    )


def _rows(df) -> list:
    cols = sorted(df.columns)
    return _sorted_rows([tuple(r[c] for c in cols) for r in df.select(*cols).collect()])


def _duck_rows(con, sql: str) -> list:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=names.__getitem__)
    return _sorted_rows([tuple(r[i] for i in order) for r in cur.fetchall()])


def _assert_agree(diff, text: str, flags: dict, sql: str | None = None) -> bool:
    """Both engine layouts == the string access; with ``sql``, also ==
    DuckDB over the same decoded triples (an evaluator that shares no code
    with the engine). True when DuckDB agreed on a non-empty result."""
    got_b = _rows(diff["bucketed"].sparql(text, **flags))
    got_p = _rows(diff["partitioned"].sparql(text, **flags))
    got_n = _rows(
        execute_on_triples(
            diff["triples"],
            text,
            **{ENGINE_FLAGS[k]: v for k, v in flags.items()},
        )
    )
    assert got_b == got_n, f"bucketed engine != naive path for: {text}"
    assert got_p == got_n, f"partitioned engine != naive path for: {text}"
    if sql is None:
        return False
    assert _duck_rows(diff["duck"], sql) == got_n, f"DuckDB != engine for: {text}\n{sql}"
    return bool(got_n)


def test_differential_random_queries(diff):
    """Random base shapes agree on all paths; and the DuckDB twin bites: at
    least a third of the draws are checked against a non-empty result."""
    bites: list[bool] = []

    @settings(
        max_examples=15,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(data=st.data())
    def check(data):
        text, flags, sql = _gen_query(data.draw, diff["vocab"], diff["preds"])
        bites.append(_assert_agree(diff, text, flags, sql))

    check()
    assert 3 * sum(bites) >= len(bites), f"{sum(bites)} of {len(bites)} draws"


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(data=st.data())
def test_differential_extended_forms(diff, data):
    text, flags, sql = _gen_query_ext(data.draw, diff["vocab"], diff["preds"])
    _assert_agree(diff, text, flags, sql)


@settings(
    max_examples=14,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(data=st.data())
def test_differential_optin_forms(diff, data):
    text, flags, sql = _gen_query_ext2(data.draw, diff["vocab"], diff["preds"])
    _assert_agree(diff, text, flags, sql)


# Fixed seeds for the shapes the round-5 rewrites touched — kept as plain
# tests so a regression names the shape directly instead of a shrunk blob.
SEED_QUERIES = [
    # constant-FILTER propagation: shared var bound at plan time
    (
        "SELECT ?x ?d WHERE { ?x <ub:memberOf> ?d . ?x <ub:advisor> ?p . "
        'FILTER(?d = "ub:Department_0_0") }',
        {"filters": True, "unions": False},
    ),
    # multi-member IN stays a post-compose id-lowered filter
    (
        "SELECT ?x ?d WHERE { ?x <ub:memberOf> ?d . "
        'FILTER(?d IN ("ub:Department_0_0", "ub:Department_0_1", '
        f'"{ABSENT}")) }}',
        {"filters": True, "unions": False},
    ),
    # FILTER over an OPTIONAL var: unbound -> error -> false (row dropped)
    (
        "SELECT ?x ?d ?e WHERE { ?x <ub:memberOf> ?d . "
        "OPTIONAL { ?x <ub:emailAddress> ?e . } "
        'FILTER(?e != "nobody@example.org") }',
        {"filters": True, "unions": False},
    ),
    # propagation must NOT fire for a var shared with a UNION group
    (
        "SELECT ?x ?d ?w WHERE { ?x <ub:memberOf> ?d . "
        "{ ?d <ub:subOrganizationOf> ?w . } UNION "
        "{ ?d <ub:name> ?w . } "
        'FILTER(?d = "ub:Department_0_0") }',
        {"filters": True, "unions": True},
    ),
    # absent constant in a pattern slot: empty through id resolution
    (
        f"SELECT ?x WHERE {{ ?x <ub:memberOf> <{ABSENT}> . }}",
        {"filters": False, "unions": False},
    ),
    # UNION sharing a var bound only by an OPTIONAL (the r5 fuzzer find):
    # the OPTIONAL never matches here, so ?b is unbound in every core
    # solution — SPARQL's compatibility join lets the UNION bind it, which
    # a plain equi-join on the null key silently violates. Pins the
    # binding-joins-first normal form (_apply_optional_groups placement).
    (
        "SELECT ?a ?b ?c WHERE { <ub:Course_0_0_0> <rdf:type> ?a . "
        "OPTIONAL { ?a <rdf:type> ?b . } "
        "{ ?b <rdf:type> ?c . } UNION { ?b <ub:memberOf> ?c . } }",
        {"filters": False, "unions": True},
    ),
    # same shape, but the OPTIONAL DOES match: ?b is bound, so the UNION
    # join must stay an equality constraint on it
    (
        "SELECT ?x ?d ?w WHERE { ?x <ub:advisor> ?p . "
        "OPTIONAL { ?x <ub:memberOf> ?d . } "
        "{ ?d <ub:subOrganizationOf> ?w . } UNION { ?d <ub:name> ?w . } }",
        {"filters": False, "unions": True},
    ),
    # OPTIONAL over a subquery ride-along literal var (the r5 inspection
    # find): ?a surfaces from the subquery as a DECODED string column, so
    # the block side must decode its ?a before the left join — the old
    # path cast the term string to a long join key and threw at runtime
    (
        "SELECT ?b ?a ?x WHERE { ?b <ub:worksFor> ?c . "
        "{ SELECT ?a ?b WHERE { ?a <ub:advisor> ?b } } "
        "OPTIONAL { ?a <ub:takesCourse> ?x } }",
        {"subquery": True},
    ),
    # block-scoped FILTER, id-lowerable: a failing row leaves ?x unbound
    # instead of dropping the core solution
    (
        "SELECT ?a ?b ?x WHERE { ?a <ub:advisor> ?b . "
        'OPTIONAL { ?a <ub:takesCourse> ?x FILTER(?x != "ub:Course_0_0_0") } }',
        {"filters": True},
    ),
    # block-scoped FILTER, non-lowerable (string function): decodes only
    # ?x into a throwaway column; join keys stay encoded
    (
        "SELECT ?a ?b ?x WHERE { ?a <ub:advisor> ?b . "
        "OPTIONAL { ?a <ub:emailAddress> ?x FILTER(STRLEN(?x) > 10) } }",
        {"filters": True},
    ),
    # block-scoped FILTER that kills the whole block: every core row
    # survives with ?x unbound (a top-level filter would drop them all)
    (
        "SELECT ?a ?x WHERE { ?a <ub:advisor> ?b . "
        f'OPTIONAL {{ ?a <ub:takesCourse> ?x FILTER(?x IN ("{ABSENT}")) }} }}',
        {"filters": True},
    ),
    # VALUES with an UNDEF row: the bound row constrains, the UNDEF row is
    # compatible with every solution (mask-grouped union in both paths)
    (
        "SELECT ?a ?b WHERE { ?a <ub:memberOf> ?b . "
        'VALUES ?b { "ub:Department_0_0" UNDEF } }',
        {"values": True},
    ),
    # ride-along VALUES var binding a term OUTSIDE the graph (stays a
    # literal string column — a dictionary id could not carry it) plus an
    # all-UNDEF row that duplicates every solution
    (
        "SELECT ?a ?b ?tag WHERE { ?a <ub:memberOf> ?b . "
        f'VALUES (?b ?tag) {{ ("ub:Department_0_0" "{ABSENT}") '
        "(UNDEF UNDEF) } }",
        {"values": True},
    ),
    # two UNDEF rows: each is compatible with every solution, so every
    # solution comes out twice (plus once more for its bound row)
    (
        "SELECT ?a ?b WHERE { ?a <ub:memberOf> ?b . "
        'VALUES ?b { UNDEF "ub:Department_0_0" UNDEF } }',
        {"values": True},
    ),
]


# DuckDB twins of SEED_QUERIES (by index), in the group-element normal
# form (SparqlQuery): core ⋈ UNION / subquery / VALUES, then OPTIONAL, then
# FILTER. Seed 6 writes its OPTIONAL before the UNION, so its twin encodes
# the documented hoisted reading, not SPARQL's document-order one.
SEED_SQL = {
    0: "SELECT a.s AS x, a.o AS d FROM t AS a, t AS b WHERE a.p = 'ub:memberOf' "
    "AND b.p = 'ub:advisor' AND b.s = a.s AND a.o = 'ub:Department_0_0'",
    1: "SELECT s AS x, o AS d FROM t WHERE p = 'ub:memberOf' AND o IN "
    f"('ub:Department_0_0', 'ub:Department_0_1', '{ABSENT}')",
    2: "SELECT a.s AS x, a.o AS d, e.o AS e FROM t AS a LEFT JOIN t AS e "
    "ON e.p = 'ub:emailAddress' AND e.s = a.s "
    "WHERE a.p = 'ub:memberOf' AND e.o <> 'nobody@example.org'",
    3: "SELECT a.s AS x, a.o AS d, u.o AS w FROM t AS a JOIN t AS u "
    "ON u.s = a.o AND u.p IN ('ub:subOrganizationOf', 'ub:name') "
    "WHERE a.p = 'ub:memberOf' AND a.o = 'ub:Department_0_0'",
    4: f"SELECT s AS x FROM t WHERE p = 'ub:memberOf' AND o = '{ABSENT}'",
    5: "SELECT a, b, c FROM "
    "(SELECT o AS a FROM t WHERE s = 'ub:Course_0_0_0' AND p = 'rdf:type') AS core "
    "CROSS JOIN (SELECT s AS b, o AS c FROM t WHERE p IN ('rdf:type', 'ub:memberOf')) AS u "
    "LEFT JOIN (SELECT s AS a, o AS b FROM t WHERE p = 'rdf:type') AS opt USING (a, b)",
    6: "SELECT x, d, w FROM "
    "(SELECT s AS x, o AS p FROM t WHERE p = 'ub:advisor') AS core "
    "CROSS JOIN (SELECT s AS d, o AS w FROM t "
    "WHERE p IN ('ub:subOrganizationOf', 'ub:name')) AS u "
    "LEFT JOIN (SELECT s AS x, o AS d FROM t WHERE p = 'ub:memberOf') AS opt USING (x, d)",
    7: "SELECT w.s AS b, adv.s AS a, x.o AS x FROM t AS w "
    "JOIN t AS adv ON adv.p = 'ub:advisor' AND adv.o = w.s "
    "LEFT JOIN t AS x ON x.p = 'ub:takesCourse' AND x.s = adv.s "
    "WHERE w.p = 'ub:worksFor'",
    8: "SELECT a.s AS a, a.o AS b, x.o AS x FROM t AS a LEFT JOIN t AS x "
    "ON x.p = 'ub:takesCourse' AND x.s = a.s AND x.o <> 'ub:Course_0_0_0' "
    "WHERE a.p = 'ub:advisor'",
    9: "SELECT a.s AS a, a.o AS b, x.o AS x FROM t AS a LEFT JOIN t AS x "
    "ON x.p = 'ub:emailAddress' AND x.s = a.s AND length(x.o) > 10 "
    "WHERE a.p = 'ub:advisor'",
    10: "SELECT a.s AS a, x.o AS x FROM t AS a LEFT JOIN t AS x "
    f"ON x.p = 'ub:takesCourse' AND x.s = a.s AND x.o IN ('{ABSENT}') "
    "WHERE a.p = 'ub:advisor'",
    # VALUES is a compatibility join: an UNDEF cell matches any binding
    11: "SELECT m.s AS a, m.o AS b FROM t AS m JOIN "
    + _sql_values([("ub:Department_0_0",), (None,)], ["b"])
    + " ON v.b IS NULL OR v.b = m.o WHERE m.p = 'ub:memberOf'",
    12: "SELECT m.s AS a, m.o AS b, v.tag FROM t AS m JOIN "
    + _sql_values([("ub:Department_0_0", ABSENT), (None, None)], ["b", "tag"])
    + " ON v.b IS NULL OR v.b = m.o WHERE m.p = 'ub:memberOf'",
    13: "SELECT m.s AS a, m.o AS b FROM t AS m JOIN "
    + _sql_values([(None,), ("ub:Department_0_0",), (None,)], ["b"])
    + " ON v.b IS NULL OR v.b = m.o WHERE m.p = 'ub:memberOf'",
}


@settings(
    max_examples=14,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(data=st.data())
def test_differential_combined_features(diff, data):
    text, flags, sql = _gen_query_combo(data.draw, diff["vocab"], diff["preds"])
    _assert_agree(diff, text, flags, sql)


@pytest.mark.parametrize("text,flags", SEED_QUERIES)
def test_differential_seed_shapes(diff, text, flags):
    _assert_agree(diff, text, flags, SEED_SQL.get(SEED_QUERIES.index((text, flags))))


def test_string_access_builds_plans_without_jobs(diff, spark_jobs):
    """Building an ``execute_on_triples`` plan submits no Spark job for a
    BGP, a FILTER + OPTIONAL, a VALUES block with UNDEF and a GROUP BY
    query: the string access resolves constants to themselves and decodes
    nothing, so it never collects from or counts a relation."""
    queries = [
        (
            "SELECT ?x ?u WHERE { ?x <ub:memberOf> ?d . "
            "?d <ub:subOrganizationOf> ?u }",
            {},
        ),
        (
            "SELECT ?x ?d ?e WHERE { ?x <ub:memberOf> ?d . "
            "OPTIONAL { ?x <ub:emailAddress> ?e } "
            'FILTER(?d = "ub:Department_0_0") FILTER(?e != "nobody@example.org") }',
            {"allow_filter": True},
        ),
        (
            "SELECT ?a ?b WHERE { ?a <ub:memberOf> ?b . "
            'VALUES ?b { "ub:Department_0_0" UNDEF } }',
            {"allow_values": True},
        ),
        (
            "SELECT ?d (COUNT(*) AS ?n) WHERE { ?x <ub:memberOf> ?d } GROUP BY ?d",
            {"allow_aggregates": True},
        ),
    ]
    for text, flags in queries:
        with spark_jobs() as jobs:
            execute_on_triples(diff["triples"], text, **flags)
            assert jobs() == [], text
