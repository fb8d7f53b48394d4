"""SPARQL front-end tests: the seven LUBM query strings from the reference
harness (QueryTester.java:107-119), rewritten only in fixture vocabulary
(ub:/rdf: prefixed names, fixture entity IRIs), must execute verbatim through
BGPEngine.sparql and match the equivalent hand-built Pattern queries.
Parser-level syntax and rejection behavior is covered separately."""

import pytest
from pyspark.sql import functions as F

from parj_spark.query import BGPEngine, Pattern, parse_sparql

PREFIXES = "PREFIX rdf:<rdf:> PREFIX ub:<ub:> "

# verbatim reference query bodies (QueryTester.java:107-119), constants
# swapped to the fixture's entity IRIs (the reference's LUBM data uses
# http://www.Department0.University0.edu-style IRIs; ours ub:Department_0_0)
LUBM = {
    "lubm1": "SELECT ?x ?y ?z WHERE { ?z ub:subOrganizationOf ?y .  ?y rdf:type ub:University .  ?z rdf:type ub:Department .  ?x ub:memberOf ?z .  ?x rdf:type ub:GraduateStudent .  ?x ub:undergraduateDegreeFrom ?y . }",
    "lubm2": "SELECT ?x WHERE { ?x rdf:type ub:Course . ?x ub:name ?y .}",
    "lubm3": "SELECT ?x ?y ?z WHERE { ?x rdf:type ub:UndergraduateStudent. ?y rdf:type ub:University . ?z rdf:type ub:Department . ?x ub:memberOf ?z . ?z ub:subOrganizationOf ?y . ?x ub:undergraduateDegreeFrom ?y . }",
    "lubm4": "SELECT ?x WHERE { ?x ub:worksFor <ub:Department_0_0> .  ?x rdf:type ub:FullProfessor .?x ub:name ?y1 . ?x ub:emailAddress ?y2 . ?x ub:telephone ?y3.}",
    "lubm5": "SELECT ?x WHERE {?x ub:subOrganizationOf <ub:Department_0_0> . ?x rdf:type ub:ResearchGroup }",
    "lubm6": "SELECT ?x ?y WHERE { ?y ub:subOrganizationOf <ub:University_0>.  ?y rdf:type ub:Department .  ?x ub:worksFor ?y . ?x rdf:type ub:FullProfessor . }",
    "lubm7": "SELECT ?x ?y ?z WHERE { ?y ub:teacherOf ?z .  ?y rdf:type ub:FullProfessor . ?z rdf:type ub:Course . ?x ub:advisor ?y . ?x rdf:type ub:UndergraduateStudent . ?x ub:takesCourse ?z }",
}

# WatDiv-shaped BGPs (the other benchmark family the baseline metric names):
# S = star, L = linear/path, F = snowflake, C = complex — the four WatDiv
# basic-testing template families, instantiated on the fixture vocabulary
WATDIV = {
    "watdiv_s": "SELECT ?p ?n ?e ?t ?d WHERE { ?p rdf:type ub:FullProfessor . ?p ub:name ?n . ?p ub:emailAddress ?e . ?p ub:telephone ?t . ?p ub:worksFor ?d }",
    "watdiv_l": "SELECT ?g ?d ?u WHERE { ?g rdf:type ub:ResearchGroup . ?g ub:subOrganizationOf ?d . ?d ub:subOrganizationOf ?u . ?u rdf:type ub:University }",
    "watdiv_f": "SELECT ?p ?c ?cn ?d ?u WHERE { ?p ub:teacherOf ?c . ?c ub:name ?cn . ?p ub:worksFor ?d . ?d ub:subOrganizationOf ?u . ?p ub:emailAddress ?e }",
    "watdiv_c": "SELECT ?s ?p ?c ?d WHERE { ?s ub:advisor ?p . ?s ub:takesCourse ?c . ?p ub:teacherOf ?c . ?s rdf:type ub:UndergraduateStudent . ?p ub:name ?pn . ?c ub:name ?cn . ?p ub:worksFor ?d . ?d ub:subOrganizationOf ?u }",
}


@pytest.fixture(scope="module")
def engine(tiny_graph):
    return BGPEngine(tiny_graph)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", sorted(LUBM))
def test_lubm_verbatim_equals_pattern_path(engine, name):
    """Each LUBM string parses and returns exactly the rows the hand-built
    Pattern path returns (same engine, same plan machinery underneath)."""
    text = PREFIXES + LUBM[name]
    q = parse_sparql(text)
    via_sparql = engine.sparql(text)
    via_patterns = engine.query(q.patterns, select=q.select)
    assert via_sparql.columns == via_patterns.columns
    assert _rows(via_sparql) == _rows(via_patterns)


def test_lubm_queries_nonempty(engine):
    """The fixture corpus populates every LUBM shape except the two that
    require cross-university structure the tiny fixture doesn't generate."""
    for name in ("lubm2", "lubm4", "lubm5", "lubm7"):
        assert engine.sparql(PREFIXES + LUBM[name]).count() > 0, name


@pytest.mark.parametrize("name", sorted(WATDIV))
def test_watdiv_shapes(engine, name):
    """The four WatDiv template families (star/linear/snowflake/complex)
    parse, match the hand-built Pattern path, and are non-empty on the
    fixture graph."""
    text = PREFIXES + WATDIV[name]
    q = parse_sparql(text)
    via_sparql = engine.sparql(text)
    via_patterns = engine.query(q.patterns, select=q.select)
    rows = _rows(via_sparql)
    assert rows == _rows(via_patterns)
    assert len(rows) > 0


def test_sparql_semicolon_and_a_keyword(engine):
    """';' predicate-object lists and the 'a' keyword (rdf:type) parse and
    bind like their expanded forms."""
    compact = engine.sparql(
        PREFIXES + "SELECT ?x ?y WHERE { ?x a ub:Course ; ub:name ?y }"
    )
    expanded = engine.query(
        [Pattern("?x", "rdf:type", "ub:Course"), Pattern("?x", "ub:name", "?y")],
        select=["x", "y"],
    )
    assert _rows(compact) == _rows(expanded)


def test_sparql_distinct_order_limit(engine):
    df = engine.sparql(
        PREFIXES
        + "SELECT DISTINCT ?y WHERE { ?x a ub:Course . ?x ub:name ?y } ORDER BY DESC(?y) LIMIT 4"
    )
    rows = [r["y"] for r in df.collect()]
    assert len(rows) == 4 and rows == sorted(rows, reverse=True)


def test_order_by_unprojected_var(engine):
    """SPARQL orders before it projects: ORDER BY a var outside the
    SELECT list sorts the solutions, then drops the key. The rows equal the
    same query with the key selected; under DISTINCT such a key is
    rejected with a ValueError."""
    where = "WHERE { ?x ub:memberOf ?d . ?x ub:name ?n } ORDER BY ?n LIMIT 3"
    got = [r["x"] for r in engine.sparql(PREFIXES + "SELECT ?x " + where).collect()]
    keyed = engine.sparql(PREFIXES + "SELECT ?x ?n " + where).collect()
    assert len(got) == 3 and got == [r["x"] for r in keyed]
    with pytest.raises(ValueError, match="DISTINCT"):
        engine.sparql(PREFIXES + "SELECT DISTINCT ?x " + where)


def test_sparql_optional(engine):
    """OPTIONAL lowers to the engine's left-outer path: students keep rows
    with unbound (null) emails."""
    df = engine.sparql(
        PREFIXES
        + "SELECT ?x ?e WHERE { ?x a ub:UndergraduateStudent OPTIONAL { ?x ub:emailAddress ?e } }"
    )
    rows = df.collect()
    assert rows and all(r["e"] is None for r in rows)


def test_sparql_optional_group_all_or_nothing(engine):
    """A multi-pattern OPTIONAL block matches as a whole or leaves ALL its
    vars unbound (ADVICE r2: flattening let ?c bind while ?z stayed null)."""
    df = engine.sparql(
        PREFIXES
        + "SELECT ?x ?c ?z WHERE { ?x a ub:FullProfessor "
        + "OPTIONAL { ?x ub:teacherOf ?c . ?c ub:noSuchPred ?z } }"
    )
    rows = df.collect()
    assert rows
    # teacherOf alone matches, but the block's second pattern never does:
    # group semantics -> ?c must be unbound too, not just ?z
    assert all(r["c"] is None and r["z"] is None for r in rows)
    # the binding case: a block whose patterns all match binds all its vars
    df2 = engine.sparql(
        PREFIXES
        + "SELECT ?x ?c ?n WHERE { ?x a ub:FullProfessor "
        + "OPTIONAL { ?x ub:teacherOf ?c . ?c ub:name ?n } }"
    )
    assert all(
        (r["c"] is None) == (r["n"] is None) for r in df2.collect()
    )


def test_sparql_separate_optional_blocks_independent(engine):
    """Two OPTIONAL blocks are independent left joins, not one merged group:
    the first binds even though the second cannot."""
    df = engine.sparql(
        PREFIXES
        + "SELECT ?x ?e ?m WHERE { ?x a ub:FullProfessor "
        + "OPTIONAL { ?x ub:emailAddress ?e } OPTIONAL { ?x ub:noSuch ?m } }"
    )
    rows = df.collect()
    assert rows
    assert all(r["e"] is not None for r in rows)  # profs all have emails
    assert all(r["m"] is None for r in rows)


def test_optional_no_shared_vars_preserves_rows(engine):
    """An OPTIONAL block sharing no variable with the core must preserve
    core rows (left join on true), never annihilate them via crossJoin."""
    core = engine.query([Pattern("?x", "rdf:type", "ub:FullProfessor")], decode=False)
    n = core.count()
    res = engine.query(
        [Pattern("?x", "rdf:type", "ub:FullProfessor")],
        optional=[Pattern("?q", "ub:noSuchPred", "?r")],
        decode=False,
    )
    rows = res.collect()
    assert len(rows) == n
    assert all(r["q"] is None and r["r"] is None for r in rows)


def test_sparql_literal_object(engine, tiny_corpus):
    _, gold = tiny_corpus
    some_name = gold.filter(F.col("p_uri") == "ub:name").first()["o_uri"]
    df = engine.sparql(
        PREFIXES + f'SELECT ?x WHERE {{ ?x ub:name "{some_name}" }}'
    )
    assert df.count() >= 1


def test_sparql_rejections():
    for bad in [
        "SELECT ?x WHERE { ?x ?p ?y }",  # variable predicate (DagCreator.java:170)
        "SELECT ?z WHERE { ?x ub:p ?y }",  # unbound select var
        "SELECT ?x WHERE { { ?x ub:p ?y } UNION { ?x ub:q ?y } }",
        "SELECT ?x WHERE { ?x ub:p ?y . FILTER regex ?y }",
        "SELECT ?x",  # no where clause
        "ASK { ?x ub:p ?y }",  # non-SELECT form
    ]:
        with pytest.raises(ValueError):
            parse_sparql(PREFIXES + bad)


def test_iri_compaction_longest_prefix():
    q = parse_sparql(
        "PREFIX a: <http://x/> PREFIX b: <http://x/deep#> "
        "SELECT ?s WHERE { ?s <http://x/deep#p> <http://x/other> }"
    )
    assert q.patterns == [Pattern("?s", "b:p", "a:other")]


def test_object_lists_and_star():
    q = parse_sparql('SELECT * WHERE { ?x <u:p> "A", "B" . }')
    assert q.select is None
    assert q.patterns == [Pattern("?x", "u:p", "A"), Pattern("?x", "u:p", "B")]


def test_var_predicate_opt_in(engine):
    """Rejected by default (reference parity), executable on opt-in via the
    engine's OSP-backed extension."""
    q = PREFIXES + "SELECT ?x ?p WHERE { ?x ?p <ub:Course_0_0_1> }"
    with pytest.raises(ValueError):
        parse_sparql(q)
    res = engine.sparql(q, var_predicates=True)
    assert res.count() > 0 and set(res.columns) == {"x", "p"}


def test_opt_in_names_per_entry_point():
    """parse_sparql / execute_on_triples / apply_update take the allow_*
    spelling, BGPEngine.sparql / explain_sparql the engine spelling (no
    GRAPH or SERVICE); an unknown name raises TypeError naming it."""
    from parj_spark.query.sparql import ALLOW_FLAGS, ENGINE_FLAGS, parse_engine_sparql

    text = "SELECT ?x WHERE { ?x <u:p> ?y }"
    assert set(ENGINE_FLAGS.values()) == set(ALLOW_FLAGS) - {"allow_graph", "allow_service"}
    for name in ALLOW_FLAGS:
        parse_sparql(text, **{name: True})
    for name in ENGINE_FLAGS:
        parse_engine_sparql(text, **{name: True})
    with pytest.raises(TypeError, match="'allow_filters'"):
        parse_sparql(text, allow_filters=True)
    with pytest.raises(TypeError, match="'allow_filter'"):
        parse_engine_sparql(text, allow_filter=True)


def test_select_var_no_solution_binds_is_an_unbound_column(engine, tiny_graph):
    """A SELECT var that no solution binds (the parser rejects one no
    pattern mentions, so the query is built by hand) projects as an
    all-null column, in SELECT order, on the encoded engine's plain-BGP
    path, its shared lowering and the string access alike."""
    from dataclasses import replace

    from parj_spark.query.sparql import TripleAccess

    triples = tiny_graph.decoded_triples().select(
        F.col("s_uri").alias("s"), F.col("p_uri").alias("p"), F.col("o_uri").alias("o")
    )
    cases = [  # (text, the engine's decode settings)
        ("SELECT ?x ?d WHERE { ?x <ub:memberOf> ?d }", (True, False)),  # plain BGP
        ('SELECT ?x ?d WHERE { ?x <ub:memberOf> ?d FILTER(?d != "u:none") }', (True,)),
    ]
    for text, decodes in cases:
        q = replace(parse_sparql(text, allow_filter=True), select=["x", "nope", "d"])
        for decode in decodes:
            null_type = "string" if decode else "bigint"
            got = engine._sparql_query(q, decode=decode)
            assert got.columns == ["x", "nope", "d"], text
            assert dict(got.dtypes)["nope"] == null_type, text
            assert got.filter(F.col("nope").isNotNull()).count() == 0, text
            assert got.count() == 48, text
        got = TripleAccess(triples)._sparql_query(q, decode=True)
        assert got.columns == ["x", "nope", "d"], text
        assert got.filter(F.col("nope").isNotNull()).count() == 0, text
        assert got.count() == 48, text


def test_filter_rejected_by_default():
    with pytest.raises(ValueError, match="allow_filter=True"):
        parse_sparql(
            PREFIXES + 'SELECT ?x WHERE { ?x ub:name ?y . FILTER (?y = "A") }'
        )


def test_filter_parse_precedence():
    from parj_spark.query.sparql import And, Comparison, Not, Or, Regex

    q = parse_sparql(
        PREFIXES
        + """SELECT ?x WHERE { ?x ub:name ?y .
             FILTER (regex(?y, "^A", "i") || ?y >= "U" && !(?y = "Z")) }""",
        allow_filter=True,
    )
    (f,) = q.filters
    # || binds loosest: Or(Regex, And(Comparison, Not(Comparison)))
    assert isinstance(f, Or) and isinstance(f.parts[0], Regex)
    assert f.parts[0].flags == "i"
    and_part = f.parts[1]
    assert isinstance(and_part, And)
    assert isinstance(and_part.parts[0], Comparison) and and_part.parts[0].op == ">="
    assert isinstance(and_part.parts[1], Not)


def test_filter_vars_must_be_bound():
    with pytest.raises(ValueError, match="FILTER vars not bound"):
        parse_sparql(
            PREFIXES + 'SELECT ?x WHERE { ?x ub:name ?y . FILTER (?z = "A") }',
            allow_filter=True,
        )


def test_filter_engine_matches_manual(engine):
    """engine.sparql(filters=True) == the unfiltered query + a hand-built
    Column predicate (same data, two routes)."""
    base = PREFIXES + "SELECT ?x ?y WHERE { ?x rdf:type ub:Course . ?x ub:name ?y . %s}"
    got = engine.sparql(
        base % 'FILTER (regex(?y, "_0$") || ?y = "nope") ', filters=True
    )
    want = engine.sparql(base % "").filter(F.col("y").rlike("_0$") | (F.col("y") == "nope"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_filter_arith_engine_matches_manual(engine):
    """Arithmetic comparison operands run on the permutation-table engine
    path too (decode referenced var -> shared compiler): engine.sparql ==
    the unfiltered query + the hand-built Column expression."""
    base = PREFIXES + "SELECT ?x ?y WHERE { ?x rdf:type ub:Course . ?x ub:name ?y . %s}"
    got = engine.sparql(base % "FILTER (STRLEN(?y) * 2 + 1 >= 33) ", filters=True)
    want = engine.sparql(base % "").filter(F.length(F.col("y")) * 2 + 1 >= 33)
    rows = sorted(map(tuple, got.collect()))
    assert rows == sorted(map(tuple, want.collect()))
    assert rows  # the fixture has names long enough to survive the cut


def test_order_by_expression(spark):
    """ORDER BY ASC(expr)/DESC(expr) accepts full BIND-grammar operands
    (DESC(STRLEN(?n))); bare-var ASC/DESC keeps its legacy lowering."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:n", "ccc"), ("b", "u:n", "z"),
         ("c", "u:n", "bb"), ("d", "u:n", "aaaa")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        "SELECT ?s ?n WHERE { ?s <u:n> ?n } "
        "ORDER BY DESC(STRLEN(?n)) ?s LIMIT 2",
    )
    assert [tuple(r) for r in got.collect()] == [("d", "aaaa"), ("a", "ccc")]
    got = execute_on_triples(
        t, "SELECT ?s WHERE { ?s <u:n> ?n } ORDER BY ASC(STRLEN(?n)) DESC(?s)"
    )
    assert [r["s"] for r in got.collect()] == ["b", "c", "a", "d"]


def test_order_by_bare_function_condition(spark):
    """A bare function call is a valid OrderCondition (ascending), mixable
    with legacy var/ASC/DESC conditions."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:n", "ccc"), ("b", "u:n", "z"),
         ("c", "u:n", "bb"), ("d", "u:n", "aaaa")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t, "SELECT ?s WHERE { ?s <u:n> ?n } ORDER BY STRLEN(?n) ?s"
    )
    assert [r["s"] for r in got.collect()] == ["b", "c", "a", "d"]


def test_order_by_expression_engine(engine):
    """The permutation-table engine path sorts by the same compiled
    expression Columns: engine result == unordered engine result +
    a hand-built orderBy."""
    base = PREFIXES + "SELECT ?x ?y WHERE { ?x rdf:type ub:Course . ?x ub:name ?y }"
    got = engine.sparql(base + " ORDER BY DESC(STRLEN(?y)) ?y ?x")
    want = engine.sparql(base).orderBy(
        F.length(F.col("y")).desc(), F.asc("y"), F.asc("x")
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    assert got.count() > 0


def test_filter_numeric_try_cast(spark):
    """Numeric comparison uses try_cast: non-numeric values error -> false
    (dropped), matching SPARQL's error-is-false FILTER semantics."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("e1", "u:v", "3"), ("e2", "u:v", "10.5"), ("e3", "u:v", "oops")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        "SELECT ?s WHERE { ?s <u:v> ?v . FILTER (?v > 2.5) }",
        allow_filter=True,
    )
    assert sorted(r["s"] for r in got.collect()) == ["e1", "e2"]


def test_filter_bound_negation_with_optional(spark):
    """OPTIONAL + FILTER(!bound(?r)) = negation by failure."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:name", "A"), ("b", "u:name", "B"), ("a", "u:ref", "x")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        """SELECT ?s WHERE { ?s <u:name> ?n .
           OPTIONAL { ?s <u:ref> ?r } FILTER (!bound(?r)) }""",
        allow_filter=True,
    )
    assert [r["s"] for r in got.collect()] == ["b"]


def test_union_rejected_by_default():
    with pytest.raises(ValueError, match="allow_union=True"):
        parse_sparql(
            PREFIXES + "SELECT ?x WHERE { { ?x ub:p ?y } UNION { ?x ub:q ?y } }"
        )


def test_union_requires_equal_varsets():
    with pytest.raises(ValueError, match="same variables"):
        parse_sparql(
            PREFIXES + "SELECT ?x WHERE { { ?x ub:p ?y } UNION { ?x ub:q ?z } }",
            allow_union=True,
        )


def test_union_plain_group_is_bgp():
    q = parse_sparql(
        PREFIXES + "SELECT ?x WHERE { { ?x ub:p ?y . } ?y ub:q ?z }",
        allow_union=True,
    )
    assert len(q.patterns) == 2 and not q.unions


def test_union_engine_matches_two_queries(engine):
    """{A} UNION {B} joined with a core pattern == unionByName of the two
    conjunctive queries (bag semantics)."""
    q = (
        PREFIXES
        + """SELECT ?x ?n WHERE { ?x ub:name ?n .
             { ?x rdf:type ub:FullProfessor } UNION { ?x rdf:type ub:Lecturer } }"""
    )
    got = engine.sparql(q, unions=True)
    a = engine.sparql(
        PREFIXES + "SELECT ?x ?n WHERE { ?x ub:name ?n . ?x rdf:type ub:FullProfessor }"
    )
    b = engine.sparql(
        PREFIXES + "SELECT ?x ?n WHERE { ?x ub:name ?n . ?x rdf:type ub:Lecturer }"
    )
    want = a.unionByName(b)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_union_keeps_duplicates(spark):
    """SPARQL UNION is a bag union: a solution produced by both alternatives
    appears twice."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:p", "v"), ("a", "u:q", "v")], ["s", "p", "o"]
    )
    got = execute_on_triples(
        t,
        "SELECT ?s WHERE { { ?s <u:p> ?v } UNION { ?s <u:q> ?v } }",
        allow_union=True,
    )
    assert [r["s"] for r in got.collect()] == ["a", "a"]


def test_parser_roundtrip_property():
    """Random BGPs serialize -> parse back to the identical pattern list."""
    from hypothesis import given, settings, strategies as st

    var = st.sampled_from(["?a", "?b", "?c", "?d"])
    pname = st.sampled_from(["ub:p1", "ub:p2", "rdf:type", "ex:q"])
    lit = st.text(
        alphabet="abcXYZ019 _-", min_size=0, max_size=8
    ).map(lambda s: f'"{s}"')
    subj = st.one_of(var, pname)
    pred = st.one_of(pname, st.just("a"))
    obj = st.one_of(var, pname, lit)
    triple = st.tuples(subj, pred, obj)
    bgps = st.lists(triple, min_size=1, max_size=6)

    @settings(max_examples=50, deadline=None)
    @given(bgp=bgps)
    def check(bgp):
        text = "SELECT * WHERE { " + " . ".join(f"{s} {p} {o}" for s, p, o in bgp) + " }"
        q = parse_sparql(text)
        want = [
            Pattern(s, "rdf:type" if p == "a" else p, o.strip('"') if o.startswith('"') else o)
            for s, p, o in bgp
        ]
        assert q.patterns == want

    check()


def test_varpred_execute_on_triples(spark):
    """Variable predicates through the string-triples path (opt-in), incl.
    a repeated var acting as an equality constraint."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("n5", "type", "Nation"), ("n5", "name", "E"), ("x", "y", "y")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t, "SELECT ?p ?o WHERE { <u:n5> ?p ?o }".replace("u:n5", "n5"),
        allow_var_predicates=True,
    )
    assert sorted(map(tuple, got.collect())) == [("name", "E"), ("type", "Nation")]
    # repeated var in p and o: only rows where p == o
    same = execute_on_triples(
        t, "SELECT ?s ?v WHERE { ?s ?v ?v }", allow_var_predicates=True
    )
    assert sorted(map(tuple, same.collect())) == [("x", "y")]


def test_ask_rejected_by_default():
    with pytest.raises(ValueError):
        parse_sparql(PREFIXES + "ASK { ?x ub:p ?y }")


def test_ask_true_false_and_engine(spark, engine):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame([("a", "u:p", "b")], ["s", "p", "o"])
    yes = execute_on_triples(t, "ASK { ?x <u:p> ?y }", allow_ask=True).collect()
    no = execute_on_triples(t, "ASK { ?x <u:q> ?y }", allow_ask=True).collect()
    assert [r["ask"] for r in yes] == [True]
    assert [r["ask"] for r in no] == [False]
    # engine path over the materialized graph, encoded (no decode needed)
    got = engine.sparql(
        PREFIXES + "ASK WHERE { ?x rdf:type ub:Course }", ask=True
    ).collect()
    assert [r["ask"] for r in got] == [True]
    got = engine.sparql(
        PREFIXES + "ASK { ?x rdf:type ub:NoSuchClass }", ask=True
    ).collect()
    assert [r["ask"] for r in got] == [False]


def test_minus_rejected_by_default():
    with pytest.raises(ValueError, match="MINUS"):
        parse_sparql(
            PREFIXES + "SELECT ?x WHERE { ?x ub:p ?y . MINUS { ?x ub:q ?z } }"
        )


def test_minus_execute_on_triples(spark):
    """MINUS semantics on the string-triples path: core solutions with a
    compatible block match are removed; a block sharing no variable with
    the core removes nothing (SPARQL disjoint-domain rule)."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [
            ("n1", "type", "Nation"), ("n2", "type", "Nation"),
            ("n3", "type", "Nation"),
            ("n1", "partOf", "r1"), ("n2", "partOf", "r2"),
            ("r1", "name", "ASIA"), ("r2", "name", "EUROPE"),
            ("q9", "other", "z9"),
        ],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        'SELECT ?n WHERE { ?n <type> <Nation> . '
        'MINUS { ?n <partOf> ?r . ?r <name> "ASIA" } }',
        allow_minus=True,
    )
    assert sorted(r["n"] for r in got.collect()) == ["n2", "n3"]
    # disjoint-domain: the block binds only ?a/?b, shares nothing -> no-op
    keep = execute_on_triples(
        t,
        "SELECT ?n WHERE { ?n <type> <Nation> . MINUS { ?a <other> ?b } }",
        allow_minus=True,
    )
    assert sorted(r["n"] for r in keep.collect()) == ["n1", "n2", "n3"]


def test_minus_engine_matches_parity_anti_join(spark, engine, tiny_graph):
    """Engine path: MINUS lowers to a left anti-join on encoded ids and
    matches the hand-built anti-join over the same graph."""
    from pyspark.sql import functions as F

    got = engine.sparql(
        PREFIXES + "SELECT ?x WHERE { ?x rdf:type ub:FullProfessor . "
        "MINUS { ?x ub:teacherOf ?c } }",
        minus=True,
    )
    profs = engine.query(
        [Pattern("?x", "rdf:type", "ub:FullProfessor")], decode=True
    )
    teaches = engine.query([Pattern("?x", "ub:teacherOf", "?c")], decode=True)
    want = profs.join(teaches.select("x").distinct(), "x", "left_anti")
    assert got.count() == want.count()
    assert got.exceptAll(want.select("x")).count() == 0


def test_paths_rejected_by_default():
    with pytest.raises(ValueError, match="[Pp]roperty path"):
        parse_sparql(PREFIXES + "SELECT ?x WHERE { ?x ub:p+ ?y }")


def test_path_closure_execute_on_triples(spark):
    """p+ on the string-triples path: transitive closure of a 4-node chain
    (a->b->c->d) yields all 6 ordered reachable pairs; a bound subject
    restricts to its reachable set; other predicates are not traversed."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "next", "b"), ("b", "next", "c"), ("c", "next", "d"),
         ("a", "other", "z")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t, "SELECT ?x ?y WHERE { ?x <next>+ ?y }", allow_paths=True
    )
    pairs = sorted((r["x"], r["y"]) for r in got.collect())
    assert pairs == [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    ]
    fromb = execute_on_triples(
        t, 'SELECT ?y WHERE { <b> <next>+ ?y }', allow_paths=True
    )
    assert sorted(r["y"] for r in fromb.collect()) == ["c", "d"]


@pytest.mark.parametrize("n", [65, 200])
def test_path_closure_long_chain(spark, spark_jobs, n):
    """p+ over an n-edge chain longer than 64 hops returns all n(n+1)/2
    ordered pairs, and p* anchored at the chain head reaches all n+1
    nodes. The closure doubles the path length it covers each round, so
    the whole p+ query stays under 100 Spark jobs (one hop per round
    would need several jobs per hop)."""
    from parj_spark.query.sparql import execute_on_triples

    node = [f"v{i:03d}" for i in range(n + 1)]
    t = spark.createDataFrame(
        [(node[i], "next", node[i + 1]) for i in range(n)], ["s", "p", "o"]
    )
    with spark_jobs() as ids:
        got = execute_on_triples(
            t, "SELECT ?x ?y WHERE { ?x <next>+ ?y }", allow_paths=True
        )
        pairs = [(r["x"], r["y"]) for r in got.collect()]
        jobs = len(ids())
    assert len(pairs) == n * (n + 1) // 2
    assert set(pairs) == {
        (node[i], node[j]) for i in range(n + 1) for j in range(i + 1, n + 1)
    }
    assert jobs < 100
    star = execute_on_triples(
        t, "SELECT ?y WHERE { <v000> <next>* ?y }", allow_paths=True
    )
    assert sorted(r["y"] for r in star.collect()) == node


def test_path_closure_engine(spark, engine, tiny_graph):
    """Engine path over encoded permutation tables: subOrganizationOf+ from
    a research group reaches its department AND (2 hops) its university —
    strictly more than the base predicate's direct pairs."""
    direct = engine.query(
        [Pattern("?x", "ub:subOrganizationOf", "?y")], decode=False
    ).count()
    closed = engine.sparql(
        PREFIXES + "SELECT ?x ?y WHERE { ?x ub:subOrganizationOf+ ?y }",
        decode=False, paths=True,
    )
    n_closed = closed.count()
    assert n_closed > direct  # 2-hop group->department->university pairs
    # the closure joins with ordinary patterns: universities reachable from
    # research groups must actually be typed University
    via = engine.sparql(
        PREFIXES + "SELECT ?g ?u WHERE { ?g ub:subOrganizationOf+ ?u . "
        "?u rdf:type ub:University }",
        paths=True,
    )
    assert via.count() > 0


def test_exists_and_offset_execute_on_triples(spark):
    """FILTER [NOT] EXISTS lowers to semi/anti joins on the shared vars;
    a no-shared-variable block gates globally; OFFSET skips rows after
    ORDER BY and before LIMIT."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [
            ("n1", "type", "N"), ("n2", "type", "N"), ("n3", "type", "N"),
            ("n1", "flag", "y"),
            ("g1", "global", "on"),
        ],
        ["s", "p", "o"],
    )
    has = execute_on_triples(
        t, "SELECT ?n WHERE { ?n <type> <N> . FILTER EXISTS { ?n <flag> ?f } }",
        allow_filter=True,
    )
    assert sorted(r["n"] for r in has.collect()) == ["n1"]
    hasnt = execute_on_triples(
        t,
        "SELECT ?n WHERE { ?n <type> <N> . FILTER NOT EXISTS { ?n <flag> ?f } }",
        allow_filter=True,
    )
    assert sorted(r["n"] for r in hasnt.collect()) == ["n2", "n3"]
    # global gate: the block shares no var; it has a solution -> NOT EXISTS
    # drops everything, EXISTS keeps everything
    kept = execute_on_triples(
        t, "SELECT ?n WHERE { ?n <type> <N> . FILTER EXISTS { ?a <global> ?b } }",
        allow_filter=True,
    )
    assert kept.count() == 3
    dropped = execute_on_triples(
        t,
        "SELECT ?n WHERE { ?n <type> <N> . FILTER NOT EXISTS { ?a <global> ?b } }",
        allow_filter=True,
    )
    assert dropped.count() == 0
    # OFFSET: rejected at parity, honored with the flag
    with pytest.raises(ValueError, match="OFFSET"):
        execute_on_triples(
            t, "SELECT ?n WHERE { ?n <type> <N> } ORDER BY ?n LIMIT 2 OFFSET 1"
        )
    page = execute_on_triples(
        t,
        "SELECT ?n WHERE { ?n <type> <N> } ORDER BY ?n LIMIT 2 OFFSET 1",
        allow_offset=True,
    )
    assert [r["n"] for r in page.collect()] == ["n2", "n3"]


def test_exists_engine_matches_semi_join(spark, engine):
    """Engine path: FILTER EXISTS equals the hand-built semi-join on
    encoded ids (professors who teach at least one course)."""
    got = engine.sparql(
        PREFIXES + "SELECT ?x WHERE { ?x rdf:type ub:FullProfessor . "
        "FILTER EXISTS { ?x ub:teacherOf ?c } }",
        filters=True,
    )
    profs = engine.query([Pattern("?x", "rdf:type", "ub:FullProfessor")])
    teaches = engine.query([Pattern("?x", "ub:teacherOf", "?c")])
    want = profs.join(teaches.select("x").distinct(), "x", "left_semi")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_composite_paths_rejected_by_default():
    for q in (
        "SELECT ?x ?y WHERE { ?x ub:a/ub:b ?y }",
        "SELECT ?x ?y WHERE { ?x ub:a|ub:b ?y }",
        "SELECT ?x ?y WHERE { ?x ^ub:a ?y }",
        "SELECT ?x ?y WHERE { ?x ub:a* ?y }",
        "SELECT ?x ?y WHERE { ?x ub:a? ?y }",
    ):
        with pytest.raises(ValueError, match="[Pp]roperty path"):
            parse_sparql(PREFIXES + q)


def test_composite_paths_execute_on_triples(spark):
    """Sequence, alternation, inverse and the zero-length forms on the
    string-triples path, with exact expected pair sets over a 4-node chain
    a->b->c->d plus a side edge a-alt->x."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "next", "b"), ("b", "next", "c"), ("c", "next", "d"),
         ("a", "alt", "x")],
        ["s", "p", "o"],
    )

    def rows(q):
        return sorted(tuple(r) for r in execute_on_triples(
            t, q, allow_paths=True).collect())

    assert rows("SELECT ?x ?y WHERE { ?x <next>/<next> ?y }") == [
        ("a", "c"), ("b", "d")]
    assert rows("SELECT ?x ?y WHERE { ?x <next>|<alt> ?y }") == [
        ("a", "b"), ("a", "x"), ("b", "c"), ("c", "d")]
    # x ^next y  ==  y next x
    assert rows("SELECT ?x ?y WHERE { ?x ^<next> ?y }") == [
        ("b", "a"), ("c", "b"), ("d", "c")]
    # star from a constant: zero-length (b itself) + the reachable set
    assert rows('SELECT ?y WHERE { <b> <next>* ?y }') == [("b",), ("c",), ("d",)]
    # zero-or-one from a constant
    assert rows('SELECT ?y WHERE { <b> <next>? ?y }') == [("b",), ("c",)]
    # grouping + closure over a composite step: (next/next)+ from a gives
    # the even-distance nodes only
    assert rows('SELECT ?y WHERE { <a> (<next>/<next>)+ ?y }') == [("c",)]
    # inverse of a modified path: ^(next+) == everything that reaches me
    assert rows('SELECT ?y WHERE { <d> ^(<next>+) ?y }') == [
        ("a",), ("b",), ("c",)]


def test_composite_paths_engine(engine):
    """Engine path over encoded ids: seq equals the manual 2-pattern join,
    inverse equals the flipped pattern, star is closure + identity."""
    seq = engine.sparql(
        PREFIXES + "SELECT ?x ?u WHERE { ?x ub:memberOf/ub:subOrganizationOf ?u }",
        paths=True,
    )
    manual = engine.query(
        [Pattern("?x", "ub:memberOf", "?d"),
         Pattern("?d", "ub:subOrganizationOf", "?u")],
        select=["x", "u"],
    )
    assert sorted(map(tuple, seq.collect())) == sorted(map(tuple, manual.collect()))
    assert seq.count() > 0

    inv = engine.sparql(
        PREFIXES + "SELECT ?d ?x WHERE { ?d ^ub:memberOf ?x }", paths=True
    )
    fwd = engine.query([Pattern("?x", "ub:memberOf", "?d")], select=["d", "x"])
    assert sorted(map(tuple, inv.collect())) == sorted(map(tuple, fwd.collect()))

    # alternation: bag union of the two edge sets
    alt = engine.sparql(
        PREFIXES + "SELECT ?a ?b WHERE { ?a ub:memberOf|ub:worksFor ?b }",
        paths=True, decode=False,
    )
    n_member = engine.count([Pattern("?a", "ub:memberOf", "?b")])
    n_works = engine.count([Pattern("?a", "ub:worksFor", "?b")])
    assert alt.count() == n_member + n_works

    # star from a bound subject includes the zero-length pair (itself)
    star = engine.sparql(
        PREFIXES
        + "SELECT ?y WHERE { <ub:Department_0_0> ub:subOrganizationOf* ?y }",
        paths=True,
    )
    got = {r["y"] for r in star.collect()}
    assert "ub:Department_0_0" in got  # zero-length
    assert "ub:University_0" in got  # one hop


def test_aggregates_rejected_by_default():
    with pytest.raises(ValueError, match="aggregate"):
        parse_sparql(PREFIXES + "SELECT (COUNT(*) AS ?n) WHERE { ?x ub:name ?y }")
    with pytest.raises(ValueError, match="GROUP BY"):
        parse_sparql(
            PREFIXES + "SELECT ?x WHERE { ?x ub:name ?y } GROUP BY ?x"
        )


def test_aggregates_parse_validation():
    base = "SELECT ?x (COUNT(*) AS ?n) WHERE { ?x ub:name ?y } "
    # plain select var must be a grouping key
    with pytest.raises(ValueError, match="GROUP BY"):
        parse_sparql(PREFIXES + base, allow_aggregates=True)
    # DISTINCT only inside COUNT
    with pytest.raises(ValueError, match="DISTINCT"):
        parse_sparql(
            PREFIXES + "SELECT (SUM(DISTINCT ?y) AS ?t) WHERE { ?x ub:p ?y }",
            allow_aggregates=True,
        )
    # HAVING may only see aliases / group keys
    with pytest.raises(ValueError, match="HAVING"):
        parse_sparql(
            PREFIXES + "SELECT (COUNT(*) AS ?n) WHERE { ?x ub:name ?y } "
            "HAVING(?y > 1)",
            allow_aggregates=True,
        )


def test_aggregates_execute_on_triples(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "size", "3"), ("b", "size", "5"), ("a", "size", "4"),
         ("a", "tag", "x"), ("b", "tag", "x"), ("b", "tag", "x")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        "SELECT ?s (COUNT(*) AS ?n) (SUM(?v) AS ?t) (MAX(?v) AS ?hi) "
        "WHERE { ?s <size> ?v } GROUP BY ?s ORDER BY ?s",
        allow_aggregates=True,
    )
    assert [tuple(r) for r in got.collect()] == [
        ("a", 2, 7.0, "4"), ("b", 1, 5.0, "5")]
    # COUNT(DISTINCT) + HAVING + global (no GROUP BY) aggregation
    dedup = execute_on_triples(
        t,
        "SELECT ?s (COUNT(DISTINCT ?v) AS ?d) WHERE { ?s <tag> ?v } "
        "GROUP BY ?s HAVING(?d >= 1) ORDER BY ?s",
        allow_aggregates=True,
    )
    assert [tuple(r) for r in dedup.collect()] == [("a", 1), ("b", 1)]
    total = execute_on_triples(
        t, "SELECT (COUNT(*) AS ?n) (AVG(?v) AS ?m) WHERE { ?s <size> ?v }",
        allow_aggregates=True,
    )
    assert [tuple(r) for r in total.collect()] == [(3, 4.0)]


def test_aggregates_engine_matches_groupby(engine):
    """Engine path: GROUP BY + COUNT over decoded terms equals the manual
    groupBy on the equivalent query() result."""
    got = engine.sparql(
        PREFIXES + "SELECT ?d (COUNT(*) AS ?n) WHERE "
        "{ ?x ub:memberOf ?d } GROUP BY ?d ORDER BY ?d",
        aggregates=True,
    )
    manual = (
        engine.query([Pattern("?x", "ub:memberOf", "?d")])
        .groupBy("d").agg(F.count(F.lit(1)).alias("n")).orderBy("d")
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in manual.collect()]
    assert got.count() > 0


def test_values_rejected_by_default():
    with pytest.raises(ValueError, match="VALUES"):
        parse_sparql(
            PREFIXES + "SELECT ?x WHERE { ?x ub:name ?y . VALUES ?x { ub:a } }"
        )


def test_values_execute_on_triples(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "name", "A"), ("b", "name", "B"), ("c", "name", "C")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        'SELECT ?s ?nm WHERE { ?s <name> ?nm . VALUES ?s { <a> <c> <zz> } }',
        allow_values=True,
    )
    assert sorted(map(tuple, got.collect())) == [("a", "A"), ("c", "C")]
    # multi-var form constrains tuples, not columns independently
    got2 = execute_on_triples(
        t,
        'SELECT ?s ?nm WHERE { ?s <name> ?nm . '
        'VALUES (?s ?nm) { (<a> "A") (<b> "WRONG") } }',
        allow_values=True,
    )
    assert sorted(map(tuple, got2.collect())) == [("a", "A")]


def test_values_engine_resolves_ids(engine):
    """Engine path: VALUES terms resolve through the dictionary to encoded
    ids (absent terms bind nothing) and the join prunes before decode."""
    got = engine.sparql(
        PREFIXES + "SELECT ?x ?y WHERE { ?x ub:name ?y . "
        "VALUES ?x { <ub:Course_0_0_0> <ub:NoSuchEntity> } }",
        values=True,
    )
    rows = sorted(map(tuple, got.collect()))
    assert len(rows) == 1 and rows[0][0] == "ub:Course_0_0_0"


def test_construct_rejected_by_default():
    with pytest.raises(ValueError, match="CONSTRUCT"):
        parse_sparql(
            PREFIXES + "CONSTRUCT { ?x ub:p ?y } WHERE { ?x ub:name ?y }"
        )


def test_construct_execute_on_triples(spark):
    """CONSTRUCT instantiates every template triple per solution and
    returns a distinct (s, p, o) graph."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("n1", "partOf", "r1"), ("n2", "partOf", "r1"), ("n2", "partOf", "r1")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        "CONSTRUCT { ?r <hasNation> ?n . ?n <inRegion> ?r } "
        "WHERE { ?n <partOf> ?r }",
        allow_construct=True,
    )
    assert got.columns == ["s", "p", "o"]
    assert sorted(map(tuple, got.collect())) == [
        ("n1", "inRegion", "r1"), ("n2", "inRegion", "r1"),
        ("r1", "hasNation", "n1"), ("r1", "hasNation", "n2"),
    ]  # duplicate source triple deduplicated: a graph is a set


def test_construct_engine(engine):
    """Engine path: the constructed graph equals the instantiation of the
    decoded solution set."""
    got = engine.sparql(
        PREFIXES + "CONSTRUCT { ?c ub:taughtBy ?p } "
        "WHERE { ?p ub:teacherOf ?c }",
        construct=True,
    )
    base = engine.query([Pattern("?p", "ub:teacherOf", "?c")])
    assert got.columns == ["s", "p", "o"]
    assert got.count() == base.select("c", "p").distinct().count() > 0
    one = got.first()
    assert one["p"] == "ub:taughtBy"


def test_construct_skips_incomplete_instantiations(spark):
    """A template triple with an unbound (OPTIONAL) var is left out of the
    constructed graph (SPARQL 1.1 §16.2), not emitted with a null term."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("ub:a", "rdf:type", "ub:C"), ("ub:b", "rdf:type", "ub:C"), ("ub:a", "ub:q", "ub:v")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        PREFIXES + "CONSTRUCT { ?s ub:r ?o } "
        "WHERE { ?s rdf:type ub:C . OPTIONAL { ?s ub:q ?o } }",
        allow_construct=True,
    )
    assert _rows(got) == [("ub:a", "ub:r", "ub:v")]


def test_construct_engine_skips_incomplete_instantiations(engine):
    """Engine path: undergraduates have no email, so the email template
    instantiates nothing while the complete template gives one triple per
    student."""
    got = engine.sparql(
        PREFIXES + "CONSTRUCT { ?x ub:mail ?e . ?x ub:kind ub:Student } "
        "WHERE { ?x a ub:UndergraduateStudent OPTIONAL { ?x ub:emailAddress ?e } }",
        construct=True,
    )
    rows = _rows(got)
    students = engine.query([Pattern("?x", "rdf:type", "ub:UndergraduateStudent")])
    assert rows and len(rows) == students.count()
    assert {p for _, p, _ in rows} == {"ub:kind"}
    assert all(None not in r for r in rows)


def test_bind_rejected_by_default():
    with pytest.raises(ValueError, match="BIND"):
        parse_sparql(
            PREFIXES + "SELECT ?y WHERE { ?x ub:name ?n . BIND(?n AS ?y) }"
        )


def test_bind_execute_on_triples(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "size", "3"), ("b", "size", "5"), ("c", "size", "oops")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        "SELECT ?s ?d WHERE { ?s <size> ?v . BIND(?v * 2 - 1 AS ?d) }",
        allow_bind=True,
    )
    rows = dict((r["s"], r["d"]) for r in got.collect())
    # non-numeric input -> null (SPARQL evaluation error), row kept by BIND
    assert rows == {"a": 5.0, "b": 9.0, "c": None}
    # CONCAT + chained binds + FILTER over a bound column
    got2 = execute_on_triples(
        t,
        'SELECT ?s ?tag WHERE { ?s <size> ?v . BIND(CONCAT("sz:", ?v) AS ?t0) '
        '. BIND(CONCAT(?t0, "!") AS ?tag) . FILTER(?tag != "sz:3!") }',
        allow_bind=True, allow_filter=True,
    )
    assert sorted(map(tuple, got2.collect())) == [
        ("b", "sz:5!"), ("c", "sz:oops!")]


def test_bind_engine(engine):
    """Engine path: BIND computes on decoded term strings after the
    encoded joins."""
    got = engine.sparql(
        PREFIXES + 'SELECT ?x ?tag WHERE { ?x rdf:type ub:Course . '
        'BIND(CONCAT("course/", ?x) AS ?tag) }',
        bind=True,
    )
    rows = list(got.collect())
    assert len(rows) > 0
    assert all(r["tag"] == "course/" + r["x"] for r in rows)


def test_negated_property_set_execute_on_triples(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "p1", "b"), ("a", "p2", "c"), ("a", "p3", "d")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t, "SELECT ?x ?y WHERE { ?x !<p1> ?y }", allow_paths=True
    )
    assert sorted(map(tuple, got.collect())) == [("a", "c"), ("a", "d")]
    got2 = execute_on_triples(
        t, "SELECT ?x ?y WHERE { ?x !(<p1>|<p2>) ?y }", allow_paths=True
    )
    assert sorted(map(tuple, got2.collect())) == [("a", "d")]
    with pytest.raises(ValueError, match="inverse members"):
        parse_sparql(
            "SELECT ?x ?y WHERE { ?x !(^<p1>) ?y }", allow_paths=True
        )
    with pytest.raises(ValueError, match="[Pp]roperty path"):
        parse_sparql("SELECT ?x ?y WHERE { ?x !<p1> ?y }")


def test_negated_property_set_engine(engine):
    """Engine path: !(rdf:type) matches every non-type edge — exactly the
    total minus the type partition (partition pruning drops it)."""
    got = engine.sparql(
        PREFIXES + "SELECT ?x ?y WHERE { ?x !(rdf:type) ?y }",
        paths=True, decode=False,
    ).count()
    total = engine.store.spo().count()
    n_type = engine.count([Pattern("?x", "rdf:type", "?y")])
    assert got == total - n_type > 0


def test_bound_star_skips_node_domain(engine, monkeypatch):
    """A star/opt path with a constant endpoint must NOT build the
    whole-graph node-domain relation — its zero-length contribution is the
    single (c, c) pair, gated by a lazy membership probe."""
    import parj_spark.query.bgp as bgp_mod

    def _boom(self):
        raise AssertionError("node-domain relation built for a bound path")

    monkeypatch.setattr(bgp_mod.BGPEngine, "_nodes_rel", _boom)
    got = engine.sparql(
        PREFIXES
        + "SELECT ?y WHERE { <ub:Department_0_0> ub:subOrganizationOf* ?y }",
        paths=True,
    )
    vals = {r["y"] for r in got.collect()}
    assert "ub:Department_0_0" in vals and "ub:University_0" in vals
    # a constant absent from the graph: no zero-length pair, empty result
    none = engine.sparql(
        PREFIXES + "SELECT ?y WHERE { <ub:NoSuchThing> ub:subOrganizationOf* ?y }",
        paths=True,
    )
    assert none.count() == 0


def test_subquery_rejected_by_default():
    with pytest.raises(ValueError, match="[Ss]ubquer"):
        parse_sparql(
            PREFIXES + "SELECT ?d WHERE { { SELECT ?d WHERE { ?x ub:memberOf ?d } } }"
        )


def test_subquery_execute_on_triples(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("d1", "label", "L1"), ("d2", "label", "L2"),
         ("x1", "memberOf", "d1"), ("x2", "memberOf", "d1"),
         ("x3", "memberOf", "d2")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        "SELECT ?lbl ?n WHERE { ?d <label> ?lbl . "
        "{ SELECT ?d (COUNT(*) AS ?n) WHERE { ?x <memberOf> ?d } GROUP BY ?d } }",
        allow_subquery=True, allow_aggregates=True,
    )
    assert sorted(map(tuple, got.collect())) == [("L1", 2), ("L2", 1)]
    # inner LIMIT applies before the outer join (bottom-up evaluation)
    got2 = execute_on_triples(
        t,
        "SELECT ?d ?lbl WHERE { ?d <label> ?lbl . "
        "{ SELECT ?d WHERE { ?x <memberOf> ?d } ORDER BY ?d LIMIT 2 } }",
        allow_subquery=True, allow_offset=True,
    )
    assert sorted(map(tuple, got2.collect())) == [("d1", "L1"), ("d1", "L1")]


def test_subquery_engine_matches_manual(engine):
    """Engine path: a grouped-count subquery joined with the outer name
    pattern equals the manual groupBy + join."""
    got = engine.sparql(
        PREFIXES + "SELECT ?d ?n WHERE { ?d ub:subOrganizationOf ?u . "
        "{ SELECT ?d (COUNT(*) AS ?n) WHERE { ?x ub:memberOf ?d } GROUP BY ?d } }",
        subquery=True, aggregates=True,
    )
    members = engine.query([Pattern("?x", "ub:memberOf", "?d")])
    outer = engine.query(
        [Pattern("?d", "ub:subOrganizationOf", "?u")]
    ).select("d")
    manual = (
        members.groupBy("d").agg(F.count(F.lit(1)).alias("n")).join(outer, "d")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, manual.collect()))
    assert got.count() > 0


def test_group_concat_and_sample(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("g1", "p", "b"), ("g1", "p", "a"), ("g1", "p", "b"), ("g2", "p", "z")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        'SELECT ?s (GROUP_CONCAT(?v) AS ?all) '
        '(GROUP_CONCAT(DISTINCT ?v; SEPARATOR = ",") AS ?ds) '
        "(SAMPLE(?v) AS ?one) WHERE { ?s <p> ?v } GROUP BY ?s ORDER BY ?s",
        allow_aggregates=True,
    )
    # collected values sorted before joining; SAMPLE = deterministic min
    assert [tuple(r) for r in got.collect()] == [
        ("g1", "a b b", "a,b", "a"), ("g2", "z", "z", "z")]


def test_filter_builtin_str_functions(spark):
    """STRSTARTS/STRENDS/CONTAINS/STRLEN/UCASE/LCASE compile to native
    Column string ops; STRLEN comparisons are numeric without a cast."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:n", "Alpha"), ("b", "u:n", "beta"), ("c", "u:n", "Gamma")],
        ["s", "p", "o"],
    )
    base = "SELECT ?s WHERE { ?s <u:n> ?v . FILTER (%s) }"

    def run(cond):
        got = execute_on_triples(t, base % cond, allow_filter=True)
        return sorted(r["s"] for r in got.collect())

    assert run('STRSTARTS(?v, "G")') == ["c"]
    assert run('STRENDS(?v, "a")') == ["a", "b", "c"]
    assert run('CONTAINS(?v, "et")') == ["b"]
    assert run("STRLEN(?v) >= 5") == ["a", "c"]
    assert run('UCASE(?v) = "BETA"') == ["b"]
    assert run('LCASE(?v) = "alpha"') == ["a"]
    assert run('STRSTARTS(UCASE(?v), "B")') == ["b"]


def test_filter_sameterm(spark):
    """sameTerm(a, b) lowers onto the = comparison (terms ARE their
    lexical forms on this model), composing with ! and constants."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:p", "x"), ("a", "u:q", "x"), ("b", "u:p", "x"),
         ("b", "u:q", "y")],
        ["s", "p", "o"],
    )
    base = "SELECT ?s WHERE { ?s <u:p> ?v . ?s <u:q> ?w . FILTER(%s) }"

    def run(cond):
        got = execute_on_triples(t, base % cond, allow_filter=True)
        return sorted(r["s"] for r in got.collect())

    assert run("sameTerm(?v, ?w)") == ["a"]
    assert run("!sameTerm(?v, ?w)") == ["b"]
    assert run('sameTerm(?w, "y")') == ["b"]


def test_sameterm_is_identity_not_value(spark):
    """sameTerm(?v, 3) matches the term "3" only — numeric literal
    arguments keep their written lexical form, where `= 3` value-matches
    "3.0" and "03" too (term identity vs value equality)."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:v", "3"), ("b", "u:v", "3.0"), ("c", "u:v", "03")],
        ["s", "p", "o"],
    )
    base = "SELECT ?s WHERE { ?s <u:v> ?v . FILTER(%s) }"

    def run(cond):
        got = execute_on_triples(t, base % cond, allow_filter=True)
        return sorted(r["s"] for r in got.collect())

    assert run("sameTerm(?v, 3)") == ["a"]
    assert run("sameTerm(?v, 3.0)") == ["b"]
    assert run("?v = 3") == ["a", "b", "c"]  # value equality, for contrast


def test_filter_string_compare_over_numeric_bind(spark):
    """Comparing a numeric-typed BIND output against a non-numeric
    literal string-renders the column (ANSI would otherwise throw
    CAST_INVALID_INPUT on the implicit plain cast); regex likewise
    matches the string rendering."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:v", "abcd"), ("b", "u:v", "xy")], ["s", "p", "o"]
    )
    got = execute_on_triples(
        t,
        "SELECT ?s WHERE { ?s <u:v> ?v . BIND(ABS(STRLEN(?v) / 2) AS ?u) "
        'FILTER(?u != "t:nope") }',
        allow_filter=True, allow_bind=True,
    )
    assert sorted(r["s"] for r in got.collect()) == ["a", "b"]
    got = execute_on_triples(
        t,
        "SELECT ?s WHERE { ?s <u:v> ?v . BIND(STRLEN(?v) AS ?u) "
        'FILTER(regex(?u, "^4$")) }',
        allow_filter=True, allow_bind=True,
    )
    assert sorted(r["s"] for r in got.collect()) == ["a"]


def test_filter_coalesce_numeric_comparison(spark):
    """A numeric literal nested in COALESCE/IF makes the comparison
    numeric: COALESCE(?m, 0) > ?v compares values, not strings, and the
    unbound branch takes the fallback."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:v", "100"), ("a", "u:m", "5"),
         ("b", "u:v", "20")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        "SELECT ?s WHERE { ?s <u:v> ?v . OPTIONAL { ?s <u:m> ?m . } "
        "FILTER(COALESCE(?m, 0) < ?v) }",
        allow_filter=True,
    )
    # a: 5 < 100 (numeric; "5" < "100" would be FALSE lexicographically);
    # b: unbound ?m -> fallback 0 < 20
    assert sorted(r["s"] for r in got.collect()) == ["a", "b"]


def test_filter_isnumeric(spark):
    """isNumeric(?x) is true exactly when the numeric paths can use the
    term (try_cast double succeeds) — spec §17.4.2.4 on the string-term
    model; unbound arg errors -> false."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:v", "3"), ("b", "u:v", "-2.5"), ("c", "u:v", "urn:x"),
         ("d", "u:v", "4e2")],
        ["s", "p", "o"],
    )
    base = "SELECT ?s WHERE { ?s <u:v> ?v . %s }"

    def run(body):
        got = execute_on_triples(t, base % body, allow_filter=True)
        return sorted(r["s"] for r in got.collect())

    assert run("FILTER(isNumeric(?v))") == ["a", "b", "d"]
    assert run("FILTER(!isNumeric(?v))") == ["c"]
    assert run(
        "OPTIONAL { ?s <u:none> ?m . } FILTER(!isNumeric(?m))"
    ) == []  # unbound -> error -> false even under negation
    assert run(
        "OPTIONAL { ?s <u:none> ?m . } FILTER(!isBlank(?m))"
    ) == []  # same error rule for isBlank's constant-false


def test_filter_numeric_functions(spark):
    """ABS/CEIL/FLOOR/ROUND compile to native numeric Column ops over
    try_cast doubles; ROUND is spec-exact fn:round (half rounds toward
    POSITIVE infinity: ROUND(-2.5) = -2, not HALF_UP's -3); a non-numeric
    term errors -> null -> the FILTER drops the row."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:v", "-2.5"), ("b", "u:v", "2.5"), ("c", "u:v", "3.2"),
         ("d", "u:v", "-3.2"), ("e", "u:v", "urn:notnum")],
        ["s", "p", "o"],
    )
    base = "SELECT ?s WHERE { ?s <u:v> ?v . FILTER (%s) }"

    def run(cond):
        got = execute_on_triples(t, base % cond, allow_filter=True)
        return sorted(r["s"] for r in got.collect())

    assert run("ABS(?v) > 3") == ["c", "d"]          # e drops: error-is-false
    assert run("CEIL(?v) = 3") == ["b"]              # ceil(2.5)=3, ceil(3.2)=4
    assert run("FLOOR(?v) = -3") == ["a"]            # floor(-2.5)=-3
    assert run("ROUND(?v) = -2") == ["a"]            # spec: half toward +inf
    assert run("ROUND(?v) = 3") == ["b", "c"]        # round(2.5)=3, round(3.2)=3
    assert run("ROUND(?v) = -3") == ["d"]            # round(-3.2)=-3
    assert run("ABS(FLOOR(?v)) = 3") == ["a", "c"]   # compose: |floor(±x)|
    assert run("CEIL(STRLEN(?v)) >= 10") == ["e"]    # numeric over STRLEN


def test_filter_hash_functions(spark):
    """SPARQL 1.1 MD5/SHA256 builtins: lowercase hex digests over the
    UTF-8 term bytes (F.md5/F.sha2 — the same values DuckDB's
    md5()/sha256() yield), composable like any unary operand."""
    import hashlib

    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:n", "abc"), ("b", "u:n", "xyz")], ["s", "p", "o"]
    )
    md5_abc = hashlib.md5(b"abc").hexdigest()
    sha_xyz = hashlib.sha256(b"xyz").hexdigest()
    base = "SELECT ?s WHERE { ?s <u:n> ?v . FILTER (%s) }"

    def run(cond):
        got = execute_on_triples(t, base % cond, allow_filter=True)
        return sorted(r["s"] for r in got.collect())

    assert run(f'MD5(?v) = "{md5_abc}"') == ["a"]
    assert run(f'SHA256(?v) = "{sha_xyz}"') == ["b"]
    assert run(f'UCASE(MD5(?v)) = "{md5_abc.upper()}"') == ["a"]
    assert run("STRLEN(SHA256(?v)) = 64") == ["a", "b"]


def test_filter_datetime_accessors(spark):
    """YEAR/MONTH/DAY/HOURS/MINUTES/SECONDS parse the term as a timestamp
    (try_cast — non-timestamp terms error -> null -> row dropped) and
    yield numeric columns; SECONDS is the integer second (documented
    deviation from the spec's fractional xs:decimal)."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:at", "2024-03-05 07:40:09.5"),
         ("b", "u:at", "2023-12-31T23:59:58"),
         ("e", "u:at", "not-a-time")],
        ["s", "p", "o"],
    )
    base = "SELECT ?s WHERE { ?s <u:at> ?v . FILTER (%s) }"

    def run(cond):
        got = execute_on_triples(t, base % cond, allow_filter=True)
        return sorted(r["s"] for r in got.collect())

    assert run("YEAR(?v) = 2024") == ["a"]
    assert run("MONTH(?v) = 12") == ["b"]
    assert run("DAY(?v) >= 5") == ["a", "b"]
    assert run("HOURS(?v) = 23") == ["b"]
    assert run("MINUTES(?v) = 40") == ["a"]
    assert run("SECONDS(?v) = 9") == ["a"]      # integer second of 09.5
    assert run("YEAR(?v) > 0") == ["a", "b"]    # e: error-is-false
    assert run("YEAR(?v) - MONTH(?v) = 2021") == ["a"]  # arithmetic composes


def test_filter_arithmetic_operands(spark):
    """Comparison operands reuse the BIND grammar: arithmetic (and
    function compositions over it) on either side, try_cast-double
    semantics, error-is-false on non-numeric terms. IN still requires a
    plain term operand (parse-rejected otherwise)."""
    import pytest

    from parj_spark.query.sparql import execute_on_triples, parse_sparql

    t = spark.createDataFrame(
        [("a", "u:v", "2"), ("b", "u:v", "5"), ("c", "u:v", "7"),
         ("e", "u:v", "x")],
        ["s", "p", "o"],
    )
    base = "SELECT ?s WHERE { ?s <u:v> ?v . FILTER (%s) }"

    def run(cond):
        got = execute_on_triples(t, base % cond, allow_filter=True)
        return sorted(r["s"] for r in got.collect())

    assert run("?v * 2 + 1 > 10") == ["b", "c"]
    assert run("?v - 1 = 4") == ["b"]
    assert run("10 / ?v < 2") == ["c"]
    assert run("ABS(?v) + 1 >= 8") == ["c"]
    assert run("?v + 0 > 0") == ["a", "b", "c"]  # e: error-is-false
    with pytest.raises(ValueError, match="plain term"):
        parse_sparql(base % '?v + 1 IN ("2")', allow_filter=True)


def test_filter_arithmetic_two_vars(spark):
    """Arithmetic over two join-bound vars evaluates after the BGP join —
    both execution paths (naive relation and permutation engine) agree via
    the shared compiler; here the naive path pins the values."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:x", "2"), ("a", "u:y", "3"),
         ("b", "u:x", "5"), ("b", "u:y", "4")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        "SELECT ?s WHERE { ?s <u:x> ?x . ?s <u:y> ?y . FILTER(?x + ?y = 9) }",
        allow_filter=True,
    )
    assert sorted(r["s"] for r in got.collect()) == ["b"]


def test_bind_numeric_functions(spark):
    """The same numeric builtins work as BIND operands (shared compiler),
    composing with arithmetic; a non-numeric term binds null (unbound)."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:v", "-2.5"), ("b", "u:v", "9.9"), ("e", "u:v", "x")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        "SELECT ?s ?r WHERE { ?s <u:v> ?v . BIND(ROUND(?v) + 1 AS ?r) }",
        allow_filter=True, allow_bind=True,
    )
    assert sorted((r["s"], r["r"]) for r in got.collect()) == [
        ("a", -1.0), ("b", 11.0), ("e", None),
    ]


def test_filter_in_not_in(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:n", "x"), ("b", "u:n", "y"), ("c", "u:n", "z")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        'SELECT ?s WHERE { ?s <u:n> ?v . FILTER (?v IN ("x", "z")) }',
        allow_filter=True,
    )
    assert sorted(r["s"] for r in got.collect()) == ["a", "c"]
    got = execute_on_triples(
        t,
        'SELECT ?s WHERE { ?s <u:n> ?v . FILTER (?v NOT IN ("x", "z")) }',
        allow_filter=True,
    )
    assert sorted(r["s"] for r in got.collect()) == ["b"]


def test_filter_builtins_engine_matches_manual(engine):
    base = PREFIXES + "SELECT ?x ?y WHERE { ?x rdf:type ub:Course . ?x ub:name ?y . %s}"
    got = engine.sparql(
        base % 'FILTER (CONTAINS(LCASE(?y), "course") && STRLEN(?y) > 3) ',
        filters=True,
    )
    want = engine.sparql(base % "").filter(
        F.lower(F.col("y")).contains("course") & (F.length("y") > 3)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_filter_in_list_members_must_be_constants():
    with pytest.raises(ValueError, match="IN list members"):
        parse_sparql(
            PREFIXES + "SELECT ?x WHERE { ?x ub:name ?y . FILTER (?y IN (?x)) }",
            allow_filter=True,
        )


def test_path_quantifiers_execute_on_triples(spark):
    """p{n} / p{n,} / p{n,m} lower onto the existing path algebra: exact
    pair sets over the 4-node chain a->b->c->d."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "next", "b"), ("b", "next", "c"), ("c", "next", "d")],
        ["s", "p", "o"],
    )

    def rows(q):
        return sorted(tuple(r) for r in execute_on_triples(
            t, q, allow_paths=True).collect())

    assert rows("SELECT ?x ?y WHERE { ?x <next>{2} ?y }") == [
        ("a", "c"), ("b", "d")]
    # {1,2}: one or two hops
    assert rows("SELECT ?y WHERE { <a> <next>{1,2} ?y }") == [("b",), ("c",)]
    # {2,}: two or more hops
    assert rows("SELECT ?y WHERE { <a> <next>{2,} ?y }") == [("c",), ("d",)]
    # {0,1} == p?: zero-length pair included
    assert rows("SELECT ?y WHERE { <b> <next>{0,1} ?y }") == [("b",), ("c",)]


def test_path_quantifier_engine_matches_seq(engine):
    """Engine path: ub:subOrganizationOf{1,2} == 1-hop UNION 2-hop manual."""
    got = engine.sparql(
        PREFIXES + "SELECT ?x ?y WHERE { ?x ub:subOrganizationOf{1,2} ?y }",
        paths=True,
    )
    one = engine.query([Pattern("?x", "ub:subOrganizationOf", "?y")],
                       select=["x", "y"])
    two = engine.query(
        [Pattern("?x", "ub:subOrganizationOf", "?m"),
         Pattern("?m", "ub:subOrganizationOf", "?y")],
        select=["x", "y"],
    )
    want = one.unionByName(two)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_describe_execute_on_triples(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:n", "A"), ("a", "u:t", "T"), ("b", "u:n", "B"),
         ("c", "u:ref", "a")],
        ["s", "p", "o"],
    )
    # var form: all outgoing edges of every matched resource
    got = execute_on_triples(
        t,
        'DESCRIBE ?x WHERE { ?x <u:n> ?v . FILTER (?v != "B") }',
        allow_describe=True, allow_filter=True,
    )
    assert sorted(map(tuple, got.collect())) == [
        ("a", "u:n", "A"), ("a", "u:t", "T")]
    # constant form, no WHERE clause
    got = execute_on_triples(t, "DESCRIBE <b> <c>", allow_describe=True)
    assert sorted(map(tuple, got.collect())) == [
        ("b", "u:n", "B"), ("c", "u:ref", "a")]


def test_describe_engine_matches_string_path(engine):
    """Engine DESCRIBE (encoded semi-join + decode) == the same DESCRIBE
    over the decoded triple set."""
    from parj_spark.query.sparql import execute_on_triples

    q = PREFIXES + "DESCRIBE ?d WHERE { ?d rdf:type ub:Department }"
    got = engine.sparql(q, describe=True)
    store = engine.store
    d, pr = store.dict(), store.properties()
    triples = (
        store.spo()
        .join(d.selectExpr("id as s", "uri as s_uri"), "s")
        .join(pr.selectExpr("id as p", "uri as p_uri"), "p")
        .join(d.selectExpr("id as o", "uri as o_uri"), "o")
        .selectExpr("s_uri as s", "p_uri as p", "o_uri as o")
    )
    want = execute_on_triples(triples, q, allow_describe=True)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_describe_rejected_by_default():
    with pytest.raises(ValueError, match="allow_describe=True"):
        parse_sparql("DESCRIBE <urn:a>")


def test_select_expressions(spark):
    """(expr AS ?v) SELECT items lower onto the BIND machinery: computed
    projection columns in document order, referencing WHERE binds."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:price", "3"), ("b", "u:price", "10")], ["s", "p", "o"]
    )
    got = execute_on_triples(
        t,
        "SELECT ?s (?v * 2 AS ?dbl) (STRLEN(?s) AS ?l) "
        "WHERE { ?s <u:price> ?v } ORDER BY ?s",
        allow_bind=True,
    )
    assert [tuple(r) for r in got.collect()] == [
        ("a", 6.0, 1), ("b", 20.0, 1)]


def test_select_expressions_engine(engine):
    got = engine.sparql(
        PREFIXES + "SELECT ?x (UCASE(?y) AS ?u) WHERE "
        "{ ?x rdf:type ub:Course . ?x ub:name ?y }",
        bind=True,
    )
    want = engine.sparql(
        PREFIXES + "SELECT ?x ?y WHERE { ?x rdf:type ub:Course . ?x ub:name ?y }"
    ).select("x", F.upper("y").alias("u"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_select_expressions_guards():
    with pytest.raises(ValueError, match="allow_bind=True"):
        parse_sparql("SELECT (?a + 1 AS ?b) WHERE { ?a <u:p> ?c }")
    with pytest.raises(ValueError, match="do not combine"):
        parse_sparql(
            "SELECT (?a + 1 AS ?b) (COUNT(*) AS ?n) WHERE { ?a <u:p> ?c }",
            allow_bind=True, allow_aggregates=True,
        )


def test_bind_with_string_functions(spark):
    """STRLEN/UCASE/LCASE operands now compose inside BIND expressions."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame([("ab", "u:n", "x")], ["s", "p", "o"])
    got = execute_on_triples(
        t,
        "SELECT ?n WHERE { ?s <u:n> ?o . BIND (STRLEN(?s) + 1 AS ?n) }",
        allow_bind=True,
    )
    assert [r["n"] for r in got.collect()] == [3.0]


def test_bind_if_and_coalesce(spark):
    """IF(cond, a, b) compiles to when/otherwise (null condition -> else
    branch, SPARQL error coercion); COALESCE picks the first bound value."""
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "u:price", "3"), ("b", "u:price", "10"), ("c", "u:price", "x")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        'SELECT ?s (IF(?v > 5, "high", "low") AS ?band) '
        "WHERE { ?s <u:price> ?v } ORDER BY ?s",
        allow_bind=True, allow_filter=True,
    )
    # "x" fails the numeric cast -> null condition -> else branch
    assert [tuple(r) for r in got.collect()] == [
        ("a", "low"), ("b", "high"), ("c", "low")]

    t2 = spark.createDataFrame(
        [("a", "u:nick", "Al"), ("a", "u:name", "Alice"), ("b", "u:name", "Bob")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t2,
        "SELECT ?s (COALESCE(?nick, ?name) AS ?label) WHERE "
        "{ ?s <u:name> ?name OPTIONAL { ?s <u:nick> ?nick } } ORDER BY ?s",
        allow_bind=True,
    )
    assert [tuple(r) for r in got.collect()] == [("a", "Al"), ("b", "Bob")]


# --- GRAPH blocks over quad relations (opt-in extension) -------------------
# The reference models a single graph and rejects GRAPH outright
# (DagCreator.java:170-171, 269-271); execute_on_quads is beyond parity.


def _quads(spark):
    return spark.createDataFrame(
        [
            # default graph (null label): org structure
            ("d1", "partOf", "u1", None),
            ("d2", "partOf", "u1", None),
            # named graph g:crm
            ("x1", "memberOf", "d1", "g:crm"),
            ("x2", "memberOf", "d2", "g:crm"),
            # named graph g:hr (overlaps crm on (x1 memberOf d1))
            ("x1", "memberOf", "d1", "g:hr"),
            ("x3", "memberOf", "d1", "g:hr"),
        ],
        "s string, p string, o string, g string",
    )


def test_graph_rejected_by_default():
    with pytest.raises(ValueError, match="GRAPH"):
        parse_sparql("SELECT ?x WHERE { GRAPH ?g { ?x <p> ?y } }")


def test_graph_constant_joins_default_graph(spark):
    from parj_spark.query.sparql import execute_on_quads

    got = execute_on_quads(
        _quads(spark),
        "SELECT ?x ?u WHERE "
        "{ GRAPH <g:crm> { ?x <memberOf> ?d } . ?d <partOf> ?u }",
    )
    assert sorted(map(tuple, got.collect())) == [("x1", "u1"), ("x2", "u1")]


def test_graph_variable_binds_and_projects(spark):
    from parj_spark.query.sparql import execute_on_quads

    got = execute_on_quads(
        _quads(spark), "SELECT ?g ?x WHERE { GRAPH ?g { ?x <memberOf> <d1> } }"
    )
    assert sorted(map(tuple, got.collect())) == [
        ("g:crm", "x1"),
        ("g:hr", "x1"),
        ("g:hr", "x3"),
    ]


def test_graph_default_excludes_named_statements(spark):
    from parj_spark.query.sparql import execute_on_quads

    got = execute_on_quads(
        _quads(spark), "SELECT ?x ?d WHERE { ?x <memberOf> ?d }"
    )
    assert got.count() == 0  # memberOf exists only in named graphs


def test_graph_var_shared_across_blocks(spark):
    from parj_spark.query.sparql import execute_on_quads

    # one ?g scoping two blocks: both patterns must hold in the SAME graph
    got = execute_on_quads(
        _quads(spark),
        "SELECT ?g WHERE "
        "{ GRAPH ?g { <x2> <memberOf> <d2> } . GRAPH ?g { <x1> <memberOf> <d1> } }",
    )
    assert sorted(map(tuple, got.collect())) == [("g:crm",)]


def test_graph_needs_quad_relation(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame([("a", "p", "b")], ["s", "p", "o"])
    with pytest.raises(ValueError, match="quad"):
        execute_on_triples(
            t, "SELECT ?x WHERE { GRAPH <g> { ?x <p> ?y } }", allow_graph=True
        )


def test_graph_paths_gated_by_graph_term():
    # constant graph: the path is scoped to that graph's edge set — parses
    parse_sparql(
        "SELECT ?x WHERE { GRAPH <g> { ?x <p>+ ?y } }",
        allow_graph=True,
        allow_paths=True,
    )
    # variable graph: a per-graph closure is out of scope — rejected
    with pytest.raises(ValueError, match="paths inside GRAPH"):
        parse_sparql(
            "SELECT ?x WHERE { GRAPH ?g { ?x <p>+ ?y } }",
            allow_graph=True,
            allow_paths=True,
        )


def test_from_rejected_by_default():
    with pytest.raises(ValueError, match="FROM"):
        parse_sparql("SELECT ?x FROM <g:crm> WHERE { ?x <p> ?y }")


def test_from_merges_named_graphs_as_default(spark):
    from parj_spark.query.sparql import execute_on_quads

    # (x1 memberOf d1) appears in BOTH crm and hr: the merged default
    # graph is a set, so it must come out once
    got = execute_on_quads(
        _quads(spark),
        "SELECT ?x ?d FROM <g:crm> FROM <g:hr> WHERE { ?x <memberOf> ?d }",
    )
    assert sorted(map(tuple, got.collect())) == [
        ("x1", "d1"),
        ("x2", "d2"),
        ("x3", "d1"),
    ]
    # explicit dataset: the null-label statements are NOT in it
    none = execute_on_quads(
        _quads(spark), "SELECT ?d ?u FROM <g:crm> WHERE { ?d <partOf> ?u }"
    )
    assert none.count() == 0


def test_from_named_restricts_graph_blocks(spark):
    from parj_spark.query.sparql import execute_on_quads

    got = execute_on_quads(
        _quads(spark),
        "SELECT ?g ?x FROM NAMED <g:hr> WHERE { GRAPH ?g { ?x <memberOf> <d1> } }",
    )
    assert sorted(map(tuple, got.collect())) == [("g:hr", "x1"), ("g:hr", "x3")]
    # FROM only (no FROM NAMED): the named-graph set is empty
    empty = execute_on_quads(
        _quads(spark),
        "SELECT ?g ?x FROM <g:crm> WHERE { GRAPH ?g { ?x <memberOf> ?d } }",
    )
    assert empty.count() == 0


def test_reduced_dedupes_like_distinct(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("a", "p", "x"), ("a", "p", "y")], ["s", "p", "o"]
    )
    q = parse_sparql("SELECT REDUCED ?s WHERE { ?s <p> ?o }")
    assert q.distinct  # REDUCED lowered onto the distinct machinery
    got = execute_on_triples(t, "SELECT REDUCED ?s WHERE { ?s <p> ?o }")
    assert [tuple(r) for r in got.collect()] == [("a",)]


def test_graph_constant_scopes_property_path(spark):
    from parj_spark.query.sparql import execute_on_quads

    # chain a->b->c in g1; the b->c edge ALSO in g2; a->b absent from g2
    q = spark.createDataFrame(
        [
            ("a", "next", "b", "g1"),
            ("b", "next", "c", "g1"),
            ("b", "next", "c", "g2"),
        ],
        "s string, p string, o string, g string",
    )
    in_g1 = execute_on_quads(
        q,
        "SELECT ?x WHERE { GRAPH <g1> { <a> <next>+ ?x } }",
        allow_paths=True,
    )
    assert sorted(map(tuple, in_g1.collect())) == [("b",), ("c",)]
    # the closure must NOT leak across graphs: in g2 'a' reaches nothing
    in_g2 = execute_on_quads(
        q,
        "SELECT ?x WHERE { GRAPH <g2> { <a> <next>+ ?x } }",
        allow_paths=True,
    )
    assert in_g2.count() == 0
    # variable-graph paths stay rejected
    with pytest.raises(ValueError, match="variable graph"):
        parse_sparql(
            "SELECT ?g ?x WHERE { GRAPH ?g { <a> <next>+ ?x } }",
            allow_graph=True,
            allow_paths=True,
        )


def test_triples_path_ignores_g_without_opt_in(spark):
    from parj_spark.query.sparql import execute_on_triples

    # without allow_graph a 'g' column is just data: every row matches,
    # named or not (the pre-extension behavior, unchanged)
    got = execute_on_triples(
        _quads(spark), "SELECT ?x ?d WHERE { ?x <memberOf> ?d }"
    )
    assert got.count() == 4


# --- blank nodes in queries (parity surface: RDF4J desugars them to
# anonymous variables before the reference's DAG building) ------------------


def test_bnode_brackets_execute(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [
            ("x1", "memberOf", "d1"),
            ("x2", "memberOf", "d2"),
            ("d1", "partOf", "u1"),
            ("u1", "name", "U ONE"),
        ],
        ["s", "p", "o"],
    )
    # object bracket with nested bracket: members of a dept that is part of
    # something named "U ONE" — only d1 qualifies
    got = execute_on_triples(
        t,
        'SELECT ?x WHERE { ?x <memberOf> [ <partOf> [ <name> "U ONE" ] ] }',
    )
    assert sorted(map(tuple, got.collect())) == [("x1",)]
    # standalone bracket subject: '[ p o ] .' is a complete triple
    got2 = execute_on_triples(t, "SELECT * WHERE { [ <partOf> ?u ] . }")
    assert got2.columns == ["u"]  # the anonymous var never projects
    assert [tuple(r) for r in got2.collect()] == [("u1",)]


def test_bnode_label_joins_not_projected(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("x1", "memberOf", "d1"), ("d1", "partOf", "u1"), ("d2", "partOf", "u1")],
        ["s", "p", "o"],
    )
    # _:d joins the two patterns like a variable but SELECT * hides it
    got = execute_on_triples(
        t, "SELECT * WHERE { ?x <memberOf> _:d . _:d <partOf> ?u }"
    )
    assert got.columns == ["u", "x"]
    assert [tuple(r) for r in got.collect()] == [("u1", "x1")]


def test_bnode_engine_matches_explicit_var(engine):
    got = engine.sparql(
        PREFIXES + "SELECT ?x WHERE { ?x ub:memberOf [ ub:subOrganizationOf _:u ] }"
    )
    want = engine.sparql(
        PREFIXES
        + "SELECT ?x WHERE { ?x ub:memberOf ?d . ?d ub:subOrganizationOf ?u }"
    )
    assert _rows(got) == _rows(want)
    assert got.count() > 0


def test_filter_term_tests(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [
            ("urn:a", "urn:knows", "urn:b"),
            ("urn:a", "urn:name", "Alpha Person"),
            ("urn:b", "urn:name", "42"),
        ],
        ["s", "p", "o"],
    )
    # isIRI keeps exactly what write_ntriples would serialize as <iri>
    iris = execute_on_triples(
        t, "SELECT ?o WHERE { ?s ?p ?o . FILTER(isIRI(?o)) }",
        allow_filter=True, allow_var_predicates=True,
    )
    assert sorted(map(tuple, iris.collect())) == [("urn:b",)]
    # isLiteral is the complement; isURI is the spec synonym of isIRI
    lits = execute_on_triples(
        t, "SELECT ?o WHERE { ?s ?p ?o . FILTER(isLiteral(?o) && !isBlank(?o)) }",
        allow_filter=True, allow_var_predicates=True,
    )
    assert sorted(map(tuple, lits.collect())) == [("42",), ("Alpha Person",)]
    none = execute_on_triples(
        t, "SELECT ?o WHERE { ?s ?p ?o . FILTER(isBlank(?o) || !isURI(?s)) }",
        allow_filter=True, allow_var_predicates=True,
    )
    assert none.count() == 0


def test_strfn_substr_replace_before_after(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [("urn:a", "name", "NATION_12"), ("urn:b", "name", "plain")],
        ["s", "p", "o"],
    )
    # FILTER operand composition: SUBSTR + STRAFTER + REPLACE
    got = execute_on_triples(
        t,
        'SELECT ?s WHERE { ?s <name> ?n . FILTER(SUBSTR(?n, 1, 6) = "NATION") }',
        allow_filter=True,
    )
    assert [tuple(r) for r in got.collect()] == [("urn:a",)]
    # BIND path: the same operands compute columns
    got2 = execute_on_triples(
        t,
        'SELECT ?cut ?num ?fix WHERE { <urn:a> <name> ?n . '
        'BIND(STRBEFORE(?n, "_") AS ?cut) '
        'BIND(STRAFTER(?n, "_") AS ?num) '
        'BIND(REPLACE(?n, "_[0-9]+$", "") AS ?fix) }',
        allow_filter=True, allow_bind=True,
    )
    assert [tuple(r) for r in got2.collect()] == [("NATION", "12", "NATION")]
    # spec edge: probe absent -> "" (not the whole string)
    got3 = execute_on_triples(
        t,
        'SELECT ?x WHERE { <urn:b> <name> ?n . BIND(STRBEFORE(?n, "_") AS ?x) }',
        allow_bind=True,
    )
    assert [tuple(r) for r in got3.collect()] == [("",)]


def test_service_joins_registered_relation(spark):
    from parj_spark.query.sparql import execute_on_triples

    core = spark.createDataFrame(
        [("c1", "memberOf", "n1"), ("c2", "memberOf", "n2")], ["s", "p", "o"]
    )
    geo = spark.createDataFrame(
        [("n1", "partOf", "r1"), ("n2", "partOf", "r2"), ("r1", "name", "AFRICA")],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        core,
        'SELECT ?c ?r WHERE { ?c <memberOf> ?n . '
        'SERVICE <urn:svc:geo> { ?n <partOf> ?r . ?r <name> "AFRICA" } }',
        allow_service=True,
        services={"urn:svc:geo": geo},
    )
    assert sorted(map(tuple, got.collect())) == [("c1", "r1")]
    # unregistered endpoint errors without SILENT
    with pytest.raises(ValueError, match="not registered"):
        execute_on_triples(
            core,
            "SELECT ?c WHERE { ?c <memberOf> ?n . "
            "SERVICE <urn:svc:gone> { ?n <partOf> ?r } }",
            allow_service=True,
            services={},
        )


def test_service_silent_failure_leaves_vars_unbound(spark):
    from parj_spark.query.sparql import execute_on_triples

    core = spark.createDataFrame([("c1", "memberOf", "n1")], ["s", "p", "o"])
    got = execute_on_triples(
        core,
        "SELECT ?c ?r WHERE { ?c <memberOf> ?n . "
        "SERVICE SILENT <urn:svc:gone> { ?n <partOf> ?r } }",
        allow_service=True,
        services={},
    )
    rows = [tuple(r) for r in got.collect()]
    assert rows == [("c1", None)]  # empty solution joined: ?r unbound


def test_aggregate_over_expression(spark):
    from parj_spark.query.sparql import execute_on_triples

    t = spark.createDataFrame(
        [
            ("o1", "qty", "2"), ("o1", "price", "10"),
            ("o2", "qty", "3"), ("o2", "price", "5"),
        ],
        ["s", "p", "o"],
    )
    got = execute_on_triples(
        t,
        "SELECT (SUM(?q * ?pr) AS ?rev) WHERE "
        "{ ?o <qty> ?q . ?o <price> ?pr }",
        allow_aggregates=True,
    )
    assert [tuple(r) for r in got.collect()] == [(35.0,)]
    got2 = execute_on_triples(
        t,
        "SELECT ?o (AVG(STRLEN(?v)) AS ?len) WHERE { ?o <price> ?v } "
        "GROUP BY ?o ORDER BY ?o",
        allow_aggregates=True,
    )
    assert [tuple(r) for r in got2.collect()] == [("o1", 2.0), ("o2", 1.0)]
    # expression vars are validated like bare-var arguments
    with pytest.raises(ValueError, match="not bound"):
        execute_on_triples(
            t, "SELECT (SUM(?nope * ?q) AS ?x) WHERE { ?o <qty> ?q }",
            allow_aggregates=True,
        )


def test_aggregate_expression_engine(engine):
    from pyspark.sql import functions as F

    got = engine.sparql(
        PREFIXES + "SELECT ?d (SUM(STRLEN(?n)) AS ?tot) WHERE "
        "{ ?x ub:memberOf ?d . ?x ub:name ?n } GROUP BY ?d",
        aggregates=True,
    )
    members = engine.query(
        [Pattern("?x", "ub:memberOf", "?d"), Pattern("?x", "ub:name", "?n")]
    )
    manual = members.groupBy("d").agg(
        F.sum(F.length("n").try_cast("double")).alias("tot")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, manual.collect()))
    assert got.count() > 0


def test_parser_roundtrip_property_graph_blocks():
    """Random BGPs with random GRAPH contexts parse back to pattern lists
    whose ``g`` term matches the wrapping block exactly."""
    from hypothesis import given, settings, strategies as st

    var = st.sampled_from(["?a", "?b", "?c"])
    pname = st.sampled_from(["ub:p1", "ub:p2", "ex:q"])
    subj = st.one_of(var, pname)
    obj = st.one_of(var, pname)
    ctx = st.sampled_from([None, "<g:one>", "<g:two>", "?g"])
    triple = st.tuples(subj, pname, obj, ctx)
    bgps = st.lists(triple, min_size=1, max_size=6)

    @settings(max_examples=50, deadline=None)
    @given(bgp=bgps)
    def check(bgp):
        parts = []
        for s, p, o, g in bgp:
            if g is None:
                parts.append(f"{s} {p} {o} .")
            else:
                parts.append(f"GRAPH {g} {{ {s} {p} {o} }}")
        text = "SELECT * WHERE { " + " ".join(parts) + " }"
        q = parse_sparql(text, allow_graph=True)
        want = [
            Pattern(s, p, o, g.strip("<>") if g else None)
            for s, p, o, g in bgp
        ]
        assert q.patterns == want

    check()


# --- id-lowered FILTER semantics (r5): the engine path evaluates
# =/!=/IN/BOUND on ENCODED ids before any decode join (bgp.py
# _filter_id_plan/_filter_id_column); these tests pin the SPARQL edge
# semantics that lowering must preserve --------------------------------


def test_filter_equality_absent_term(engine):
    """A constant term missing from the dictionary: '=' matches nothing,
    '!=' matches every BOUND row — the lowered compile must express both
    without the id lookup erroring (the id simply does not exist)."""
    base = PREFIXES + "SELECT ?x WHERE { ?x rdf:type ub:Course . %s}"
    n_all = engine.sparql(base % "").count()
    assert n_all > 0
    assert (
        engine.sparql(base % 'FILTER(?x = "ub:NoSuchTerm") ', filters=True).count()
        == 0
    )
    assert (
        engine.sparql(base % 'FILTER(?x != "ub:NoSuchTerm") ', filters=True).count()
        == n_all
    )


def test_filter_in_mixed_present_absent_members(engine):
    """IN over one present + one absent term == equality with the present
    one; NOT IN drops only the present one."""
    base = PREFIXES + "SELECT ?d WHERE { ?d rdf:type ub:Department . %s}"
    n_all = engine.sparql(base % "").count()
    got_in = engine.sparql(
        base % 'FILTER(?d IN ("ub:Department_0_0", "ub:Ghost")) ', filters=True
    )
    assert [r["d"] for r in got_in.collect()] == ["ub:Department_0_0"]
    got_not = engine.sparql(
        base % 'FILTER(?d NOT IN ("ub:Department_0_0", "ub:Ghost")) ',
        filters=True,
    )
    assert got_not.count() == n_all - 1


def test_filter_optional_null_under_lowered_equality(engine):
    """OPTIONAL-null rows must drop under BOTH FILTER(?d = const) and its
    negation — SPARQL evaluates comparisons on unbound vars to an error,
    and error is false under FILTER even inside NOT. The lowered compile
    handles this with null-exact Columns (when(bound, const)); parity
    checked against manual filters over the decoded unfiltered result."""
    base = (
        PREFIXES
        + "SELECT ?e ?d WHERE { ?e ub:name ?n . "
        + "OPTIONAL { ?e ub:worksFor ?d } %s}"
    )
    plain = engine.sparql(base % "")
    rows = plain.collect()
    n_null = sum(1 for r in rows if r["d"] is None)
    assert n_null > 0 and n_null < len(rows)  # genuinely mixed
    dept = next(r["d"] for r in rows if r["d"] is not None)

    got_eq = engine.sparql(base % f'FILTER(?d = "{dept}") ', filters=True)
    want_eq = sorted(tuple(r) for r in rows if r["d"] == dept)
    assert sorted(map(tuple, got_eq.collect())) == want_eq and want_eq

    got_ne = engine.sparql(base % f'FILTER(!(?d = "{dept}")) ', filters=True)
    want_ne = sorted(
        tuple(r) for r in rows if r["d"] is not None and r["d"] != dept
    )
    assert sorted(map(tuple, got_ne.collect())) == want_ne and want_ne

    # absent-term variants on the nullable column: '=' empty; '!=' keeps
    # exactly the bound rows (null rows error out either way)
    assert engine.sparql(base % 'FILTER(?d = "ub:Ghost") ', filters=True).count() == 0
    assert (
        engine.sparql(base % 'FILTER(?d != "ub:Ghost") ', filters=True).count()
        == len(rows) - n_null
    )


def test_filter_bound_lowered_with_optional(engine):
    """BOUND(?d)/!BOUND(?d) over an OPTIONAL var, engine path: lowered to
    isNotNull on the ENCODED column (no decode below the filter)."""
    base = (
        PREFIXES
        + "SELECT ?e WHERE { ?e ub:name ?n . OPTIONAL { ?e ub:worksFor ?d } %s}"
    )
    n_all = engine.sparql(base % "").count()
    n_bound = engine.sparql(base % "FILTER(bound(?d)) ", filters=True).count()
    n_unbound = engine.sparql(base % "FILTER(!bound(?d)) ", filters=True).count()
    assert n_bound > 0 and n_unbound > 0
    assert n_bound + n_unbound == n_all


def test_filter_predicate_var_equality_lowered(engine):
    """Equality on a PREDICATE var resolves through the predicate catalog
    (its own id space, disjoint from the entity dictionary)."""
    q = (
        PREFIXES
        + "SELECT ?p WHERE { <ub:Department_0_0> ?p ?o . "
        + 'FILTER(?p = "ub:subOrganizationOf") }'
    )
    got = engine.sparql(q, var_predicates=True, filters=True).collect()
    assert got and all(r["p"] == "ub:subOrganizationOf" for r in got)
    q_ne = (
        PREFIXES
        + "SELECT ?p WHERE { <ub:Department_0_0> ?p ?o . "
        + 'FILTER(?p != "ub:subOrganizationOf") }'
    )
    ne = [r["p"] for r in engine.sparql(q_ne, var_predicates=True, filters=True).collect()]
    assert ne and "ub:subOrganizationOf" not in ne


def test_filter_mixed_id_space_comparison_stays_on_strings(engine):
    """?p = ?x across the predicate/entity id spaces must NOT lower (the
    two catalogs assign unrelated ids) — the string path answers it; here
    its result must equal the explicit STR() comparison."""
    q = PREFIXES + "SELECT ?x ?p WHERE { ?x ?p ?o . %s}"
    got = engine.sparql(q % "FILTER(?p = ?x) ", var_predicates=True, filters=True)
    want = engine.sparql(
        q % "FILTER(STR(?p) = STR(?x)) ", var_predicates=True, filters=True
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_optional_scoped_filter_preserves_core_rows(engine):
    """FILTER inside an OPTIONAL block is LeftJoin(G, P, E): a solution
    whose block match fails E keeps its core bindings with the block vars
    unbound — it is NOT dropped (that is the semantic difference from the
    same FILTER written at group level, pinned here side by side)."""
    plain = engine.sparql(
        PREFIXES
        + "SELECT ?e ?d WHERE { ?e ub:name ?n . OPTIONAL { ?e ub:worksFor ?d } }"
    ).collect()
    dept = next(r["d"] for r in plain if r["d"] is not None)
    scoped = engine.sparql(
        PREFIXES
        + "SELECT ?e ?d WHERE { ?e ub:name ?n . "
        + f'OPTIONAL {{ ?e ub:worksFor ?d FILTER(?d != "{dept}") }} }}',
        filters=True,
    ).collect()
    # same cardinality as the unfiltered query: failing rows null out, not drop
    assert len(scoped) == len(plain)
    want = sorted((r["e"], r["d"] if r["d"] != dept else None) for r in plain)
    assert sorted(map(tuple, scoped)) == want
    # the group-level FILTER on the same expression DROPS those rows (and
    # the never-matched nulls, per error-is-false)
    top = engine.sparql(
        PREFIXES
        + "SELECT ?e ?d WHERE { ?e ub:name ?n . "
        + f'OPTIONAL {{ ?e ub:worksFor ?d }} FILTER(?d != "{dept}") }}',
        filters=True,
    ).collect()
    assert len(top) == sum(1 for r in plain if r["d"] is not None and r["d"] != dept)


def test_optional_scoped_filter_absent_term_nulls_block(engine):
    """A scoped filter no row can pass empties the BLOCK, not the query:
    every core row survives with the block var unbound."""
    got = engine.sparql(
        PREFIXES
        + "SELECT ?e ?d WHERE { ?e ub:name ?n . "
        + 'OPTIONAL { ?e ub:worksFor ?d FILTER(?d IN ("ub:Ghost")) } }',
        filters=True,
    ).collect()
    n_core = engine.sparql(
        PREFIXES + "SELECT ?e WHERE { ?e ub:name ?n }"
    ).count()
    assert len(got) == n_core and all(r["d"] is None for r in got)


def test_optional_scoped_filter_nonlowerable_keeps_encoded_keys(engine):
    """A string-function scoped filter (not id-lowerable) must still join
    the block on ENCODED ids: the temp decode column may not leak into the
    result, and the rows match the manually post-filtered plain result."""
    q = (
        PREFIXES
        + "SELECT ?e ?m WHERE { ?e ub:worksFor ?d . "
        + "OPTIONAL { ?e ub:emailAddress ?m %s} }"
    )
    plain = engine.sparql(q % "").collect()
    got = engine.sparql(q % "FILTER(STRLEN(?m) > 10) ", filters=True)
    assert sorted(got.columns) == ["e", "m"]  # no __lit_* leakage
    want = sorted(
        (r["e"], r["m"] if r["m"] is not None and len(r["m"]) > 10 else None)
        for r in plain
    )
    assert sorted(map(tuple, got.collect())) == want


def test_optional_scoped_filter_rejects_outside_vars(engine):
    """E over enclosing-group-only vars is a genuine join condition, out of
    the pre-filter subset — rejected at parse time with a named var."""
    with pytest.raises(ValueError, match="bound in that block"):
        parse_sparql(
            "SELECT ?a ?b WHERE { ?a <ub:name> ?b . "
            "OPTIONAL { ?a <ub:worksFor> ?x FILTER(?b = ?x) } }",
            allow_filter=True,
        )


def test_optional_scoped_filter_requires_filter_optin(engine):
    """The scoped form sits behind the same allow_filter gate as group-level
    FILTER (parity: the reference rejects all FILTERs)."""
    with pytest.raises(ValueError, match="allow_filter"):
        parse_sparql(
            "SELECT ?a ?x WHERE { ?a <ub:name> ?n . "
            'OPTIONAL { ?a <ub:worksFor> ?x FILTER(?x != "z") } }'
        )


def test_filter_angle_iri_operand_matches_quoted_form(engine):
    """<iri> FILTER operands are the same term constants as the quoted
    form (terms are stored bracket-free; <...> is surface syntax)."""
    quoted = engine.sparql(
        PREFIXES
        + 'SELECT ?x WHERE { ?x ub:worksFor ?d . FILTER(?d = "ub:Department_0_0") }',
        filters=True,
    )
    angled = engine.sparql(
        PREFIXES
        + "SELECT ?x WHERE { ?x ub:worksFor ?d . FILTER(?d = <ub:Department_0_0>) }",
        filters=True,
    )
    got_q, got_a = sorted(quoted.collect()), sorted(angled.collect())
    assert got_q and got_q == got_a


def test_values_undef_row_keeps_all_solutions(engine):
    """An UNDEF entry binds nothing in its row: the row is compatible with
    every solution, so `VALUES ?d { <dept> UNDEF }` yields the constrained
    multiset PLUS one copy of everything (bag semantics)."""
    all_rows = engine.sparql(
        PREFIXES + "SELECT ?x ?d WHERE { ?x ub:worksFor ?d }"
    ).collect()
    dept = all_rows[0]["d"]
    got = engine.sparql(
        PREFIXES
        + "SELECT ?x ?d WHERE { ?x ub:worksFor ?d . "
        + f"VALUES ?d {{ <{dept}> UNDEF }} }}",
        values=True,
    ).collect()
    want = sorted(
        [tuple(r) for r in all_rows]
        + [tuple(r) for r in all_rows if r["d"] == dept]
    )
    assert sorted(map(tuple, got)) == want


def test_values_undef_ride_along_keeps_foreign_term(engine):
    """A VALUES var the query binds nowhere else rides along as a literal
    column — including terms absent from the graph's dictionary (SPARQL
    binds them regardless; an encoded id could not carry them) — and its
    UNDEF rows surface as nulls."""
    n_core = engine.sparql(
        PREFIXES + "SELECT ?x WHERE { ?x ub:worksFor ?d }"
    ).count()
    got = engine.sparql(
        PREFIXES
        + "SELECT ?x ?tag WHERE { ?x ub:worksFor ?d . "
        + 'VALUES ?tag { "not:in:graph" UNDEF } }',
        values=True,
    ).collect()
    assert len(got) == 2 * n_core
    tags = sorted({r["tag"] for r in got}, key=str)
    assert tags == [None, "not:in:graph"]


def test_values_all_undef_rows_multiply_solutions(engine):
    """k all-UNDEF rows constrain nothing and multiply the solution
    multiset k times."""
    n_core = engine.sparql(
        PREFIXES + "SELECT ?x ?d WHERE { ?x ub:worksFor ?d }"
    ).count()
    got = engine.sparql(
        PREFIXES
        + "SELECT ?x ?d WHERE { ?x ub:worksFor ?d . "
        + "VALUES (?x ?d) { (UNDEF UNDEF) (UNDEF UNDEF) } }",
        values=True,
    )
    assert got.count() == 2 * n_core


def test_minus_scoped_filter_prefilters_block(engine):
    """FILTER inside MINUS pre-filters the block before the anti-join —
    exact per spec (a MINUS block never sees outer bindings): only rows
    whose block match passes E are removed."""
    base = engine.sparql(
        PREFIXES + "SELECT ?x ?d WHERE { ?x ub:worksFor ?d }"
    ).collect()
    dept = base[0]["d"]
    got = engine.sparql(
        PREFIXES
        + "SELECT ?x ?d WHERE { ?x ub:worksFor ?d . "
        + f"MINUS {{ ?x ub:worksFor ?d FILTER(?d = <{dept}>) }} }}",
        minus=True,
        filters=True,
    ).collect()
    want = sorted(tuple(r) for r in base if r["d"] != dept)
    assert sorted(map(tuple, got)) == want and want


def test_exists_scoped_filter_constrains_probe(engine):
    """FILTER inside FILTER [NOT] EXISTS constrains the existence probe:
    EXISTS{P FILTER(E)} keeps exactly the rows some E-passing match
    supports, and the NOT variant keeps the complement."""
    mails = engine.sparql(
        PREFIXES + "SELECT ?x ?m WHERE { ?x ub:emailAddress ?m }"
    ).collect()
    probe = mails[0]["m"]
    pos = engine.sparql(
        PREFIXES
        + "SELECT ?x WHERE { ?x ub:emailAddress ?m2 . "
        + f'FILTER EXISTS {{ ?x ub:emailAddress ?m FILTER(?m = "{probe}") }} }}',
        filters=True,
    ).collect()
    neg = engine.sparql(
        PREFIXES
        + "SELECT ?x WHERE { ?x ub:emailAddress ?m2 . "
        + f'FILTER NOT EXISTS {{ ?x ub:emailAddress ?m FILTER(?m = "{probe}") }} }}',
        filters=True,
    ).collect()
    holders = {r["x"] for r in mails if r["m"] == probe}
    assert {r["x"] for r in pos} == holders and holders
    assert {r["x"] for r in neg} == {r["x"] for r in mails} - holders
    assert len(pos) + len(neg) == len(mails)


def test_minus_scoped_filter_rejects_outside_vars(engine):
    with pytest.raises(ValueError, match="MINUS block may only reference"):
        parse_sparql(
            "SELECT ?a ?b WHERE { ?a <ub:name> ?b . "
            "MINUS { ?a <ub:worksFor> ?x FILTER(?b = ?x) } }",
            allow_minus=True,
            allow_filter=True,
        )
