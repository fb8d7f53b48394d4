"""SHACL-lite constraint validation (construct/validate.py) vs hand-checked
expectations on a small dirty graph. The reference has no validation
surface (it loads a pre-cleaned corpus, parj.c:1972-2189); these checks are
the data-quality lane a raw-lakehouse pipeline needs, so every function is
pinned here against an exact, human-verifiable violation set."""

from pyspark.sql import functions as F

from parj_spark.construct.validate import (
    cardinality_profile,
    dangling_refs,
    domain_violations,
    functional_violations,
    inverse_functional_violations,
)

TYPE = "rdf:type"


def _triples(spark, rows):
    return spark.createDataFrame(rows, ["s", "p", "o"])


def _dirty(spark):
    return _triples(
        spark,
        [
            # a is clean: one birthDate, typed, points at existing b
            ("urn:a", TYPE, "urn:Person"),
            ("urn:a", "urn:birthDate", "1990"),
            ("urn:a", "urn:knows", "urn:b"),
            # b violates functional birthDate (two distinct values; the
            # duplicated assertion of 1991 must NOT count as a third)
            ("urn:b", TYPE, "urn:Person"),
            ("urn:b", "urn:birthDate", "1991"),
            ("urn:b", "urn:birthDate", "1991"),
            ("urn:b", "urn:birthDate", "1992"),
            # b and c share an email (IFP violation); d's email is unique
            ("urn:b", "urn:email", "x@x"),
            ("urn:c", "urn:email", "x@x"),
            ("urn:d", "urn:email", "d@d"),
            # c uses knows but never asserts rdf:type Person (domain
            # violation), and points at a ghost twice (dangling, n_refs=2)
            ("urn:c", "urn:knows", "urn:ghost"),
            ("urn:c", "urn:knows", "urn:ghost"),
            # literal object under a different namespace: not dangling
            ("urn:c", "urn:note", "lit:hello"),
        ],
    )


def test_functional_violations_exact(spark):
    out = functional_violations(_dirty(spark), ["urn:birthDate"]).collect()
    assert {(r.s, r.p, r.n_values) for r in out} == {
        ("urn:b", "urn:birthDate", 2)
    }


def test_inverse_functional_violations_exact(spark):
    out = inverse_functional_violations(_dirty(spark), ["urn:email"]).collect()
    assert {(r.p, r.o, r.n_subjects) for r in out} == {
        ("urn:email", "x@x", 2)
    }


def test_dangling_refs_exact(spark):
    # prefix scopes the check: urn:ghost is dangling (referenced twice,
    # never a subject); urn:b is referenced but IS a subject; lit:hello is
    # outside the namespace entirely
    out = dangling_refs(_dirty(spark), "urn:").collect()
    assert {(r.o, r.n_refs) for r in out} == {
        ("urn:ghost", 2),
        ("urn:Person", 2),  # class URIs excluded by passing an entity ns
    }
    out2 = dangling_refs(_dirty(spark), "urn:g").collect()
    assert {(r.o, r.n_refs) for r in out2} == {("urn:ghost", 2)}


def test_domain_violations_exact(spark):
    out = domain_violations(
        _dirty(spark), [("urn:knows", "urn:Person")], type_pred=TYPE
    ).collect()
    # c uses knows twice but reports ONE violation row (deduped use);
    # a is typed Person so clean
    assert {(r.s, r.p, r.required_class) for r in out} == {
        ("urn:c", "urn:knows", "urn:Person")
    }


def test_domain_vacuous_after_entailment(spark):
    """rdfs_closure asserts exactly the types rdfs:domain implies, so the
    closed graph has zero domain violations by construction — the check
    must run pre-entailment to be useful, and this pins that invariant."""
    from parj_spark.construct.reason import rdfs_closure

    t = _dirty(spark).union(
        _triples(spark, [("urn:knows", "rdfs:domain", "urn:Person")])
    )
    closed = rdfs_closure(t, type_pred=TYPE)
    assert (
        domain_violations(
            closed, [("urn:knows", "urn:Person")], type_pred=TYPE
        ).count()
        == 0
    )


def test_cardinality_profile_exact(spark):
    prof = {
        r.p: (r.n_subjects, r.max_per_subject, r.avg_per_subject)
        for r in cardinality_profile(_dirty(spark)).collect()
    }
    # birthDate: a has 1 distinct value, b has 2 -> avg 1.5, max 2
    assert prof["urn:birthDate"] == (2, 2, 1.5)
    # email: three subjects, one value each
    assert prof["urn:email"] == (3, 1, 1.0)
    # knows: a->b (1), c->ghost deduped to 1 distinct
    assert prof["urn:knows"] == (2, 1, 1.0)


def test_pipeline_violations_stage(spark, tmp_path):
    """materialize_triples(validate={...}) persists the normalized
    (chk, a, b, n) report as the `violations` table with a lineage row,
    and the triple stream itself is untouched (report-only stage)."""
    from pyspark.sql import functions as F  # noqa: F401 (house import)

    from parj_spark.construct.lineage import read_lineage
    from parj_spark.construct.pipeline import materialize_triples

    rows = [
        ("urn:e:a", "urn:hasHead", "urn:e:h1"),
        ("urn:e:a", "urn:hasHead", "urn:e:h2"),  # functional violation
        ("urn:e:h1", "rdf:type", "urn:Head"),
        ("urn:e:a", "urn:knows", "urn:e:ghost"),  # dangling
    ]
    t = spark.createDataFrame(rows, ["s_uri", "p_uri", "o_uri"])
    out = str(tmp_path / "g")
    store = materialize_triples(
        spark, t, out, resume=True, analyze=False,
        validate={"func_preds": ["urn:hasHead"], "uri_prefix": "urn:e:"},
    )
    rep = spark.read.parquet(out + "/violations")
    got = {(r.chk, r.a, r.b, r.n) for r in rep.collect()}
    assert got == {
        ("functional", "urn:e:a", "urn:hasHead", 2),
        ("dangling", "urn:e:h2", "-", 1),  # never a subject
        ("dangling", "urn:e:ghost", "-", 1),
    }
    assert store.spo().count() == len(rows)  # stream unchanged
    stages = {rec["stage"]: rec for rec in read_lineage(out)}
    assert stages["violations"]["rows_out"] == 3


def test_validation_plan_has_no_python_udf(spark):
    """Every check compiles to pure Catalyst (scan + aggregate/anti-join):
    no BatchEvalPython / ArrowEvalPython stage may appear — at 10^12 rows
    the violation sweep must stay inside whole-stage codegen."""
    t = _dirty(spark)
    for df in (
        functional_violations(t, ["urn:birthDate"]),
        inverse_functional_violations(t, ["urn:email"]),
        dangling_refs(t, "urn:"),
        domain_violations(t, [("urn:knows", "urn:Person")], type_pred=TYPE),
        cardinality_profile(t),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
