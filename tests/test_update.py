"""SPARQL 1.1 Update tests — parser, batch path, and the store-backed
merge-on-read path (tombstone epochs + compaction).

The reference has no update surface at all (every SQLite vtab xUpdate slot
is 0, parj.c:599, 1129), so everything here is beyond-parity extension
behavior; the spec anchors are SPARQL 1.1 Update §3.1 (DATA forms),
§3.1.3 (delete-before-insert, skipped incomplete instantiations).
"""

import os

import pytest
from pyspark.sql import functions as F

from parj_spark.query.sparql import parse_update
from parj_spark.query.update import apply_update, apply_update_on_triples

PRO = "PREFIX ub: <ub:> PREFIX rdf: <rdf:> "


def _g(spark, rows):
    return spark.createDataFrame(rows, "s string, p string, o string")


def _rows(df):
    return {tuple(r) for r in df.select("s", "p", "o").collect()}


# --- parser -----------------------------------------------------------------


def test_parse_forms():
    ops = parse_update(
        PRO
        + """
        INSERT DATA { <ub:a> <ub:p> <ub:b> . <ub:b> <ub:p> <ub:c> } ;
        DELETE DATA { <ub:a> <ub:p> <ub:b> } ;
        DELETE WHERE { ?s ub:p ?o } ;
        DELETE { ?s ub:p ?o } INSERT { ?s ub:q ?o } WHERE { ?s ub:p ?o }
        """
    )
    assert [len(o.insert_templates) for o in ops] == [2, 0, 0, 1]
    assert [len(o.delete_templates) for o in ops] == [0, 1, 1, 1]
    assert ops[0].where_text is None and ops[1].where_text is None
    # DELETE WHERE: the pattern doubles as the template
    assert ops[2].where_text is not None
    assert ops[2].delete_templates[0].p == "ub:p"
    # a per-operation prologue is allowed (spec grammar: Prologue ( Update ...)):
    # full IRIs compact against prefixes declared by ANY preceding prologue
    # (prefixed names themselves are verbatim dictionary tokens — the
    # engine-wide term convention, sparql.py term())
    ops2 = parse_update(
        "PREFIX a: <ub:> INSERT DATA { <ub:x> <ub:p> <ub:y> } ; "
        "PREFIX b: <urn:> DELETE DATA { <ub:x> <urn:q> <ub:y> }"
    )
    assert ops2[0].insert_templates[0].p == "a:p"
    assert ops2[1].delete_templates[0] .p == "b:q"
    assert ops2[1].delete_templates[0].s == "a:x"


def test_parse_rejections():
    with pytest.raises(ValueError, match="ground"):
        parse_update(PRO + "INSERT DATA { ?s ub:p <ub:b> }")
    with pytest.raises(ValueError, match="not bound"):
        parse_update(PRO + "INSERT { ?s ub:q ?nowhere } WHERE { ?s ub:p ?o }")
    with pytest.raises(ValueError, match="empty template"):
        parse_update(PRO + "INSERT DATA { }")
    with pytest.raises(ValueError, match="LOAD|INSERT or DELETE"):
        parse_update("CLEAR GRAPH <ub:g>")
    with pytest.raises(ValueError, match="empty request"):
        parse_update(PRO)


# --- batch path (string triples) ---------------------------------------------


def test_insert_data_set_semantics(spark):
    g = _g(spark, [("ub:a", "ub:p", "ub:b")])
    out = apply_update_on_triples(
        g,
        PRO + "INSERT DATA { <ub:a> <ub:p> <ub:b> . <ub:a> <ub:p> <ub:c> }",
    )
    # re-inserting an existing triple is a no-op: an RDF graph is a set
    assert _rows(out) == {("ub:a", "ub:p", "ub:b"), ("ub:a", "ub:p", "ub:c")}


def test_delete_data_and_where(spark):
    g = _g(
        spark,
        [
            ("ub:a", "ub:p", "ub:b"),
            ("ub:b", "ub:p", "ub:c"),
            ("ub:a", "ub:q", "ub:b"),
        ],
    )
    out = apply_update_on_triples(g, PRO + "DELETE DATA { <ub:a> <ub:p> <ub:b> }")
    assert _rows(out) == {("ub:b", "ub:p", "ub:c"), ("ub:a", "ub:q", "ub:b")}
    # DELETE WHERE: pattern is both match and template
    out2 = apply_update_on_triples(g, PRO + "DELETE WHERE { ?s ub:p ?o }")
    assert _rows(out2) == {("ub:a", "ub:q", "ub:b")}


def test_modify_where_sees_pre_op_graph(spark):
    """Within one Modify op the WHERE matches the PRE-operation graph and
    deletes apply before inserts — so a rename (?s p ?o -> ?s q ?o) never
    cascades into the q edges it just wrote, and a triple both deleted and
    re-inserted by the same op survives (§3.1.3)."""
    g = _g(spark, [("ub:a", "ub:p", "ub:b"), ("ub:b", "ub:p", "ub:c")])
    out = apply_update_on_triples(
        g, PRO + "DELETE { ?s ub:p ?o } INSERT { ?s ub:q ?o } WHERE { ?s ub:p ?o }"
    )
    assert _rows(out) == {("ub:a", "ub:q", "ub:b"), ("ub:b", "ub:q", "ub:c")}
    # delete-then-insert of the same triple: present afterwards
    out2 = apply_update_on_triples(
        g, PRO + "DELETE { ?s ub:p ?o } INSERT { ?s ub:p ?o } WHERE { ?s ub:p ?o }"
    )
    assert _rows(out2) == _rows(g)


def test_sequential_ops_see_prior_effects(spark):
    g = _g(spark, [("ub:a", "ub:p", "ub:b")])
    out = apply_update_on_triples(
        g,
        PRO
        + """
        INSERT DATA { <ub:b> <ub:p> <ub:c> } ;
        INSERT { ?x ub:reach ?z } WHERE { ?x ub:p ?y . ?y ub:p ?z }
        """,
    )
    # the 2-hop only exists because op 2 ran over op 1's output
    assert ("ub:a", "ub:reach", "ub:c") in _rows(out)


def test_optional_unbound_instantiation_skipped(spark):
    """Solutions where a template variable is unbound (OPTIONAL miss)
    instantiate nothing for that template (§3.1.3)."""
    g = _g(spark, [("ub:a", "ub:p", "ub:b"), ("ub:b", "ub:p", "ub:c"),
                   ("ub:b", "ub:tag", "T")])
    out = apply_update_on_triples(
        g,
        PRO + "INSERT { ?o ub:copiedTag ?t } "
        "WHERE { ?s ub:p ?o OPTIONAL { ?o ub:tag ?t } }",
    )
    added = _rows(out) - _rows(g)
    assert added == {("ub:b", "ub:copiedTag", "T")}


# --- store-backed merge-on-read path -----------------------------------------


def _decoded(store):
    """Store triples decoded to (s, p, o) strings through its catalogs."""
    d = store.dict()
    p = store.properties()
    return (
        store.spo()
        .join(d.select(F.col("id").alias("s"), F.col("uri").alias("s_uri")), "s")
        .join(p.select(F.col("id").alias("p"), F.col("uri").alias("p_uri")), "p")
        .join(d.select(F.col("id").alias("o"), F.col("uri").alias("o_uri")), "o")
        .select(
            F.col("s_uri").alias("s"),
            F.col("p_uri").alias("p"),
            F.col("o_uri").alias("o"),
        )
    )


def test_store_update_tombstones_and_reinsert(spark, tiny_graph, tmp_path):
    """Deletes land as tombstone epochs suppressed at read time; a later
    re-insert of the same triple is alive again (epoch-ordered visibility);
    the base permutation layout is never rewritten."""
    stream_dir = str(tmp_path / "stream")
    base_rows = _rows(_decoded(tiny_graph))
    victim = next(iter(r for r in base_rows if r[1] == "ub:advisor"))

    text = (
        PRO + f"DELETE DATA {{ <{victim[0]}> <{victim[1]}> <{victim[2]}> }}"
    )
    live = apply_update(tiny_graph, stream_dir, text)
    assert os.path.isdir(os.path.join(stream_dir, "tombstones"))
    live_rows = _rows(_decoded(live))
    assert live_rows == base_rows - {victim}
    # base store untouched (merge-on-read: O(delta) writes only)
    assert _rows(_decoded(tiny_graph)) == base_rows

    # re-insert: the insert epoch outranks the tombstone epoch
    live2 = apply_update(
        tiny_graph, stream_dir,
        PRO + f"INSERT DATA {{ <{victim[0]}> <{victim[1]}> <{victim[2]}> }}",
    )
    assert _rows(_decoded(live2)) == base_rows


def test_store_update_where_rejects_graph_and_service(tiny_graph, tmp_path):
    """The encoded engine answering store WHERE groups has no quad relation
    or service registry: allow_graph / allow_service are accepted but a
    GRAPH or SERVICE block still fails at parse, before any epoch is
    written; an unknown flag name raises TypeError."""
    stream_dir = str(tmp_path / "stream")
    flags = dict(allow_graph=True, allow_service=True)
    for where in (
        "GRAPH <ub:g> { ?s ub:advisor ?o }",
        "?s ub:advisor ?o . SERVICE SILENT <urn:svc:x> { ?o ub:name ?n }",
        "?s ub:advisor ?o . SERVICE <urn:svc:x> { ?o ub:name ?n }",
    ):
        text = PRO + f"DELETE {{ ?s ub:advisor ?o }} WHERE {{ {where} }}"
        with pytest.raises(ValueError, match="to opt in"):
            apply_update(tiny_graph, stream_dir, text, **flags)
    assert not os.path.exists(stream_dir)
    with pytest.raises(TypeError, match="'allow_filters'"):
        apply_update(
            tiny_graph, stream_dir,
            PRO + "DELETE WHERE { ?s ub:nowhere ?o }", allow_filters=True,
        )


def test_store_update_insert_is_existence_guarded(spark, tiny_graph, tmp_path):
    """Inserting triples that already exist writes NO epoch (an RDF graph
    is a set; duplicate rows would double BGP solution counts)."""
    stream_dir = str(tmp_path / "stream")
    # pick a triple whose terms are all IRI-shaped: literal objects (names
    # with spaces) can't round-trip through <...> INSERT DATA syntax, and
    # set iteration order made this pick flaky
    some = next(iter(r for r in _rows(_decoded(tiny_graph)) if r[1] == "ub:advisor"))
    live = apply_update(
        tiny_graph, stream_dir,
        PRO + f"INSERT DATA {{ <{some[0]}> <{some[1]}> <{some[2]}> }}",
    )
    assert not os.path.isdir(os.path.join(stream_dir, "triples"))
    assert _rows(_decoded(live)) == _rows(_decoded(tiny_graph))


def test_store_update_matches_batch_path_and_compacts(spark, tiny_corpus, tmp_path):
    """The store path (tombstone epochs + insert epochs) and the batch path
    (anti-join/union folding) agree on the final graph; compact_stream
    physically folds the tombstones away and truncates every delta kind."""
    from parj_spark.construct import run_pipeline
    from parj_spark.streaming import compact_stream

    docs, _ = tiny_corpus
    out = str(tmp_path / "ugraph")
    stream_dir = str(tmp_path / "stream")
    store = run_pipeline(spark, docs, out, resume=False, analyze=False)

    text = (
        PRO
        + """
        DELETE { ?s ub:advisor ?o } INSERT { ?s ub:advisedBy ?o }
        WHERE { ?s ub:advisor ?o } ;
        INSERT DATA { <ub:NewEntity_1> <rdf:type> <ub:Thing> }
        """
    )
    expected = _rows(apply_update_on_triples(_decoded(store), text))
    live = apply_update(store, stream_dir, text)
    assert _rows(_decoded(live)) == expected

    fresh = compact_stream(store, stream_dir)
    for kind in ("triples", "tombstones", "dict", "properties"):
        assert not os.path.exists(os.path.join(stream_dir, kind))
    assert _rows(_decoded(fresh)) == expected
    # the folded graph serves the renamed predicate as a first-class
    # p-partition (negative stream id preserved)
    pid = {r["uri"]: r["id"] for r in fresh.properties().collect()}["ub:advisedBy"]
    assert pid < 0
    assert fresh.spo().filter(F.col("p") == pid).count() == len(
        {r for r in expected if r[1] == "ub:advisedBy"}
    )


def test_store_update_where_over_live_view(spark, tiny_graph, tmp_path):
    """A Modify WHERE group matches over the live merge-on-read view: an
    edge inserted by op 1 drives op 2's match in the same request."""
    stream_dir = str(tmp_path / "stream")
    live = apply_update(
        tiny_graph, stream_dir,
        PRO
        + """
        INSERT DATA { <ub:X_1> <ub:linked> <ub:X_2> .
                      <ub:X_2> <ub:linked> <ub:X_3> } ;
        INSERT { ?a ub:reach ?c } WHERE { ?a ub:linked ?b . ?b ub:linked ?c }
        """,
    )
    rows = _rows(_decoded(live))
    assert ("ub:X_1", "ub:reach", "ub:X_3") in rows


def _epoch_dirs(stream_dir):
    return {
        (kind, e)
        for kind in os.listdir(stream_dir)
        for e in os.listdir(os.path.join(stream_dir, kind))
        if e.startswith("epoch=")
    }


def test_store_update_single_insert_path(spark, tiny_graph, tmp_path):
    """Inserts go through append_epoch's alive-set guard alone: in one
    request an already-present (or repeated) triple stays single, a triple
    tombstoned by the request's earlier op is re-inserted, and a new
    predicate and term are catalogued — the live view equals the batch
    path, row for row. A request whose inserts all exist (or whose deletes
    match nothing) leaves no epoch dir behind."""
    stream_dir = str(tmp_path / "stream")
    base = sorted(_rows(_decoded(tiny_graph)))
    present = next(r for r in base if r[1] == "ub:memberOf")
    moved = next(r for r in base if r[1] == "ub:advisor")
    fresh = ("ub:Brand_New_1", "ub:brandNewPred", moved[2])

    def data(*triples):
        return " . ".join(" ".join(f"<{t}>" for t in r) for r in triples)

    text = (
        PRO
        + "DELETE { ?s ub:advisor ?o } INSERT { ?s ub:advisedBy ?o } "
        "WHERE { ?s ub:advisor ?o } ; "
        f"INSERT DATA {{ {data(present, moved, fresh, fresh)} }}"
    )
    expected = _rows(apply_update_on_triples(_decoded(tiny_graph), text))
    assert {present, moved, fresh} <= expected
    live = apply_update(tiny_graph, stream_dir, text)
    assert _rows(_decoded(live)) == expected
    assert _decoded(live).count() == len(expected)

    before = _epoch_dirs(stream_dir)
    live = apply_update(
        tiny_graph, stream_dir,
        PRO
        + f"INSERT DATA {{ {data(present, moved, fresh)} }} ; "
        "INSERT { ?s ub:advisedBy ?o } WHERE { ?s ub:advisedBy ?o } ; "
        "DELETE DATA { <ub:Nobody_1> <ub:advisor> <ub:Nobody_2> }",
    )
    assert _epoch_dirs(stream_dir) == before
    assert _rows(_decoded(live)) == expected
