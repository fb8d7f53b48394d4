from pyspark.sql import functions as F

from parj_spark.construct import canonicalize, extract, linking
from parj_spark.construct.pipeline import run_pipeline


def test_span_sequence_invariant(spark, tiny_corpus):
    """BASELINE input_hint per-row invariant: exploded span sequence
    (kind, text, media_ref, order) round-trips exactly."""
    docs, _ = tiny_corpus
    seq = extract.span_sequence(docs)
    n_spans = docs.select(F.sum(F.size("spans"))).first()[0]
    assert seq.count() == n_spans
    rebuilt = (
        seq.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "kind", "text", "media_ref"))
            ).alias("sq")
        )
    )
    orig = docs.select(
        "doc_id",
        F.transform(
            "spans",
            lambda sp, i: F.struct(
                i.alias("pos"),
                sp.kind.alias("kind"),
                sp.text.alias("text"),
                sp.media_ref.alias("media_ref"),
            ),
        ).alias("sq"),
    )
    joined = rebuilt.alias("a").join(orig.alias("b"), "doc_id")
    mismatches = joined.filter(F.col("a.sq") != F.col("b.sq")).count()
    assert mismatches == 0


def test_extraction_covers_all_text_spans(spark, tiny_corpus):
    docs, _ = tiny_corpus
    n_text = (
        extract.explode_spans(docs).filter(F.col("kind") == "text").count()
    )
    mentions = extract.extract_mentions(docs)
    assert mentions.count() == n_text  # every sentence parses to exactly one mention


def test_connected_components_shapes(spark):
    # chain, star, clique, two-hop alias chain, singleton pair
    edges = spark.createDataFrame(
        [
            ("a1", "a2"), ("a2", "a3"), ("a3", "a4"),         # chain
            ("s0", "s1"), ("s0", "s2"), ("s0", "s3"),         # star
            ("c1", "c2"), ("c2", "c3"), ("c1", "c3"),         # clique
            ("x", "y"),                                        # pair
        ],
        ["src", "dst"],
    )
    labels, iters = canonicalize.connected_components(edges)
    got = {r["node"]: r["component"] for r in labels.collect()}
    assert {got[n] for n in ["a1", "a2", "a3", "a4"]} == {"a1"}
    assert {got[n] for n in ["s0", "s1", "s2", "s3"]} == {"s0"}
    assert {got[n] for n in ["c1", "c2", "c3"]} == {"c1"}
    assert got["x"] == got["y"] == "x"
    assert iters <= 6


def test_coref_edges_reach_canonical(spark):
    surfaces = spark.createDataFrame(
        [("Pr_0_1_2",), ("Crs_0_0_1",), ("FullProfessor_9_9_9",)], ["surface"]
    )
    edges = {(r.src, r.dst) for r in linking.coref_edges(surfaces).collect()}
    assert ("Pr_0_1_2", "Prof_0_1_2") in edges
    assert ("Prof_0_1_2", "FullProfessor_0_1_2") in edges
    assert ("Crs_0_0_1", "Course_0_0_1") in edges
    assert not any(s == "FullProfessor_9_9_9" for s, _ in edges)


def test_pipeline_precision_recall(spark, tiny_corpus, tiny_graph):
    """North-rule gate: extracted canonical triples P/R >= 0.95 vs gold."""
    _, gold = tiny_corpus
    got = tiny_graph.triples_uri().select("s_uri", "p_uri", "o_uri").distinct()
    gold_t = gold.select("s_uri", "p_uri", "o_uri").distinct()
    tp = got.intersect(gold_t).count()
    n_got, n_gold = got.count(), gold_t.count()
    precision = tp / n_got
    recall = tp / n_gold
    assert precision >= 0.95, f"precision {precision} ({tp}/{n_got})"
    assert recall >= 0.95, f"recall {recall} ({tp}/{n_gold})"


def test_encoded_graph_consistency(spark, tiny_graph):
    spo = tiny_graph.spo()
    pos = tiny_graph.pos()
    assert spo.count() == pos.count() == tiny_graph.triples_uri().count()
    assert set(spo.columns) >= {"s", "o", "p"}
    # single-copy layout: the default graph keeps no plain salted spo/pos
    # dirs — spo()/pos() read the bucketed tables' parquet directly
    import os as _os
    assert not _os.path.exists(_os.path.join(tiny_graph.out_dir, "spo"))
    assert _os.path.exists(_os.path.join(tiny_graph.out_dir, "bucketed", "spo"))
    # dictionary is a bijection with dense ids
    d = tiny_graph.dict()
    n = d.count()
    assert d.select("id").distinct().count() == n
    assert d.select("uri").distinct().count() == n
    mm = d.agg(F.min("id"), F.max("id")).first()
    assert mm[0] == 0 and mm[1] == n - 1
    # every encoded id decodes
    ids_used = spo.select(F.col("s").alias("id")).union(
        spo.select(F.col("o").alias("id"))
    ).distinct()
    assert ids_used.join(d, "id", "left_anti").count() == 0


def test_pipeline_resume_skips_stages(spark, tiny_corpus, tiny_graph, tmp_path):
    """Re-running over the same out_dir must not recompute (lineage stable)."""
    from parj_spark.construct.lineage import read_lineage

    docs, _ = tiny_corpus
    before = len(read_lineage(tiny_graph.out_dir))
    run_pipeline(spark, docs, tiny_graph.out_dir, resume=True)
    after = len(read_lineage(tiny_graph.out_dir))
    assert before == after


def test_class_stats_table(spark, tiny_graph):
    """T2 table = exact rdf:type class histogram of the encoded graph."""
    cs = tiny_graph.class_stats()
    assert cs is not None
    d = tiny_graph.dict()
    type_id = d.filter(F.col("uri") == "rdf:type")  # not in dict: predicate table
    props = tiny_graph.properties()
    tid = props.filter(F.col("uri") == "rdf:type").first()["id"]
    exact = (
        tiny_graph.spo().filter(F.col("p") == tid).groupBy("o").count()
    )
    got = {r["o"]: r["n"] for r in cs.collect()}
    want = {r["o"]: r["count"] for r in exact.collect()}
    assert got == want and got


def test_materialize_resume_marker(spark, tmp_path):
    """The materialize step resumes only on the all-writers-committed marker:
    spo/_SUCCESS alone (a torn concurrent write) no longer skips the step."""
    import os
    import shutil

    from parj_spark.construct.pipeline import GRAPH_COMMITTED_MARKER
    from parj_spark.fixtures import gen_corpus

    docs, _ = gen_corpus(spark, n_depts=2, seed=42)
    out = str(tmp_path / "g")
    run_pipeline(spark, docs, out, resume=False)
    marker = os.path.join(out, GRAPH_COMMITTED_MARKER)
    assert os.path.exists(marker)
    # simulate a torn materialize: spo committed, pos lost, marker absent
    # (single-copy layout: the permutations live under bucketed/)
    shutil.rmtree(os.path.join(out, "bucketed", "pos"))
    os.remove(marker)
    assert os.path.exists(os.path.join(out, "bucketed", "spo"))
    store = run_pipeline(spark, docs, out, resume=True)
    assert store.pos().count() == store.spo().count()
    assert os.path.exists(marker)


def test_links_stage_opt_in(spark, tmp_path):
    """The links side-table is computed only on request (it is not consumed
    by canonicalization, so it stays out of the default timed path)."""
    import os

    from parj_spark.fixtures import gen_corpus

    docs, _ = gen_corpus(spark, n_depts=2, seed=42)
    out_default = str(tmp_path / "nolinks")
    run_pipeline(spark, docs, out_default, resume=False)
    assert not os.path.exists(os.path.join(out_default, "links"))
    out_links = str(tmp_path / "links")
    run_pipeline(spark, docs, out_links, resume=False, compute_links=True)
    assert os.path.exists(os.path.join(out_links, "links", "_SUCCESS"))


def test_lakehouse_seam_detects_and_gates(spark, tmp_path):
    """The table-format seam picks parquet in the jar-less sandbox, writes
    the same sorted/partitioned layout the permutation writers need, and
    refuses an explicit Iceberg request instead of silently downgrading."""
    import pytest
    from pyspark.sql import functions as F

    from parj_spark.construct import lakehouse

    assert lakehouse.iceberg_enabled(spark) is False
    df = spark.range(100).select(
        (F.col("id") % 5).alias("p"), F.col("id").alias("s"),
        (F.col("id") * 3 % 17).alias("o"),
    )
    out = str(tmp_path / "t")
    lakehouse.write_sorted_table(
        df.repartition("p"), out, partition_by=("p",), sort_within=("s", "o")
    )
    back = spark.read.parquet(out)
    assert back.count() == 100
    assert "p=0" in str(sorted(__import__("os").listdir(out)))
    with pytest.raises(RuntimeError, match="[Ii]ceberg"):
        lakehouse.write_sorted_table(df, out, table_format="iceberg")


def test_partition_counters_from_footers(spark, tiny_graph):
    """Per-partition counters come from the parquet footers the stage
    already wrote — no extra Spark job — and reconcile exactly with the
    stage total (the per-partition half of the north rule's lineage +
    counters contract)."""
    import os

    from parj_spark.construct import lineage

    counters = lineage.partition_counters(
        os.path.join(tiny_graph.out_dir, "bucketed", "spo")
    )
    assert counters
    assert sum(c["rows"] for c in counters) == tiny_graph.spo().count()
    # hive partition values parsed from the paths (skew audit grain)
    assert all("p" in c["partition"] for c in counters)
    assert all(c["bytes"] > 0 for c in counters)


def test_fold_sameas_semantics(spark):
    """sameAs smushing: undirected multi-hop merge onto the min member,
    duplicate facts collapse, alias facts transfer, literals untouched,
    sameAs rows dropped, non-cluster rows pass through."""
    from parj_spark.construct.canonicalize import fold_sameas

    t = spark.createDataFrame(
        [
            # 3-node cluster with mixed edge directions: min member = ub:a
            ("ub:b", "owl:sameAs", "ub:a"),
            ("ub:b", "owl:sameAs", "ub:c"),
            ("ub:a", "ub:knows", "ub:z"),
            ("ub:b", "ub:knows", "ub:z"),      # duplicate after folding
            ("ub:c", "ub:mail", "c@x.org"),    # literal object, transfers
            ("ub:z", "ub:likes", "ub:c"),      # object-side rewrite
            # untouched row
            ("ub:q", "ub:knows", "ub:r"),
        ],
        ["s", "p", "o"],
    )
    got = {(r.s, r.p, r.o) for r in fold_sameas(t).collect()}
    assert got == {
        ("ub:a", "ub:knows", "ub:z"),
        ("ub:a", "ub:mail", "c@x.org"),
        ("ub:z", "ub:likes", "ub:a"),
        ("ub:q", "ub:knows", "ub:r"),
    }


def test_fold_sameas_priority_representative(spark):
    """Priority column overrides the min-member default (e.g. prefer
    canonical-prefix URIs regardless of lexicographic order)."""
    from pyspark.sql import functions as F

    from parj_spark.construct.canonicalize import fold_sameas

    t = spark.createDataFrame(
        [
            ("ub:alias_a", "owl:sameAs", "ub:zcanon_a"),
            ("ub:alias_a", "ub:knows", "ub:alias_b"),
            ("ub:alias_b", "owl:sameAs", "ub:zcanon_b"),
        ],
        ["s", "p", "o"],
    )
    rank = F.when(F.col("node").startswith("ub:zcanon"), 0).otherwise(1)
    got = {(r.s, r.p, r.o) for r in fold_sameas(t, priority=rank).collect()}
    assert got == {("ub:zcanon_a", "ub:knows", "ub:zcanon_b")}


def test_materialize_sameas_stage(spark, tmp_path):
    """materialize_triples(sameas=...) folds clusters before encoding (and
    before entailment — merged entities pool their assertions, so the
    closure types the representative from an alias's type triple)."""
    from parj_spark.construct.pipeline import materialize_triples

    rows = [
        ("ub:a", "owl:sameAs", "ub:b"),
        ("ub:b", "rdf:type", "ub:Grad"),           # alias-held type
        ("ub:Grad", "rdfs:subClassOf", "ub:Student"),
        ("ub:a", "ub:knows", "ub:z"),
    ]
    df = spark.createDataFrame(rows, ["s_uri", "p_uri", "o_uri"])
    store = materialize_triples(
        spark, df, str(tmp_path / "g"), resume=False, analyze=False,
        sameas="owl:sameAs", entail=True,
    )
    d = store.dict()
    p = store.properties()
    dec = (
        store.spo()
        .join(d.select(F.col("id").alias("s"), F.col("uri").alias("su")), "s")
        .join(d.select(F.col("id").alias("o"), F.col("uri").alias("ou")), "o")
        .join(p.select(F.col("id").alias("p"), F.col("uri").alias("pu")), "p")
    )
    got = {(r.su, r.pu, r.ou) for r in dec.select("su", "pu", "ou").collect()}
    assert got == {
        ("ub:a", "rdf:type", "ub:Grad"),        # folded onto min member
        ("ub:a", "rdf:type", "ub:Student"),     # entailed AFTER the fold
        ("ub:Grad", "rdfs:subClassOf", "ub:Student"),
        ("ub:a", "ub:knows", "ub:z"),
    }
    # sameAs rows are gone; ub:b is not a subject anywhere
    assert not any(s == "ub:b" or pu == "owl:sameAs" for s, pu, _ in got)


def test_ifp_fold_entities(spark):
    """IFP rule: subjects sharing an inverse-functional value merge (star
    edges, min representative); junk values over max_group are dropped;
    IFP-derived and explicit sameAs edges close over ONE union-find."""
    from parj_spark.construct.canonicalize import fold_entities, ifp_sameas_edges

    t = spark.createDataFrame(
        [
            # x and y share an identifying email -> merge (min = ub:x)
            ("ub:x", "ub:email", "a@x.org"),
            ("ub:y", "ub:email", "a@x.org"),
            # y is ALSO explicitly sameAs z -> {x, y, z} one cluster
            ("ub:y", "owl:sameAs", "ub:z"),
            ("ub:z", "ub:age", "30"),
            # junk value shared by 3 subjects > max_group=2 -> no merge
            ("ub:j1", "ub:email", "n/a"),
            ("ub:j2", "ub:email", "n/a"),
            ("ub:j3", "ub:email", "n/a"),
            # non-IFP predicate sharing a value -> never merges
            ("ub:p1", "ub:city", "Springfield"),
            ("ub:p2", "ub:city", "Springfield"),
        ],
        ["s", "p", "o"],
    )
    edges = {
        (r.src, r.dst)
        for r in ifp_sameas_edges(t, ["ub:email"], max_group=2).collect()
    }
    assert edges == {("ub:x", "ub:y")}
    got = {
        (r.s, r.p, r.o)
        for r in fold_entities(
            t, ifp_preds=["ub:email"], max_group=2
        ).collect()
    }
    assert got == {
        ("ub:x", "ub:email", "a@x.org"),   # duplicates collapsed
        ("ub:x", "ub:age", "30"),          # via the sameAs hop
        ("ub:j1", "ub:email", "n/a"),
        ("ub:j2", "ub:email", "n/a"),
        ("ub:j3", "ub:email", "n/a"),
        ("ub:p1", "ub:city", "Springfield"),
        ("ub:p2", "ub:city", "Springfield"),
    }
