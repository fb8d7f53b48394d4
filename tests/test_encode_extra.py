"""Extra encoding-path tests: hash-id alternative and dictionary scale notes."""


from parj_spark.construct import encode


def test_hash_ids_deterministic_and_unique(spark, tiny_graph):
    triples = tiny_graph.triples_uri()
    d1 = encode.build_dictionary(triples, hash_ids=True)
    d2 = encode.build_dictionary(triples, hash_ids=True)
    n = d1.count()
    assert d1.select("id").distinct().count() == n  # no collisions at this scale
    # deterministic across builds
    assert d1.exceptAll(d2).count() == 0 and d2.exceptAll(d1).count() == 0
    # encode path works with hash ids too
    props = encode.build_properties(triples)
    enc = encode.encode_triples(triples, d1, props)
    assert enc.count() == triples.count()


def test_hash_ids_dictionary_is_lazy(spark, tiny_graph, tmp_path, spark_jobs):
    """The hash-id dictionary needs no size gate: building it submits no
    Spark job until its result is written."""
    triples = tiny_graph.triples_uri()
    with spark_jobs() as jobs:
        d = encode.build_dictionary(triples, hash_ids=True)
        assert jobs() == []
        d.write.parquet(str(tmp_path / "dict"))
        assert jobs()


def test_dense_ids_order_follows_sort(spark):
    terms = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",)], ["uri"]
    )
    d = encode._dense_ids(terms, "uri")
    got = {r["uri"]: r["id"] for r in d.collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_dense_ids_same_rows_on_both_sides_of_the_gate(spark):
    """The driver-local rank (default gate) and the distributed rank
    (``local_below=0``) give identical (id, uri) rows: a null term is
    dropped on both paths, unicode sorts by code point on both, and an
    empty term set gives an empty dictionary."""
    rows = [("b",), (None,), ("é",), ("a",), ("日本",), ("a",), (None,)]
    inputs = {
        "mixed": spark.createDataFrame(rows, "uri string"),
        "empty": spark.createDataFrame([], "uri string"),
    }
    got = {}
    for name, terms in inputs.items():
        local = sorted(tuple(r) for r in encode._dense_ids(terms, "uri").collect())
        dist = sorted(
            tuple(r) for r in encode._dense_ids(terms, "uri", local_below=0).collect()
        )
        assert local == dist, name
        got[name] = local
    assert got["mixed"] == [(0, "a"), (1, "b"), (2, "é"), (3, "日本")]
    assert got["empty"] == []
