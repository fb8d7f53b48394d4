"""Extra encoding-path tests: the dense-id assignment and its size gate."""


from parj_spark.construct import encode


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
