"""Extra encoding-path tests: the dense-id assignment (both sides of its
size gate: ``tests/test_size_gate.py``)."""


from parj_spark.construct import encode


def test_dense_ids_order_follows_sort(spark):
    terms = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",)], ["uri"]
    )
    d = encode._dense_ids(terms, "uri")
    got = {r["uri"]: r["id"] for r in d.collect()}
    assert got == {"a": 0, "b": 1, "c": 2}
