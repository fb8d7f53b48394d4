"""Opt-in deep differential fuzz: the same four query generators as
test_sparql_differential, but with random (non-derandomized) seeds and
~90 examples each, so every run explores new query space instead of
replaying the pinned corpus. Costs ~5 minutes of Spark time, so it is
gated behind PARJ_DEEP_FUZZ=1 and skipped in the default suite:

    PARJ_DEEP_FUZZ=1 python -m pytest tests/test_deep_fuzz.py -q

Run it after any change to the SPARQL parser, the BGP planner, or the
FILTER/OPTIONAL/MINUS/VALUES lowering. A failure prints the shrunk query
text + flags (print_blob=True) — pin that example in
test_sparql_differential's regression list once fixed."""
import os

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from tests.test_sparql_differential import (  # noqa: F401
    _assert_agree, _gen_query, _gen_query_ext, _gen_query_ext2,
    _gen_query_combo, diff,
)

pytestmark = pytest.mark.skipif(
    os.environ.get("PARJ_DEEP_FUZZ") != "1",
    reason="deep fuzz is opt-in: set PARJ_DEEP_FUZZ=1 (~5 min of Spark time)",
)

DEEP = settings(
    max_examples=90, deadline=None, derandomize=False, print_blob=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


@DEEP
@given(data=st.data())
def test_deep_base(diff, data):
    text, flags, sql = _gen_query(data.draw, diff["vocab"], diff["preds"])
    _assert_agree(diff, text, flags, sql)


@DEEP
@given(data=st.data())
def test_deep_ext(diff, data):
    text, flags, sql = _gen_query_ext(data.draw, diff["vocab"], diff["preds"])
    _assert_agree(diff, text, flags, sql)


@DEEP
@given(data=st.data())
def test_deep_ext2(diff, data):
    text, flags, sql = _gen_query_ext2(data.draw, diff["vocab"], diff["preds"])
    _assert_agree(diff, text, flags, sql)


@DEEP
@given(data=st.data())
def test_deep_combo(diff, data):
    text, flags, sql = _gen_query_combo(data.draw, diff["vocab"], diff["preds"])
    _assert_agree(diff, text, flags, sql)
