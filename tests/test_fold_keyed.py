"""Property test for the shared parse -> gate -> fold kernel
(core/accumulate_batch.py::fold_keyed): on random keyed batches it must
equal a naive per-row ``accumulate_doc`` fold — states, per-key counts
and per-occurrence error messages — under enum-off, enum-cardinality
and predefined-enum contexts."""

import json

import pandas as pd
import pytest
from hypothesis import given, seed, settings
from hypothesis import strategies as st

from schema_guru_spark.core.accumulate import accumulate_doc
from schema_guru_spark.core.accumulate_batch import fold_keyed
from schema_guru_spark.core.context import SchemaContext
from schema_guru_spark.core.json_fast import loads as fast_loads
from schema_guru_spark.core.microschema import dumps

CONTEXTS = [
    SchemaContext.make(0),
    SchemaContext.make(2),
    SchemaContext.make(0, enum_sets=[["a", "b", 1, True]]),
]

_scalars = st.one_of(
    st.none(),
    st.booleans(),
    # float-exact ints: int -> num widening goes through float64
    st.integers(min_value=-(2**53) + 1, max_value=2**53 - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.sampled_from(["a", "b", "x", "", "2024-01-02T03:04:05Z",
                     "1.2.3.4", "http://example.com/a",
                     "123e4567-e89b-12d3-a456-426614174000"]),
)
_values = st.recursive(
    _scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(st.sampled_from("pqr"), children, max_size=3)),
    max_leaves=8,
)
_texts = st.one_of(
    # few-valued docs: enum candidates whose order-sensitive merge
    # tells a row-order fold from a collapsed one
    st.sampled_from([1, 2, 3, "a", "b"]).map(lambda v: json.dumps({"p": v})),
    st.dictionaries(st.sampled_from("pqrs"), _values,
                    max_size=4).map(json.dumps),
    st.lists(_values, max_size=3).map(json.dumps),
    _scalars.map(json.dumps),                      # top-level scalar
    st.sampled_from(["{broken", "", "[1,", "nope"]),  # invalid JSON
    st.none(),                                     # NULL text
)


@st.composite
def keyed_batches(draw):
    # a small pool sampled with replacement: duplicates land within
    # and across keys
    pool = draw(st.lists(_texts, min_size=1, max_size=6))
    keys = st.sampled_from([None, "k1", "k2", "k3"])
    rows = draw(st.lists(st.tuples(keys, st.sampled_from(pool)),
                         max_size=40))
    return rows


def _naive(rows, ctx):
    states, counts, errors = {}, {}, []
    for i, (key, text) in enumerate(rows):
        c = counts.setdefault(key, [0, 0])
        try:
            if text is None:
                raise ValueError("null content")
            try:
                value = fast_loads(text)
            except (ValueError, TypeError) as e:
                raise ValueError(f"invalid JSON: {e}")
            st_ = states.get(key, {})
            accumulate_doc(st_, value, ctx)  # raises before mutating
            states[key] = st_
            c[0] += 1
        except ValueError as e:
            c[1] += 1
            errors.append((i, key, str(e)))
    return states, counts, errors


@pytest.mark.parametrize("ctx", CONTEXTS, ids=["off", "card2", "sets"])
@seed(20261017)
@settings(max_examples=120, deadline=None)
@given(rows=keyed_batches(), cut=st.integers(min_value=0, max_value=40))
def test_fold_keyed_equals_naive_row_fold(ctx, rows, cut):
    ref_states, ref_counts, ref_errors = _naive(rows, ctx)

    pdf = pd.DataFrame(rows, columns=["k", "t"], dtype=object)
    states, counts, errors = fold_keyed(pdf["t"], pdf["k"], ctx)
    assert counts == ref_counts
    assert {k: dumps(s) for k, s in states.items()} == \
        {k: dumps(s) for k, s in ref_states.items()}
    assert errors == ref_errors

    # two batches folded into the same accumulators == one batch
    m = min(cut, len(rows))
    split_states, split_counts = {}, {}
    first = fold_keyed(pdf["t"][:m], pdf["k"][:m], ctx,
                       split_states, split_counts)[2]
    second = fold_keyed(pdf["t"][m:], pdf["k"][m:], ctx,
                        split_states, split_counts)[2]
    assert split_counts == ref_counts
    assert {k: dumps(s) for k, s in split_states.items()} == \
        {k: dumps(s) for k, s in ref_states.items()}
    assert first + \
        [(i + m, key, msg) for i, key, msg in second] == ref_errors


@pytest.mark.parametrize("ctx", CONTEXTS, ids=["off", "card2", "sets"])
@seed(20261017)
@settings(max_examples=60, deadline=None)
@given(texts=st.lists(_texts, max_size=30))
def test_fold_keyed_without_keys_is_one_none_key(ctx, texts):
    ref_states, ref_counts, ref_errors = _naive(
        [(None, t) for t in texts], ctx)
    states, counts, errors = fold_keyed(
        pd.Series(texts, dtype=object), None, ctx)
    assert counts == ref_counts
    assert {k: dumps(s) for k, s in states.items()} == \
        {k: dumps(s) for k, s in ref_states.items()}
    assert errors == ref_errors


def test_fold_keyed_folds_per_key_context():
    """``ctx_by_key`` routes each key's docs through its own context
    (segmented mode's per-segment quantity gates base64 suggestion)."""
    doc = json.dumps({"b": "QUJDREVGR0g="})
    ctx = SchemaContext.make(0)
    per_key = {"few": SchemaContext.make(0, quantity=1)}
    states, _, _ = fold_keyed(pd.Series([doc, doc]),
                              pd.Series(["few", "many"]), ctx,
                              ctx_by_key=per_key)
    for key, kctx in (("few", per_key["few"]), ("many", ctx)):
        want = accumulate_doc({}, json.loads(doc), kctx)
        assert dumps(states[key]) == dumps(want)
    assert dumps(states["few"]) != dumps(states["many"])
