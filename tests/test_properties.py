"""Property-based tests (hypothesis) for the driver-side kernels.

All pure-Python/numpy — no SparkSession — so they run fast and shrink well.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from dedupe_spark.functions import strings as S
from dedupe_spark.functions.normkernel import (
    MISSING,
    preprocess_series,
    preprocess_value,
)

text_st = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x2FFF
    ),
    max_size=40,
)
ascii_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=30
)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(text_st, st.none()), min_size=1, max_size=30))
def test_preprocess_series_matches_scalar(vals):
    got = list(preprocess_series(pd.Series(vals, dtype=object)))
    want = [preprocess_value(v) for v in vals]
    assert got == want


@settings(max_examples=200, deadline=None)
@given(text_st)
def test_preprocess_never_empty_or_padded(s):
    out = preprocess_value(s)
    assert out == MISSING or (out == out.strip() and out != "")
    assert out == out.lower() if out != MISSING else True


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(ascii_st, ascii_st), min_size=1, max_size=40))
def test_lev_batch_matches_scalar(pairs):
    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    got = S.levenshtein_batch_np(a, b)
    want = [S.levenshtein(x, y) for x, y in pairs]
    assert got.tolist() == want


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(ascii_st, ascii_st), min_size=1, max_size=40))
def test_jw_batch_matches_scalar(pairs):
    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    got = S.jaro_winkler_batch_np(a, b)
    want = np.array([S.jaro_winkler(x, y) for x, y in pairs])
    np.testing.assert_allclose(got, want, atol=1e-12)


@settings(max_examples=100, deadline=None)
@given(ascii_st, ascii_st)
def test_metric_properties(a, b):
    assert S.levenshtein(a, b) == S.levenshtein(b, a)
    assert S.levenshtein(a, a) == 0
    assert 0.0 <= S.jaro_winkler(a, b) <= 1.0
    assert 0.0 <= S.ngram_jaccard(a, b) <= 1.0
    assert S.ngram_jaccard(a, a) == 1.0 if a else True


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=60,
    )
)
def test_union_find_labels_are_component_minima(edge_ints):
    """Driver union-find path: label == min node id of the true component
    (checked against a brute-force transitive closure)."""
    from dedupe_spark.operators.clustering import _driver_union_find

    edges = [(f"n{u:02d}", f"n{v:02d}") for u, v in edge_ints if u != v]
    if not edges:
        return
    # brute force: iterate merging
    comp: dict[str, set[str]] = {}
    for u, v in edges:
        cu = comp.get(u, {u})
        cv = comp.get(v, {v})
        merged = cu | cv
        for x in merged:
            comp[x] = merged
    want = {x: min(c) for x, c in comp.items()}

    class FakeSpark:
        def createDataFrame(self, labels, schema):
            return labels.itertuples(index=False, name=None)

    got = dict(_driver_union_find(edges, FakeSpark()))
    assert got == want


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(alphabet="ab ", max_size=25), min_size=1, max_size=20))
def test_simhash_batch_matches_scalar(texts):
    got = S.simhash64_batch(pd.Series(texts, dtype=object))
    for t, g in zip(texts, got):
        if t and t.split():
            h = S.simhash64(t.split())
            signed = h - (1 << 64) if h >= (1 << 63) else h
            assert int(g) == signed
        else:
            assert int(g) == 0
