"""Feature extraction + scoring UDF tests (SURVEY.md M1/M7/M8)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedupe_spark.functions import strings as S
from dedupe_spark.model import LogisticModel, fit_logistic, sigmoid
from dedupe_spark.normalize import MISSING
from dedupe_spark.operators.scoring import (
    FieldSpec,
    attach_pair_fields,
    compute_features,
    feature_names,
    score_pairs,
)

FIELDS = [FieldSpec("name", "String"), FieldSpec("body", "Text")]


def test_feature_names():
    assert feature_names(FIELDS) == [
        "name_jw",
        "name_lev",
        "name_missing",
        "body_cos",
        "body_missing",
    ]
    assert feature_names([FieldSpec("x", "Exact", has_missing=False)]) == ["x_eq"]


def test_compute_features_values():
    left = {"name": pd.Series(["acme corp", MISSING]), "body": pd.Series(["a b", "a b"])}
    right = {"name": pd.Series(["acme corp", "x"]), "body": pd.Series(["a b", "b a"])}
    X = compute_features(left, right, FIELDS)
    assert X.shape == (2, 5)
    # row 0: identical name -> jw=1, lev=1, missing=0; identical body cos=1
    np.testing.assert_allclose(X[0], [1.0, 1.0, 0.0, 1.0, 0.0])
    # row 1: name missing -> distances zeroed, missing=1; body orderless cos=1
    np.testing.assert_allclose(X[1], [0.0, 0.0, 1.0, 1.0, 0.0])


def test_compute_features_price():
    f = [FieldSpec("p", "Price")]
    left = {"p": pd.Series(["100", "100", "abc"])}
    right = {"p": pd.Series(["100", "50", "100"])}
    X = compute_features(left, right, f)
    np.testing.assert_allclose(X[:, 0], [1.0, 0.5, 0.0])
    np.testing.assert_allclose(X[:, 1], [0.0, 0.0, 1.0])  # missing indicator


def test_compute_features_datetime():
    """M1 DateTime variable (reference map dedupe_script.py:266-286):
    component-cascade distances at year/day/second granularity; unparseable
    values fold into the missing indicator."""
    f = [FieldSpec("ts", "DateTime")]
    assert feature_names(f) == ["ts_dt_y", "ts_dt_d", "ts_dt_s", "ts_missing"]
    left = {
        "ts": pd.Series(
            ["2021-03-05", "2021-03-05", "2021-03-05 00:00:00", "not a date"]
        )
    }
    right = {
        "ts": pd.Series(
            ["2021-03-05", "2022-03-05", "2021-03-05 06:00:00", "2021-03-05"]
        )
    }
    X = compute_features(left, right, f)
    # equal -> all zero distances
    np.testing.assert_allclose(X[0], [0.0, 0.0, 0.0, 0.0])
    # 1 year apart: years=365/365.25/10, days capped at 1.0, seconds capped
    np.testing.assert_allclose(
        X[1], [365.0 / 365.25 / 10.0, 1.0, 1.0, 0.0], rtol=1e-9
    )
    # 6 hours apart: fine component = 0.25, day component = 0.25/365
    np.testing.assert_allclose(
        X[2], [6 * 3600 / (365.25 * 86400) / 10, 0.25 / 365.0, 0.25, 0.0],
        rtol=1e-9,
    )
    # unparseable -> distances zeroed, missing indicator set
    np.testing.assert_allclose(X[3], [0.0, 0.0, 0.0, 1.0])


def test_dedupe_table_datetime_column(spark):
    """A user with a DateTime column must be able to run the one-call flow
    (the reference maps type config 'DateTime'; round 1 raised ValueError)."""
    from dedupe_spark.api import dedupe_table

    rows = [
        ("r1", "2021-03-05 10:00:00"),
        ("r2", "2021-03-05 10:00:03"),
        ("r3", "1999-12-31 23:59:59"),
        ("r4", "2000-01-01 00:00:01"),
        ("r5", "2010-06-15 12:00:00"),
    ]
    records = spark.createDataFrame(rows, "record_id string, ts string")
    labels = spark.createDataFrame(
        [("r1", "r2", "y"), ("r3", "r4", "y"), ("r1", "r5", "n"),
         ("r2", "r5", "n"), ("r3", "r5", "n"), ("r4", "r1", "n")],
        "id1 string, id2 string, label string",
    )
    clusters = dedupe_table(
        records, labels, id_col="record_id", field_type="DateTime"
    )
    # near-identical timestamps cluster; far-apart ones don't
    got = {
        tuple(sorted(m["record_id"] for m in r["records"]))
        for r in clusters.collect()
    }
    assert ("r1", "r2") in got


def test_fit_logistic_separable():
    rng = np.random.RandomState(0)
    X = rng.rand(200, 2)
    y = (X[:, 0] + X[:, 1] > 1.0).astype(float)
    m = fit_logistic(X, y, l2=0.01)
    acc = ((m.predict_proba(X) > 0.5) == y).mean()
    assert acc > 0.95


def test_fit_logistic_rejects_single_class():
    with pytest.raises(ValueError):
        fit_logistic(np.ones((5, 2)), np.ones(5))


def test_score_pairs_matches_driver_model(spark):
    records = spark.createDataFrame(
        [
            ("u1", "acme corp", "quick brown fox"),
            ("u2", "acme corporation", "quick brown fox jumps"),
            ("u3", "zenith ltd", "totally different text"),
        ],
        "url string, name_n string, body_n string",
    )
    pairs = spark.createDataFrame(
        [("u1", "u2"), ("u1", "u3")], "id1 string, id2 string"
    )
    fields = [FieldSpec("name_", "String"), FieldSpec("body_", "Text")]
    model = LogisticModel(
        np.array([2.0, 1.0, -1.0, 1.5, -1.0]),
        -2.0,
        feature_names(fields),
    )
    got = {
        (r["id1"], r["id2"]): r["score"]
        for r in score_pairs(pairs, records, model, fields, "url", "n").collect()
    }

    def manual(a_name, b_name, a_body, b_body):
        X = compute_features(
            {"name_": pd.Series([a_name]), "body_": pd.Series([a_body])},
            {"name_": pd.Series([b_name]), "body_": pd.Series([b_body])},
            fields,
        )
        return float(model.predict_proba(X)[0])

    assert got[("u1", "u2")] == pytest.approx(
        manual("acme corp", "acme corporation", "quick brown fox", "quick brown fox jumps")
    )
    assert got[("u1", "u3")] == pytest.approx(
        manual("acme corp", "zenith ltd", "quick brown fox", "totally different text")
    )
    assert got[("u1", "u2")] > got[("u1", "u3")]


def test_score_pairs_strategies_agree(spark):
    """The lookup (gather) and join physical paths must produce identical
    scores — they are alternative data paths to one kernel."""
    from dedupe_spark.operators.scoring import try_build_lookup
    import random

    rng = random.Random(9)
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    records = spark.createDataFrame(
        [
            (f"u{i}", " ".join(rng.choices(words, k=3)), " ".join(rng.choices(words, k=8)))
            for i in range(40)
        ],
        "url string, name_n string, body_n string",
    )
    pairs = spark.createDataFrame(
        [(f"u{i}", f"u{j}") for i in range(40) for j in range(i + 1, 40) if (i + j) % 7 == 0],
        "id1 string, id2 string",
    )
    fields = [FieldSpec("name_", "String"), FieldSpec("body_", "Text")]
    model = LogisticModel(
        np.array([2.0, 1.0, -1.0, 1.5, -1.0]), -2.0, feature_names(fields)
    )
    lk = try_build_lookup(records, "url", fields, "n")
    assert lk is not None
    try:
        a = {
            (r["id1"], r["id2"]): r["score"]
            for r in score_pairs(
                pairs, records, model, fields, "url", "n", lookup=None
            ).collect()
        }
        b = {
            (r["id1"], r["id2"]): r["score"]
            for r in score_pairs(
                pairs, records, model, fields, "url", "n", lookup=lk
            ).collect()
        }
    finally:
        lk.destroy()
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_lookup_positions_dense_matches_index():
    """The dense-range arithmetic path and the pandas-Index hash path are
    alternative representations of one mapping — identical positions,
    including out-of-range ids resolving to -1."""
    from dedupe_spark.functions.features import lookup_positions

    ids = np.arange(10, 25, dtype=np.int64)
    dense = {"base": 10, "n": 15}
    hashed = {"ids": pd.Index(ids)}
    queries = np.array([10, 24, 17, 9, 25, -3, 100], dtype=np.int64)
    got_dense = lookup_positions(dense, queries)
    got_hash = lookup_positions(hashed, queries)
    assert got_dense.tolist() == got_hash.tolist()
    assert got_dense.tolist() == [0, 14, 7, -1, -1, -1, -1]


def test_record_lookup_dense_int_ids(spark):
    """Contiguous int record ids (the row-index record_id case) take the
    dense fast path: the broadcast value carries base/n instead of a pandas
    Index, and scores match the join path bit-for-bit — including
    dropping pairs whose ids fall outside the range."""
    from dedupe_spark.operators.scoring import RecordLookup

    records = spark.createDataFrame(
        [(i, f"name {i % 4}") for i in range(7, 19)], "rid long, f_n string"
    )
    lk = RecordLookup.build(records, "rid", [FieldSpec("f_", "String")], "n")
    try:
        val = lk.broadcast.value
        assert val["base"] == 7 and val["n"] == 12 and "ids" not in val
        pairs = spark.createDataFrame(
            [(7, 18), (9, 9), (8, 99)], "id1 long, id2 long"
        )
        fields = [FieldSpec("f_", "String")]
        model = LogisticModel(
            np.array([1.0, 1.0, -1.0]), 0.0, feature_names(fields)
        )
        via_lookup = {
            (r["id1"], r["id2"]): r["score"]
            for r in score_pairs(
                pairs, records, model, fields, "rid", "n", lookup=lk
            ).collect()
        }
        via_join = {
            (r["id1"], r["id2"]): r["score"]
            for r in score_pairs(
                pairs, records, model, fields, "rid", "n", lookup=None
            ).collect()
        }
        assert set(via_lookup) == set(via_join) == {(7, 18), (9, 9)}
        for k in via_join:
            assert via_lookup[k] == pytest.approx(via_join[k], abs=1e-12)
    finally:
        lk.destroy()


def test_record_lookup_noncontiguous_int_ids_fall_back(spark):
    """Gappy int ids must NOT take the arithmetic path (position != id-base)."""
    from dedupe_spark.operators.scoring import RecordLookup

    records = spark.createDataFrame(
        [(3, "a"), (5, "b"), (11, "c")], "rid long, f_n string"
    )
    lk = RecordLookup.build(records, "rid", [FieldSpec("f_", "String")], "n")
    try:
        val = lk.broadcast.value
        assert "base" not in val and list(val["ids"]) == [3, 5, 11]
    finally:
        lk.destroy()


def test_record_lookup_guards(spark):
    from dedupe_spark.operators.scoring import RecordLookup

    dup = spark.createDataFrame(
        [("u1", "a"), ("u1", "b")], "url string, f_n string"
    )
    with pytest.raises(ValueError, match="not unique"):
        RecordLookup.build(dup, "url", [FieldSpec("f_", "String")], "n")


def test_score_pairs_missing_ids_dropped_both_strategies(spark):
    """Pairs referencing ids absent from records are dropped on BOTH
    physical paths (the join path drops via inner join; the gather path
    must not flip that into a crash)."""
    from dedupe_spark.operators.scoring import RecordLookup

    records = spark.createDataFrame(
        [("u1", "a"), ("u2", "a")], "url string, f_n string"
    )
    pairs = spark.createDataFrame(
        [("u1", "u2"), ("u1", "ghost")], "id1 string, id2 string"
    )
    fields = [FieldSpec("f_", "String")]
    model = LogisticModel(np.array([1.0, 1.0, -1.0]), 0.0, feature_names(fields))
    lk = RecordLookup.build(records, "url", fields, "n")
    try:
        for lookup in (None, lk):
            got = score_pairs(
                pairs, records, model, fields, "url", "n", lookup=lookup
            ).collect()
            assert [(r["id1"], r["id2"]) for r in got] == [("u1", "u2")], lookup
    finally:
        lk.destroy()


def test_gather_pairs_absent_ids_any_return_type(spark):
    """The shared gather drops absent-id pairs and kernel-None rows for a
    non-double result too, and hands the kernel only present positions."""
    from pyspark.sql.types import ArrayType, LongType

    from dedupe_spark.operators.scoring import RecordLookup, gather_pairs

    records = spark.createDataFrame(
        [("u1", "a"), ("u2", "bb"), ("u3", "ccc")], "url string, f string"
    )
    pairs = spark.createDataFrame(
        [("u1", "u2"), ("u1", "ghost"), ("u2", "u3"), ("u3", "u3")],
        "id1 string, id2 string",
    )

    def lengths(lk, p1, p2):
        t = lk["cols"]["f"]
        assert (p1 >= 0).all() and (p2 >= 0).all()
        return [
            None if a == b else [len(t[a]), len(t[b])] for a, b in zip(p1, p2)
        ]

    lk = RecordLookup.build(records, "url", [FieldSpec("f", "String")], "")
    try:
        got = gather_pairs(
            pairs, lk, lengths, ArrayType(LongType()), "lens"
        ).collect()
    finally:
        lk.destroy()
    assert sorted((r.id1, r.id2, r.lens) for r in got) == [
        ("u1", "u2", [1, 2]),
        ("u2", "u3", [2, 3]),
    ]


def test_score_pairs_threshold(spark):
    records = spark.createDataFrame(
        [("u1", "same"), ("u2", "same"), ("u3", "other")],
        "url string, name_n string",
    )
    pairs = spark.createDataFrame(
        [("u1", "u2"), ("u1", "u3")], "id1 string, id2 string"
    )
    fields = [FieldSpec("name_", "String")]
    model = LogisticModel(np.array([4.0, 2.0, -1.0]), -3.0, feature_names(fields))
    kept = score_pairs(
        pairs, records, model, fields, "url", "n", threshold=0.5
    ).collect()
    assert [(r["id1"], r["id2"]) for r in kept] == [("u1", "u2")]


def test_attach_pair_fields_prunes_columns(spark):
    records = spark.createDataFrame(
        [("u1", "a", "huge_payload")], "url string, f_n string, html string"
    )
    pairs = spark.createDataFrame([("u1", "u1")], "id1 string, id2 string")
    wide = attach_pair_fields(pairs, records, "url", ["f_n"])
    assert set(wide.columns) == {"id1", "id2", "l_f_n", "r_f_n"}


def test_lookup_positions_float_nan_ids_miss_contractually():
    """ADVICE r3: a nullable id column materialized by Arrow arrives as
    float64 with NaN — the dense path must resolve NaN / non-integral
    values to -1 by contract (not via int64 overflow wraparound), matching
    the hash path's guaranteed -1."""
    from dedupe_spark.functions.features import lookup_positions

    dense = {"base": 10, "n": 15}
    hashed = {"ids": pd.Index(np.arange(10, 25, dtype=np.int64))}
    q = np.array([10.0, np.nan, 24.0, 17.5, np.inf, 9.0], dtype=np.float64)
    got_dense = lookup_positions(dense, q)
    assert got_dense.tolist() == [0, -1, 14, -1, -1, -1]
    # integral floats agree with the hash path on the representable range
    qi = np.array([10.0, 24.0, 9.0, 25.0], dtype=np.float64)
    assert lookup_positions(dense, qi).tolist() == \
        hashed["ids"].get_indexer(qi.astype(np.int64)).tolist()
