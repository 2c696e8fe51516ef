"""Training-workflow tests (M2-M5): sampling, gates, predicate selection."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedupe_spark import training as TR
from dedupe_spark.fixtures import make_labeled_pairs, make_pages
from dedupe_spark.operators import blocking as B
from dedupe_spark.pipeline import pages_df, prepare_pages


@pytest.fixture(scope="module")
def corpus(spark):
    pages_pd, truth = make_pages(n_base=80, seed=42)
    records = prepare_pages(pages_df(spark, pages_pd)).cache()
    labels = spark.createDataFrame(make_labeled_pairs(truth, n_pos=60, n_neg=120))
    return records, labels


def test_training_slice_deterministic(corpus):
    records, _ = corpus
    a = [r["url"] for r in TR.training_slice(records, "url", 20).collect()]
    b = [r["url"] for r in TR.training_slice(records, "url", 20).collect()]
    assert a == b and len(a) == 20 and a == sorted(a)


def test_sample_training_pairs(corpus):
    records, _ = corpus
    preds = {"host": F.col("host_norm")}
    pairs = TR.sample_training_pairs(records, "url", preds, n_random=50)
    rows = pairs.collect()
    assert len(rows) > 20
    assert all(r["id1"] < r["id2"] for r in rows)
    assert len({(r["id1"], r["id2"]) for r in rows}) == len(rows)


def test_split_labels_filters_u(corpus, spark):
    _, labels = corpus
    match, distinct = TR.split_labels(labels)
    assert match.where("label != 'y'").count() == 0
    assert distinct.where("label != 'n'").count() == 0
    assert match.count() + distinct.count() == labels.where("label != 'u'").count()


def test_check_label_gates(spark):
    few = spark.createDataFrame(
        [("a", "b", "y"), ("c", "d", "n")], "id1 string, id2 string, label string"
    )
    g = TR.check_label_gates(few)
    assert not g["passes"] and g["y"] == 1 and g["n"] == 1
    many = spark.createDataFrame(
        [(f"a{i}", f"b{i}", "y" if i % 2 else "n") for i in range(16)],
        "id1 string, id2 string, label string",
    )
    assert TR.check_label_gates(many)["passes"]


def test_select_predicates_greedy(corpus):
    records, labels = corpus
    positives = labels.where("label = 'y'").select(
        F.col("url1").alias("id1"), F.col("url2").alias("id2")
    )
    cands = {
        "host": F.col("host_norm"),
        "title1": B.first_tokens("title_norm", 1),
        "lang": F.col("lang"),  # useless: blocks everything, covers nothing extra
    }
    chosen = TR.select_predicates(records, positives, "url", cands)
    assert 1 <= len(chosen) <= 4
    assert "host" in chosen  # dup variants share host by construction


def test_blocking_recall(corpus):
    records, labels = corpus
    positives = labels.where("label = 'y'").select(
        F.col("url1").alias("id1"), F.col("url2").alias("id2")
    )
    blocks = B.generate_blocks(records, "url", {"host": F.col("host_norm")})
    cands = B.candidate_pairs(blocks)
    rec = TR.blocking_recall(cands, positives)
    assert rec >= 0.95


def _ranked(rows, k):
    id1 = np.array([r[0] for r in rows], dtype=object)
    id2 = np.array([r[1] for r in rows], dtype=object)
    score = np.array([r[2] for r in rows])
    return [(id1[i], id2[i]) for i in TR.uncertain_pairs(id1, id2, score, k=k)]


def test_uncertain_pairs_ordering():
    rows = [("a", "b", 0.51), ("c", "d", 0.9), ("e", "f", 0.45), ("g", "h", 0.1)]
    assert _ranked(rows, k=2) == [("a", "b"), ("e", "f")]


def test_uncertain_pairs_exact_tie_breaks_by_ids():
    """0.25 and 0.75 sit exactly 0.25 from the boundary: the tie goes to
    the smaller id1, then the smaller id2."""
    rows = [
        ("b", "c", 0.75),
        ("a", "z", 0.25),
        ("b", "a", 0.25),
        ("a", "m", 0.75),
        ("c", "d", 0.6),
    ]
    assert _ranked(rows, k=5) == [
        ("c", "d"),
        ("a", "m"),
        ("a", "z"),
        ("b", "a"),
        ("b", "c"),
    ]


def test_hash_split_deterministic_and_complete(spark):
    from dedupe_spark.training import hash_split, hash_split_thresholds

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = hash_split(df, "doc_id").groupBy("split").count().collect()
    b = hash_split(df, "doc_id").groupBy("split").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # rerun-stable
    counts = {r["split"]: r["count"] for r in a}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    # 90/5/5 within sampling tolerance at n=2000
    assert 1700 <= counts["train"] <= 1900
    # different salt reshuffles folds
    c = {
        r["split"]: r["count"]
        for r in hash_split(df, "doc_id", salt="other")
        .groupBy("split").count().collect()
    }
    assert c != counts
    # threshold helper mirrors the operator's cumulative hex math
    th = dict(hash_split_thresholds())
    assert th["train"] == "e6666666" and th["val"] == "f3333333"
    assert th["test"] == "g"


def test_hash_split_rejects_bad_fractions(spark):
    import pytest as _pytest

    from dedupe_spark.training import hash_split

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "doc_id", {"train": 0.5, "test": 0.4})


def test_predicate_learning_greedy_semantics(spark):
    """The unrolled greedy cover must match a literal driver-side
    greedy over the same coverage relation: same predicate order, same
    newly-covered counts, strictly decreasing marginal gains."""
    from dedupe_spark.queries import (
        QUERIES,
        _learn_predicate_columns,
        q_winnow_span_pairs,
    )
    from dedupe_spark.training import predicate_cover

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet")
    pos = q_winnow_span_pairs(spark, sf).select("id1", "id2")
    cov = predicate_cover(
        docs, pos, "doc_id", _learn_predicate_columns()
    ).collect()
    by_pred: dict[str, set] = {}
    for r in cov:
        by_pred.setdefault(r["pred"], set()).add((r["id1"], r["id2"]))
    covered: set = set()
    expect = []
    for rnd in range(1, 4):
        # tie order: max count, then predicate name ascending
        cnts = {p: len(by_pred[p] - covered) for p in by_pred}
        top = max(cnts.values())
        best = min(p for p, c in cnts.items() if c == top)
        if top == 0:
            break
        expect.append((rnd, best, top))
        covered |= by_pred.pop(best)
    got = [
        (r["round"], r["predicate"], r["newly_covered"])
        for r in QUERIES["predicate_learning"](spark, sf).collect()
    ]
    assert got == expect
    gains = [g for (_, _, g) in got]
    assert gains == sorted(gains, reverse=True)
