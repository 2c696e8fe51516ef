"""End-to-end tests of the reference-shaped API (Deduper / dedupe_table)
on the KNA-style customer-master fixture — the reference's own domain."""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from dedupe_spark.api import Deduper, dedupe_table
from dedupe_spark.fixtures import make_kna_customers
from dedupe_spark.functions.features import FieldSpec
from dedupe_spark.operators.assemble import export_flat


@pytest.fixture(scope="module")
def kna(spark):
    pdf = make_kna_customers(n_base=120, seed=44)
    df = spark.createDataFrame(pdf).withColumn(
        "record_id", F.col("Customer")
    )
    # ground truth: base record 1xxxx and its dup 9xxxx share suffix
    truth = {
        r["Customer"]: r["Customer"][1:] for r in df.select("Customer").collect()
    }
    return df.cache(), truth


def _true_pairs(truth):
    from collections import defaultdict

    groups = defaultdict(list)
    for cid, base in truth.items():
        groups[base].append(cid)
    pairs = set()
    for ids in groups.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs


def _labels(truth, spark, n_neg=60):
    import random

    rng = random.Random(7)
    pos = sorted(_true_pairs(truth))
    ids = sorted(truth)
    neg = set()
    while len(neg) < n_neg:
        a, b = rng.sample(ids, 2)
        if truth[a] != truth[b]:
            neg.add((min(a, b), max(a, b)))
    rows = [(a, b, "y") for a, b in pos] + [(a, b, "n") for a, b in sorted(neg)]
    return spark.createDataFrame(rows, "id1 string, id2 string, label string"), pos


def test_dedupe_table_kna_f1(spark, kna):
    df, truth = kna
    labels, pos = _labels(truth, spark)
    clusters = dedupe_table(
        df,
        labels,
        feature_cols=["Name 1", "Name 2", "Street", "Postal Code", "City"],
        id_col="record_id",
        threshold=0.5,
    ).cache()
    # pairwise F1 against ground truth over ALL true pairs
    got_pairs = set()
    for row in clusters.collect():
        ids = sorted(m["record_id"] for m in row["records"])
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                got_pairs.add((ids[i], ids[j]))
    true = _true_pairs(truth)
    tp = len(got_pairs & true)
    prec = tp / len(got_pairs) if got_pairs else 0
    rec = tp / len(true)
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0
    assert f1 >= 0.99, (tp, len(got_pairs), len(true))  # measured 1.0
    # output shape parity (FIXTURES.md F5)
    assert {"cluster_id", "group_size", "confidence_score", "records"} <= set(
        clusters.columns
    )
    # export with reference column order and N/A -> ''
    flat = export_flat(
        clusters, ["Name 1", "Name 2", "Street", "Postal Code", "City", "source_file"]
    )
    assert flat.columns[0] == "cluster_id"
    assert flat.columns[-1] == "source_file"
    assert flat.where(F.col("Name 2") == "N/A").count() == 0


def test_active_learning_loop(spark, kna):
    """Simulated human loop: uncertain_pairs -> oracle labels -> retrain."""
    df, truth = kna
    fields = [FieldSpec("Name 1"), FieldSpec("City"), FieldSpec("Street")]
    d = Deduper(fields, id_col="record_id", seed=1)
    d.prepare_training(df)

    # bootstrap labels from ground truth (the role of the human)
    labels, pos = _labels(truth, spark)
    boot = labels.orderBy("id1", "id2").limit(30).collect()
    d.mark_pairs(
        match=[(r["id1"], r["id2"]) for r in boot if r["label"] == "y"],
        distinct=[(r["id1"], r["id2"]) for r in boot if r["label"] == "n"],
    )
    if not d._match or not d._distinct:
        # ensure both classes present
        d.mark_pairs(match=[next(iter(_true_pairs(truth)))])
    d.train()
    assert d.model is not None and d.predicates

    # active rounds: label the k most uncertain pairs each round
    for _ in range(2):
        unc = d.uncertain_pairs(k=5).collect()
        assert len(unc) <= 5
        m, n = [], []
        for r in unc:
            (m if truth[r["id1"]] == truth[r["id2"]] else n).append(
                (r["id1"], r["id2"])
            )
        d.mark_pairs(match=m, distinct=n)
        if d._match and d._distinct:
            d.train()

    clusters = d.partition(df, threshold=0.5)
    assert clusters.count() > 0
    assert clusters.where("group_size < 2").count() == 0


def test_uncertain_pairs_budget(spark, kna):
    """max_training_pairs is a real budget (the reference plumbs 100 but
    never enforces it, main.py:108): uncertain_pairs serves at most that
    many pairs in total, then returns empty — the labeling loop terminates
    deterministically."""
    df, _ = kna
    d = Deduper(
        [FieldSpec("Name 1")], id_col="record_id", max_training_pairs=7
    )
    d.prepare_training(df)
    served = 0
    for _ in range(5):
        got = d.uncertain_pairs(k=3).collect()
        served += len(got)
    assert served == 7
    assert d.uncertain_pairs(k=3).count() == 0


def test_deduper_guards(spark, kna):
    df, _ = kna
    d = Deduper([FieldSpec("Name 1")], id_col="record_id")
    with pytest.raises(RuntimeError):
        d.uncertain_pairs()
    d.prepare_training(df)
    with pytest.raises(ValueError):
        d.train()  # no labels
    with pytest.raises(RuntimeError):
        d.partition(df)  # not trained


def _mark_by_truth(d, truth, pairs):
    d.mark_pairs(
        match=[p for p in pairs if truth[p[0]] == truth[p[1]]],
        distinct=[p for p in pairs if truth[p[0]] != truth[p[1]]],
    )


def test_uncertain_pairs_served_sequence(spark, kna):
    """A seeded labeling session, labels from the fixture's ground truth:
    the pairs served in two rounds before any model and three after a
    retrain each are pinned, as are the columns of each returned frame.
    The frame is local: collecting it runs no Spark job."""
    df, truth = kna
    d = Deduper(
        [FieldSpec("Name 1"), FieldSpec("City"), FieldSpec("Street")],
        id_col="record_id",
        seed=3,
    )
    d.prepare_training(df)
    d.mark_pairs(match=sorted(_true_pairs(truth))[:3])
    sc = spark.sparkContext
    served, columns, jobs = [], [], []
    for i in range(5):
        if i >= 2:
            d.train()
        out = d.uncertain_pairs(k=2)
        sc.setJobGroup(f"serve-{i}", "collect the served pairs")
        try:
            pairs = [(r["id1"], r["id2"]) for r in out.collect()]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"serve-{i}")))
        served.append(pairs)
        columns.append(out.columns)
        _mark_by_truth(d, truth, pairs)
    d.close()
    assert served == [
        [("10046", "10066"), ("10041", "10098")],
        [("10021", "90092"), ("10061", "10106")],
        [("10072", "90049"), ("90049", "90072")],
        [("10006", "10025"), ("10029", "10089")],
        [("10017", "10035"), ("10105", "10117")],
    ]
    assert columns == [["id1", "id2"]] * 2 + [["id1", "id2", "score"]] * 3
    assert jobs == [0] * 5


def _jobs_of(spark, group, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _serve(d, k):
    return [(r["id1"], r["id2"]) for r in d.uncertain_pairs(k=k).collect()]


def test_warm_rounds_run_no_spark_jobs(spark, kna):
    """After the first scored round featurizes the pool, a round (the call
    and its collect) runs no Spark job; a retrain between rounds re-ranks
    the cached feature matrix without featurizing again."""
    df, truth = kna
    d = Deduper(
        [FieldSpec("Name 1"), FieldSpec("City"), FieldSpec("Street")],
        id_col="record_id",
        seed=3,
    )
    d.prepare_training(df)
    pos = sorted(_true_pairs(truth))
    d.mark_pairs(match=pos[:3], distinct=[(pos[0][0], pos[1][0])])
    d.train()
    _mark_by_truth(d, truth, _serve(d, 2))
    pool = d._pool
    for i in range(3):
        pairs, jobs = _jobs_of(spark, f"warm-{i}", lambda: _serve(d, 2))
        assert len(pairs) == 2 and jobs == 0, (i, pairs, jobs)
        _mark_by_truth(d, truth, pairs)
    before = _jobs_of(spark, "before-retrain", lambda: _serve(d, 4))
    d.train()
    after = _jobs_of(spark, "after-retrain", lambda: _serve(d, 4))
    assert d._pool is pool
    d.close()
    assert before[1] == after[1] == 0
    assert before[0] != after[0]


def test_prepare_training_drops_pool(spark, kna):
    """A second prepare_training drops the driver-side pool; the next round
    featurizes the new record table and serves only its pairs."""
    df, _ = kna
    d = Deduper([FieldSpec("Name 1"), FieldSpec("City")], id_col="record_id")
    d.prepare_training(df)
    assert all(a.isdigit() and b.isdigit() for a, b in _serve(d, 3))
    renamed = df.withColumn("record_id", F.concat(F.lit("x"), "Customer"))
    d.prepare_training(renamed)
    assert d._pool is None
    got = _serve(d, 3)
    d.close()
    assert len(got) == 3
    assert all(a.startswith("x") and b.startswith("x") for a, b in got), got


def test_join_path_serves_same_pairs(spark, kna, monkeypatch):
    """The pair-join featurize path serves the same pairs as the broadcast
    lookup path over a seeded 5-round session, retrains included."""
    from dedupe_spark.operators import scoring

    df, truth = kna
    fields = [FieldSpec("Name 1"), FieldSpec("City"), FieldSpec("Street")]

    def session():
        d = Deduper(fields, id_col="record_id", seed=3)
        d.prepare_training(df)
        d.mark_pairs(match=sorted(_true_pairs(truth))[:3])
        served = []
        for i in range(5):
            if i >= 2:
                d.train()
            served.append(_serve(d, 2))
            _mark_by_truth(d, truth, served[-1])
        d.close()
        return served

    lookup = session()
    monkeypatch.setattr(scoring, "BROADCAST_ROWS", 0)
    assert scoring.try_build_lookup(df, "record_id", fields) is None
    assert session() == lookup


@pandas_udf(StringType())
def _worker_stat(x: pd.Series) -> pd.Series:
    """'<pid> <VmRSS kB>' of the Python worker that runs the batch."""
    with open("/proc/self/status") as fh:
        rss_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmRSS:"))
    return pd.Series([f"{os.getpid()} {rss_kb}"] * len(x))


def test_long_labeling_session_keeps_workers_warm(spark, kna):
    """32 labeling rounds in the shared session, with a retrain every 8:
    the Python workers are reused (their PIDs repeat across rounds) and do
    not age. Summed worker RSS in the last 5 rounds stays within 1.5x of
    rounds 2-6, and the median round time of the last 10 rounds within 2x
    of rounds 2-11."""
    assert spark.conf.get("spark.python.worker.reuse") == "true"
    df, truth = kna
    d = Deduper(
        [FieldSpec("Name 1"), FieldSpec("City"), FieldSpec("Street")],
        id_col="record_id",
    )
    d.prepare_training(df)
    pos = sorted(_true_pairs(truth))
    d.mark_pairs(match=pos[:3], distinct=[(pos[0][0], pos[1][0])])
    # more one-row tasks than resident workers: each probe walks the whole
    # idle-worker queue
    probe = spark.range(0, 8, 1, 8).select(_worker_stat("id").alias("s"))
    rounds, secs = 32, []
    early, late = {}, {}  # pid -> latest VmRSS kB, in rounds 2-6 / last 5
    for i in range(rounds):
        if i % 8 == 0:
            d.train()
        t0 = time.perf_counter()
        pairs = [(r["id1"], r["id2"]) for r in d.uncertain_pairs(k=1).collect()]
        secs.append(time.perf_counter() - t0)
        assert len(pairs) == 1
        _mark_by_truth(d, truth, pairs)
        if 1 <= i <= 5 or i >= rounds - 5:
            stats = dict(map(int, r["s"].split()) for r in probe.collect())
            (early if i <= 5 else late).update(stats)
    d.close()

    assert early.keys() & late.keys(), "no worker survived the session"
    assert sum(late.values()) <= 1.5 * sum(early.values()), (early, late)
    assert statistics.median(secs[-10:]) <= 2 * statistics.median(secs[1:11]), secs
