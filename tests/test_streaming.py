"""Structured Streaming front-of-pipeline tests (file source + memory sink)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dedupe_spark.fixtures import make_pages
from dedupe_spark.pipeline import pages_df
from dedupe_spark.streaming import (
    incremental_exact_dedup,
    stream_pages,
    streaming_block_keys,
    windowed_page_counts,
)


@pytest.fixture(scope="module")
def page_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    pages_pd, _ = make_pages(n_base=60, seed=42)
    # two "crawl shard" drops
    half = len(pages_pd) // 2
    pages_df(spark, pages_pd.iloc[:half]).write.mode("overwrite").parquet(
        str(d / "shard1")
    )
    pages_df(spark, pages_pd.iloc[half:]).coalesce(1).write.mode("append").parquet(
        str(d / "shard1")
    )
    return str(d / "shard1"), pages_pd


def _run_stream(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_block_keys(spark, page_dir):
    path, pages_pd = page_dir
    out = _run_stream(
        spark, streaming_block_keys(stream_pages(spark, path)), "blk_sink"
    )
    rows = out.collect()
    assert len(rows) == 2 * len(pages_pd)  # two keys per page
    assert all(r["bk"].startswith(("host:", "host_t1:")) for r in rows)


def test_incremental_exact_dedup(spark, page_dir):
    path, pages_pd = page_dir
    out = _run_stream(
        spark, incremental_exact_dedup(stream_pages(spark, path)), "dedup_sink"
    )
    n_unique_texts = pages_pd["text"].nunique()
    assert out.count() == n_unique_texts


def test_windowed_page_counts(spark, page_dir):
    path, pages_pd = page_dir
    out = _run_stream(
        spark,
        windowed_page_counts(stream_pages(spark, path), window="10 minutes"),
        "win_sink",
    )
    rows = out.collect()
    # append mode emits only closed windows (watermark passed); with
    # availableNow the final windows may be withheld, so assert on shape
    assert set(out.columns) == {"window_start", "lang", "n_pages"}
    assert all(r["n_pages"] >= 1 for r in rows)


def test_replay_windowed_event_counts_equals_batch(spark):
    """The streaming replay aggregate (complete mode, availableNow) must
    equal the straight batch aggregation of the same parquet — the
    driver-contract guarantee behind queries.streaming_window_counts."""
    from pyspark.sql import functions as F

    from dedupe_spark.streaming.incremental import replay_windowed_event_counts

    path = "/root/testdata/sf0.001/events.parquet"
    got = replay_windowed_event_counts(spark, path)
    batch = (
        spark.read.parquet(path)
        .groupBy(
            F.date_trunc("hour", "ts").cast("string").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b and len(a) > 0


def test_replay_reuses_resources_on_repeat(spark):
    """Repeated replays of the same input must reuse the staging dir and
    replace (not leak) the memory-sink table."""
    from dedupe_spark.streaming.incremental import replay_windowed_event_counts

    path = "/root/testdata/sf0.001/events.parquet"
    a = sorted(map(tuple, replay_windowed_event_counts(spark, path).collect()))
    b = sorted(map(tuple, replay_windowed_event_counts(spark, path).collect()))
    assert a == b
    replay_tables = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("evt_replay_")
    ]
    assert len(replay_tables) == 1


def test_streaming_minhash_replay_equals_batch(spark):
    """The stream-static near-dup replay (documents vs themselves,
    id_new < id_corpus) must equal the batch minhash pipeline exactly —
    the contract that lets queries.streaming_minhash_pairs share the
    batch query's DuckDB value oracle."""
    from dedupe_spark.operators import dedup as D
    from dedupe_spark.queries import DOCS_DDL
    from dedupe_spark.streaming.incremental import replay_minhash_near_dup

    path = "/root/testdata/sf0.001/documents.parquet"
    st = replay_minhash_near_dup(spark, path, DOCS_DDL)
    srows = {
        (r["id_new"], r["id_corpus"]): round(r["jaccard"], 6)
        for r in st.collect()
    }
    d = spark.read.parquet(path).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    brows = {
        (r["id1"], r["id2"]): round(r["jaccard"], 6)
        for r in D.minhash_lsh_pairs(d, "doc_id", jaccard_threshold=0.7).collect()
    }
    assert srows == brows and len(srows) > 0


def test_streaming_minhash_new_vs_corpus(spark, tmp_path):
    """Asymmetric case: new pages stream against a DIFFERENT static corpus.
    A near-dup of a corpus doc is flagged against it; an unrelated new doc
    is not; corpus-internal pairs never appear (that is the batch
    operator's job)."""
    from dedupe_spark.streaming.incremental import (
        minhash_corpus_index,
        streaming_minhash_near_dup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "magpies argue about the precise provenance of a disputed acorn "
        "hidden beneath the old stone bridge near the miller's field"
    )
    corpus = spark.createDataFrame(
        [("c1", base), ("c2", base.replace("magpies", "herons"))],
        "doc_id string, text string",
    ).cache()
    new_pd = [
        ("n1", base.replace("acorn", "walnut")),  # near-dup of c1 (and c2)
        ("n2", "completely different content about spark physical plans "
               "catalyst optimizer rules and adaptive query execution"),
    ]
    d = tmp_path / "newdocs"
    spark.createDataFrame(new_pd, "doc_id string, text string").coalesce(
        1
    ).write.parquet(str(d))
    stream = spark.readStream.schema("doc_id string, text string").parquet(
        str(d)
    )
    idx = minhash_corpus_index(corpus).cache()
    out = streaming_minhash_near_dup(stream, corpus, corpus_index=idx)
    q = (
        out.writeStream.format("memory")
        .queryName("mh_asym_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["id_new"], r["id_corpus"]): r["jaccard"]
        for r in spark.sql("SELECT * FROM mh_asym_sink").collect()
    }
    idx.unpersist()
    corpus.unpersist()
    assert ("n1", "c1") in rows and rows[("n1", "c1")] >= 0.7
    assert all(nid != "n2" for nid, _ in rows)  # unrelated doc stays clean
    assert all(nid.startswith("n") for nid, _ in rows)  # no corpus-internal


def test_streaming_er_assign_end_to_end(spark, tmp_path):
    """The full incremental-ER front: two crawl shards stream in against a
    standing corpus + assignments table; every new doc comes out exactly
    once — near-dups joined to the right existing cluster, novel docs as
    singletons — across multiple micro-batches with exactly-once appends."""
    from dedupe_spark.streaming.incremental import streaming_er_assign

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "magpies argue about the precise provenance of a disputed acorn "
        "hidden beneath the old stone bridge near the miller's field"
    )
    other = (
        "catalyst rewrites the logical plan with pushdown pruning and "
        "constant folding before tungsten generates whole stage java code "
        "for the selected physical operators in the final query plan"
    )
    corpus = spark.createDataFrame(
        [("c1", base), ("c2", base.replace("acorn", "walnut")), ("c3", other)],
        "doc_id string, text string",
    ).cache()
    assignments = spark.createDataFrame(
        [("c1", "c1"), ("c2", "c1"), ("c3", "c3")],
        "record_id string, cluster_id string",
    )
    d = tmp_path / "arrivals"
    shard1 = [
        ("n1", base.replace("magpies", "herons")),   # near-dup -> cluster c1
        ("n2", "entirely novel content about tumbling windows watermarks "
               "and stateful stream processing with expiring state stores"),
    ]
    shard2 = [("n3", other.replace("java", "bytecode"))]  # near-dup -> c3
    spark.createDataFrame(shard1, "doc_id string, text string").coalesce(
        1
    ).write.mode("append").parquet(str(d))
    spark.createDataFrame(shard2, "doc_id string, text string").coalesce(
        1
    ).write.mode("append").parquet(str(d))
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = streaming_er_assign(
        spark, stream, corpus, assignments, str(tmp_path / "er_out")
    )
    got = {r["record_id"]: r["cluster_id"] for r in out["assignments"].collect()}
    corpus.unpersist()
    assert got == {"n1": "c1", "n2": "n2", "n3": "c3"}
    # exactly-once: three rows total across the micro-batches, >= 2 epochs
    rows = out["assignments"].collect()
    assert len(rows) == 3
    assert len({r["epoch"] for r in rows}) >= 2


def test_sessionize_gap_boundary_batch_equals_streaming(spark, tmp_path):
    """An event exactly `gap` after the previous one MERGES into the
    session in BOTH paths (session_window merges at its window end, so the
    batch lag rule is strict >) — the boundary where the two definitions
    could diverge."""
    from datetime import datetime, timedelta
    from dedupe_spark.streaming.incremental import replay_sessionize
    from dedupe_spark.queries import q_sessionize

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (0, t0, 1, "a", 1.0, None),
        (1, t0 + timedelta(minutes=10), 1, "a", 2.0, None),    # same session
        (2, t0 + timedelta(minutes=40), 1, "a", 3.0, None),    # exactly 30m gap -> MERGED
        (3, t0 + timedelta(minutes=70, seconds=1), 1, "a", 5.0, None),  # 30m+1s -> NEW
        (4, t0 + timedelta(minutes=40, seconds=1), 2, "a", 4.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    p = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(p)
    batch = {(r.user_id, r.start_us): (r.n_events, r.sum_value)
             for r in q_sessionize(spark, str(tmp_path)).collect()}
    stream = {(r.user_id, r.start_us): (r.n_events, r.sum_value)
              for r in replay_sessionize(spark, p).collect()}
    assert batch == stream
    assert len(batch) == 3          # user1: merged + new; user2: one
    u1 = sorted(k for k in batch if k[0] == 1)
    assert batch[u1[0]] == (3, 6.0)  # boundary event merged
    assert batch[u1[1]] == (1, 5.0)  # one microsecond past the gap: new


def test_streaming_minhash_pair_state_expires(spark, tmp_path):
    """ADVICE r3 (medium) + VERDICT r3 item 6: with ``watermark_col`` the
    pair-dedup state must be watermark-EXPIRABLE. The fixed operator uses
    dropDuplicatesWithinWatermark with the event-time column carried
    through the band explode and the stream-static join, so Spark evicts
    pair rows the watermark has passed. Asserted directly from
    StreamingQueryProgress stateOperators: rows ARE removed across
    micro-batches and the final state total stays below the
    all-pairs-ever count (the unbounded-growth failure mode)."""
    import datetime as dt
    import os as _os

    from dedupe_spark.streaming.incremental import (
        minhash_corpus_index,
        streaming_minhash_near_dup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "magpies argue about the precise provenance of a disputed acorn "
        "hidden beneath the old stone bridge near the miller's field"
    )
    corpus = spark.createDataFrame(
        [("c1", base), ("c2", base.replace("magpies", "herons"))],
        "doc_id string, text string",
    ).cache()
    idx = minhash_corpus_index(corpus).cache()

    d = tmp_path / "stream_in"
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    n_batches = 6
    ordered = []
    seen: set[str] = set()
    for i in range(n_batches):
        spark.createDataFrame(
            [(
                f"n{i}",
                base.replace("acorn", f"walnut{i}"),
                t0 + dt.timedelta(hours=i),
            )],
            "doc_id string, text string, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(str(d))
        cur = {p for p in _os.listdir(d) if p.endswith(".parquet")}
        ordered.append((cur - seen).pop())
        seen = cur
    # pin file mtimes to write order: the file source orders micro-batches
    # by modification time, and the watermark must advance monotonically
    for j, name in enumerate(ordered):
        ts = 1_700_000_000 + 10 * j
        _os.utime(str(d / name), (ts, ts))

    stream = (
        spark.readStream.schema("doc_id string, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = streaming_minhash_near_dup(
        stream,
        corpus,
        corpus_index=idx,
        watermark_col="ts",
        watermark="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("mh_state_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    totals, removed = [], 0
    for p in q.recentProgress:
        for op in p.get("stateOperators", []):
            if "dedupe" in op.get("operatorName", "").lower():
                totals.append(int(op["numRowsTotal"]))
                removed += int(op.get("numRowsRemoved", 0))
    rows = spark.sql("SELECT * FROM mh_state_sink").collect()
    idx.unpersist()
    corpus.unpersist()

    # every batch's doc matches c1 exactly once (one-word diff, ~0.88
    # shingle similarity — band collision is near-certain; the c2 pairs
    # sit at ~0.77 where a per-doc band miss is possible, so they are not
    # asserted — MinHash is probabilistic by design)
    pairs = {(r["id_new"], r["id_corpus"]) for r in rows}
    assert {(f"n{i}", "c1") for i in range(n_batches)} <= pairs
    assert len(pairs) == len(rows)  # emitted exactly once each
    # the state actually expires: evictions happened, and the state never
    # holds every pair ever seen (unbounded growth would reach len(rows))
    assert removed > 0, f"no state rows evicted (totals={totals})"
    assert totals and totals[-1] <= 4 and max(totals) < len(rows), (
        f"state grew unbounded: totals={totals}, pairs={len(rows)}"
    )


def test_stateful_first_seen_suppresses_across_batches(spark, tmp_path):
    """A key spanning several doc_id-ordered shards must emit exactly once,
    from its FIRST micro-batch, with that batch's min doc_id — real
    applyInPandasWithState state carried across triggers."""
    from dedupe_spark.streaming.incremental import replay_stateful_first_seen

    rows = [
        # (doc_id, text): key 'a' appears in shards 0, 1 and 2;
        # key 'b' only in shard 1; key 'c' only in shard 2
        (1, "a"), (2, "a"),            # shard 0: doc_id 1-3
        (4, "a"), (5, "b"),            # shard 1: doc_id 4-6
        (7, "a"), (9, "c"),            # shard 2: doc_id 7-9
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = {
        r["dup_key"]: r
        for r in replay_stateful_first_seen(
            spark, src, "doc_id long, text string", F.col("text"), n_shards=3
        ).collect()
    }
    assert set(out) == {"a", "b", "c"}  # one emission per key, ever
    assert out["a"]["first_id"] == 1 and out["a"]["n_first_batch"] == 2
    assert out["b"]["first_id"] == 5 and out["b"]["n_first_batch"] == 1
    assert out["c"]["first_id"] == 9 and out["c"]["n_first_batch"] == 1


def test_stateful_first_seen_timeout_validation(spark):
    from dedupe_spark.streaming.incremental import stateful_first_seen

    df = spark.readStream.format("rate").load().selectExpr(
        "CAST(value AS STRING) AS dup_key", "value AS doc_id"
    )
    with pytest.raises(ValueError, match="ttl_ms"):
        stateful_first_seen(df, timeout="ProcessingTimeTimeout")
    with pytest.raises(ValueError, match="timeout"):
        stateful_first_seen(df, timeout="EventTimeTimeout")


def test_interval_join_boundaries_and_multibatch(spark, tmp_path):
    """Stream-stream attribution join: both interval bounds are INCLUSIVE
    (click exactly at the view ts and exactly at view ts + 12 h match;
    one microsecond past either bound does not), matches never cross
    users, and the result is independent of micro-batch placement (the
    input is split into 8 files at maxFilesPerTrigger=4, so the join
    state genuinely spans batches)."""
    from datetime import datetime, timedelta

    from dedupe_spark.streaming.incremental import replay_interval_join

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    att = timedelta(hours=12)
    rows = [
        (0, t0, 1, "view", 0.0, None),
        (1, t0, 1, "click", 0.0, None),                     # at view ts: in
        (2, t0 + att, 1, "click", 0.0, None),               # at +12h: in
        (3, t0 + att + timedelta(microseconds=1), 1, "click", 0.0, None),
        (4, t0 - timedelta(microseconds=1), 1, "click", 0.0, None),
        (5, t0 + timedelta(hours=1), 2, "click", 0.0, None),  # other user
        (6, t0 + timedelta(hours=30), 1, "view", 0.0, None),
        (7, t0 + timedelta(hours=31), 1, "click", 0.0, None),  # view 6 only
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    p = str(tmp_path / "events.parquet")
    df.repartition(8).write.parquet(p)
    out = replay_interval_join(spark, p).collect()
    got = {(r.view_id, r.click_id) for r in out}
    assert got == {(0, 1), (0, 2), (6, 7)}
    lags = {(r.view_id, r.click_id): r.lag_us for r in out}
    assert lags[(0, 1)] == 0
    assert lags[(0, 2)] == 12 * 3600 * 1_000_000
    assert all(r.user_id == 1 for r in out)


def test_streaming_dq_cross_batch_duplicate_ids(spark, tmp_path):
    """Duplicate doc_ids arriving in DIFFERENT micro-batches must be
    counted by the keyed state (a scalar per-batch counter would miss
    them): doc 7 appears in batches 0 and 2, doc 9 twice in batch 1."""
    from dedupe_spark.streaming.incremental import replay_dq_counters
    from pyspark.sql import functions as F

    rows = [
        # (doc_id, text, lang, n_chars, batch)
        (7, "abc", "en", 3, 0),
        (8, None, "en", 0, 0),  # null text
        (9, "xy", "en", 2, 1),
        (9, "xy", "en", 2, 1),  # same-batch duplicate
        (10, "q", "tlh", 1, 1),  # bad lang
        (7, "abc", "en", 3, 2),  # cross-batch duplicate of 7
        (11, "abcd", "en", 99, 2),  # length mismatch
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long, b int"
    )
    out = {
        r["check"]: r
        for r in replay_dq_counters(
            spark,
            docs,
            str(tmp_path / "stage"),
            shards=3,
            shard_expr=F.col("b"),
        ).collect()
    }
    assert out["doc_id_unique"]["n_rows"] == 7
    # docs 7 (2 rows, split across batches) and 9 (2 rows) violate
    assert out["doc_id_unique"]["n_violations"] == 4
    assert not out["doc_id_unique"]["passed"]
    assert out["text_not_null"]["n_violations"] == 1
    assert out["lang_in_domain"]["n_violations"] == 1
    assert out["n_chars_matches_text"]["n_violations"] == 1


def test_streaming_dq_matches_batch_on_gate_corpus(spark, tmp_path):
    """The streamed audit equals the documents-side rows of the
    one-shot dq_checks on the real corpus."""
    from dedupe_spark.queries import QUERIES
    from dedupe_spark.streaming.incremental import replay_dq_counters

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet")
    streamed = {
        r["check"]: (r["n_rows"], r["n_violations"], r["passed"])
        for r in replay_dq_counters(
            spark, docs, str(tmp_path / "stage2")
        ).collect()
    }
    batch = {
        r["check"]: (r["n_rows"], r["n_violations"], r["passed"])
        for r in QUERIES["dq_checks"](spark, sf).collect()
    }
    for check, v in streamed.items():
        assert batch[check] == v


# ---------------------------------------------------------------------------
# streaming HLL register fold
# ---------------------------------------------------------------------------


def test_streaming_hll_fold_equals_batch_sketch(spark, tmp_path):
    """A user appearing in EVERY shard must fold to the same registers
    a one-shot batch sketch computes (max-merge idempotence), and the
    state stays <= hours x 256 rows."""
    import datetime as dt

    from dedupe_spark.operators.sketches import M, hll_estimate, hll_registers
    from dedupe_spark.streaming.incremental import replay_hll_users
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for hour in range(3):
        for u in range(40):
            # user 0 appears in every hour AND lands in every shard
            # (event_id % 3 varies); others are hour-local
            for rep in range(3 if u == 0 else 1):
                rows.append(
                    (eid, base + dt.timedelta(hours=hour, seconds=u), u + hour * 1000 if u else 0)
                )
                eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    got = (
        replay_hll_users(spark, ev, str(tmp_path / "stage"))
        .toPandas()
        .sort_values("hour_id")
        .reset_index(drop=True)
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    keyed = ev.select(
        F.floor(us / 3_600_000_000).cast("long").alias("hour_id"), "user_id"
    )
    want = (
        hll_estimate(
            hll_registers(keyed, ["hour_id"], "user_id"),
            ["hour_id"],
            "est_distinct_users",
        )
        .select("hour_id", "est_distinct_users")
        .toPandas()
        .sort_values("hour_id")
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, want)
    # bounded state: final snapshot rows <= hours * M registers
    import os
    import re

    state = str(tmp_path / "stage" / "_state")
    snaps = sorted(
        int(m.group(1))
        for d in os.listdir(state)
        if (m := re.fullmatch(r"snap_(\d+)", d))
    )
    final = spark.read.parquet(os.path.join(state, f"snap_{snaps[-1]}"))
    assert final.count() <= 3 * M


def test_streaming_ivfpq_three_epochs_equal_batch(spark):
    """The streaming ANN front must (a) actually run as THREE micro-batches
    (3 shards, maxFilesPerTrigger=1 — epoch-partitioned sink shows 3
    epochs) and (b) produce per-query top-5 rows identical to the
    one-shot batch ivfpq_topk over the same even-corpus index — the
    replay ≡ batch claim behind sharing the one-shot SQL oracle."""
    import os

    from pyspark.sql import functions as F

    from dedupe_spark.operators import ann as A
    from dedupe_spark.queries import (
        _emb,
        _proc_stage_dir,
        q_streaming_ivfpq_topk,
    )

    sf = "/root/testdata/sf0.001"
    out = q_streaming_ivfpq_topk(spark, sf)
    # the registered query rounds adc_d2 to 6 decimals on write;
    # compare at that precision
    got = sorted(
        (r["query_id"], r["rank"], r["id"], round(r["adc_d2"], 6))
        for r in out.collect()
    )
    assert len(got) == 100  # 20 odd queries x top-5

    front = _proc_stage_dir(sf, "ivfpq_front")
    epochs = (
        spark.read.parquet(os.path.join(front, "topk"))
        .select("epoch")
        .distinct()
        .count()
    )
    assert epochs == 3

    e = _emb(spark, sf)
    corpus = e.where(F.col("vec_id") % 2 == 0)
    cents = A.fixed_centroids(corpus, n_cells=8)
    books = A.fixed_pq_codebooks(corpus, m=8, ks=16)
    cc = (
        A.assign_cells(corpus, cents)
        .join(
            A.pq_encode(corpus, books).withColumnRenamed("id", "vec_id"),
            "vec_id",
        )
        .select(F.col("vec_id").alias("id"), "cell", "codes")
    )
    queries = e.where((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 40))
    batch = A.ivfpq_topk(cc, queries, cents, books, k=5, nprobe=4)
    want = sorted(
        (r["query_id"], r["rank"], r["id"], round(r["adc_d2"], 6))
        for r in batch.collect()
    )
    assert got == want


def test_streaming_sink_read_error_contract(spark, tmp_path):
    """Review-fix regression for the streaming IVF-PQ sink read
    (incremental.read_epoch_sink — the handler streaming_ivfpq_topk
    returns through): a MISSING sink directory means 'empty stream' and
    must yield an empty frame WITH the requested schema, but a sink
    containing a corrupt parquet file is a genuine read failure and must
    PROPAGATE — never silently report zero results. Drives the actual
    handler on both contract cases, then streaming_er_assign's two sinks
    through it."""
    import pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from dedupe_spark.streaming.incremental import read_epoch_sink

    schema = StructType([StructField("x", LongType())])

    # (a) missing path -> empty frame with the requested schema
    missing = str(tmp_path / "never_written")
    out = read_epoch_sink(spark, missing, schema)
    assert out.count() == 0
    assert out.schema == schema

    # (b) corrupt parquet -> propagates (raised during the distributed
    # read, not as one of the handler's eaten missing-data classes)
    bad_dir = tmp_path / "corrupt"
    bad_dir.mkdir()
    (bad_dir / "part-0000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception) as ei:
        read_epoch_sink(spark, str(bad_dir), schema).collect()
    msg = str(ei.value)
    assert "PATH_NOT_FOUND" not in msg
    assert "Path does not exist" not in msg
    assert "UNABLE_TO_INFER_SCHEMA" not in msg  # third eaten class

    # (c) streaming_er_assign reads BOTH its sinks through the same
    # handler: an empty stream leaves neither sink behind -> empty frames
    # with the operator's schemas; a corrupt file in either sink propagates
    from dedupe_spark.streaming.incremental import streaming_er_assign

    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    corpus = spark.createDataFrame(
        [("c1", "alpha beta gamma delta epsilon")], "doc_id string, text string"
    )
    assignments = spark.createDataFrame(
        [("c1", "c1")], "record_id string, cluster_id string"
    )

    def run(out_dir):
        stream = spark.readStream.schema("doc_id string, text string").parquet(
            str(arrivals)
        )
        return streaming_er_assign(
            spark, stream, corpus, assignments, str(out_dir)
        )

    empty = run(tmp_path / "er_empty")
    assert empty["assignments"].count() == 0
    assert empty["merge_hints"].count() == 0
    assert empty["assignments"].columns == ["record_id", "cluster_id", "epoch"]
    assert empty["merge_hints"].columns == [
        "cluster_a", "cluster_b", "via", "score", "epoch"
    ]
    for sink in ("assignments", "merge_hints"):
        out_dir = tmp_path / f"er_corrupt_{sink}"
        (out_dir / sink).mkdir(parents=True)
        (out_dir / sink / "part-0000.parquet").write_bytes(b"not parquet")
        with pytest.raises(Exception) as ei:
            run(out_dir)[sink].collect()
        assert "UNABLE_TO_INFER_SCHEMA" not in str(ei.value), sink
