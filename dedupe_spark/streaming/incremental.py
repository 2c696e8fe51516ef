"""Structured Streaming variants of the ingest/dedup front of the pipeline.

The reference is batch-only (SURVEY.md §2.8 — no streams), but the Iceberg
checkpoint layout leaves room for an incremental, `warc_ts`-watermarked
variant: new crawl files land in a directory, are normalized and blocked
incrementally, and exact dups are dropped within the watermark window.

Full learned-pairwise clustering stays batch (it is iterative/global);
streaming handles the *monotone* front: ingest, normalize, block-key
emission, exact dedup, and windowed stats. That split — streaming ingest +
periodic batch re-cluster over checkpointed state — is the standard
lambda-ish deployment for web-scale ER.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of pages parquet drops (new crawl shards)."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_block_keys(pages: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Incremental block-key emission: (url, bk, warc_ts), watermarked.

    JVM-side approximations of the batch pipeline's predicates
    (lowercased de-www'd host, lowercased first token). The batch keys
    additionally pass through normalize_features (quote-strip, N/A
    sentinels) — join stream keys against batch block keys only after
    applying the same normalization to both sides. Stateless projection
    + explode, so it runs in append mode with no state store growth.
    """
    host = F.lower(
        F.regexp_replace(
            F.regexp_extract("url", r"^[a-zA-Z]+://([^/]+)", 1),
            r"(?i)^www\.",
            "",
        )
    )
    first_tok = F.lower(
        F.element_at(F.split(F.trim(F.col("text")), r"\s+"), 1)
    )
    keys = F.array(
        F.concat(F.lit("host:"), host),
        F.concat(F.lit("host_t1:"), host, F.lit("|"), first_tok),
    )
    return (
        pages.withWatermark("warc_ts", watermark)
        .select("url", "warc_ts", F.explode(keys).alias("bk"))
    )


def incremental_exact_dedup(
    pages: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup: first-seen text_hash wins inside the
    watermark window. dropDuplicatesWithinWatermark, NOT plain
    dropDuplicates(["text_hash"]) — the dedup subset excludes the
    event-time column, so the plain form would never evict its state
    (one row per distinct hash, forever; the same pitfall documented at
    streaming_minhash_near_dup below)."""
    return (
        pages.withColumn("text_hash", F.sha2("text", 256))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def minhash_corpus_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 126,
    bands: int = 21,
    shingle_k: int = 5,
    max_block: int = 2000,
) -> DataFrame:
    """(id_corpus, bk) MinHash-LSH band index of a static corpus, with
    mega-buckets capped at ``max_block`` on the index side.

    This is the state a production deployment maintains as a table: build
    it once, ``cache()``/checkpoint/write it, and hand it to
    :func:`streaming_minhash_near_dup` — otherwise the static side of the
    stream-static join re-runs the MinHash kernel over the whole corpus
    every micro-batch.
    """
    from pyspark.sql import Window

    from ..operators import blocking as B

    mh = B.minhash_bands_udf(
        num_perm=num_perm, bands=bands, shingle_k=shingle_k
    )
    idx = B.generate_blocks(
        corpus.select(F.col(id_col), F.col(text_col)),
        id_col,
        {"mh": mh(F.col(text_col))},
    )
    w = Window.partitionBy("bk")
    return (
        idx.withColumn("_bs", F.count("*").over(w))
        .where(F.col("_bs") <= max_block)
        .select(F.col("record_id").alias("id_corpus"), "bk")
    )


def streaming_minhash_near_dup(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 126,
    bands: int = 21,
    shingle_k: int = 5,
    jaccard_threshold: float | None = 0.7,
    max_block: int = 2000,
    shingle_n: int = 5,
    watermark_col: str | None = None,
    watermark: str = "10 minutes",
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Streaming near-dup: new documents vs a static corpus MinHash index.

    The production question for a continuously-ingested training corpus is
    not "which pairs inside this batch collide" but "is this NEW page a
    near-duplicate of anything already in the corpus". Structure:

    - **static side** (computed once, cached by the caller): the corpus's
      MinHash-LSH band index ``(corpus_id, bk)`` — the same
      ``blocking.minhash_bands_udf`` keys as the batch operator, with
      mega-buckets capped at ``max_block`` on the *index* side (a 100×
      corpus keeps the stream side's per-key fan-out bounded).
    - **stream side**: stateless band-key emission (UDF + explode), then a
      stream-static equi-join on ``bk`` — no shuffle of corpus data per
      micro-batch; Spark replans the static side as a broadcast or
      sort-merge join per batch.
    - pair-level ``dropDuplicates`` (a pair that collides in several bands
      verifies once), then exact character-``shingle_n``-gram Jaccard via
      the same kernel as :func:`~dedupe_spark.operators.dedup.
      ngram_jaccard_verify`, filtered at ``jaccard_threshold``.

    State: only the pair-dedup set. Pass ``watermark_col`` (an event-time
    column on ``new_docs``) and the pair dedup runs as
    ``dropDuplicatesWithinWatermark`` — the event-time column is carried
    through the band explode and the join so Spark CAN evict pair rows
    once the watermark passes them (plain ``dropDuplicates`` on a subset
    that excludes the event-time column never expires state, even with a
    watermark set — ADVICE r3). The trade is the documented
    within-watermark semantics: a pair re-colliding more than
    ``watermark`` after it was last seen re-verifies (idempotent — the
    Jaccard verdict is deterministic, so downstream sinks just see a
    duplicate row). A bounded replay (availableNow) may omit
    ``watermark_col``; the unexpiring state then dies with the query.

    Pass a prebuilt (cached/checkpointed) ``corpus_index`` from
    :func:`minhash_corpus_index` in production — without it the index plan
    (MinHash kernel over the whole corpus) re-executes every micro-batch.

    Semantics note: a *self*-match (same id on both sides) is excluded;
    new-vs-new duplicates within the stream are NOT detected here — that is
    the batch operator's job at the next compaction (the standard
    streaming-ingest + periodic-batch-recluster split, see module
    docstring).

    Returns (id_new, id_corpus, jaccard) — append-mode safe.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    from ..functions import strings as S
    from ..operators import blocking as B

    mh = B.minhash_bands_udf(
        num_perm=num_perm, bands=bands, shingle_k=shingle_k
    )
    idx = (
        corpus_index
        if corpus_index is not None
        else minhash_corpus_index(
            corpus, id_col, text_col, num_perm, bands, shingle_k, max_block
        )
    )

    nd = new_docs
    if watermark_col is not None:
        nd = nd.withWatermark(watermark_col, watermark)
    # stateless band-key emission, same "mh:<key>" namespace as the index;
    # the event-time column rides along so the pair dedup below can expire
    ts_cols = [F.col(watermark_col)] if watermark_col is not None else []
    nb = nd.select(
        F.col(id_col).alias("id_new"),
        F.col(text_col).alias("_ntxt"),
        *ts_cols,
        F.explode(mh(F.col(text_col))).alias("_k"),
    ).select(
        "id_new",
        "_ntxt",
        *([watermark_col] if watermark_col is not None else []),
        F.concat(F.lit("mh:"), F.col("_k").cast("string")).alias("bk"),
    )

    joined = (
        nb.join(idx, "bk")
        .where(F.col("id_new") != F.col("id_corpus"))
    )
    if watermark_col is not None:
        # watermark-expirable pair state: rows older than the watermark
        # are evicted from the dedup store (the event-time column must be
        # PRESENT on the frame — not necessarily in the subset — for
        # dropDuplicatesWithinWatermark to bound state)
        pairs = (
            joined.select("id_new", "_ntxt", "id_corpus", watermark_col)
            .dropDuplicatesWithinWatermark(["id_new", "id_corpus"])
            .drop(watermark_col)
        )
    else:
        pairs = joined.select("id_new", "_ntxt", "id_corpus").dropDuplicates(
            ["id_new", "id_corpus"]
        )
    ctext = corpus.select(
        F.col(id_col).alias("id_corpus"), F.col(text_col).alias("_ctxt")
    )
    wide = pairs.join(ctext, "id_corpus")

    @pandas_udf(DoubleType())
    def _jac(t1: pd.Series, t2: pd.Series) -> pd.Series:
        return pd.Series(S.ngram_jaccard_batch(t1, t2, shingle_n))

    out = wide.select(
        "id_new",
        "id_corpus",
        # asNondeterministic: stop Catalyst re-evaluating the kernel under
        # the threshold filter (see operators/scoring.gather_pairs)
        _jac.asNondeterministic()("_ntxt", "_ctxt").alias("jaccard"),
    )
    if jaccard_threshold is not None:
        out = out.where(F.col("jaccard") >= F.lit(float(jaccard_threshold)))
    return out


def replay_minhash_near_dup(
    spark: SparkSession,
    docs_path: str,
    docs_ddl: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """Replay a documents parquet as the "new pages" stream against ITSELF
    as the static corpus (availableNow trigger, append-mode memory sink)
    and return the final result as a batch DataFrame.

    Restricted to ``id_new < id_corpus``, the output is exactly the batch
    ``minhash_lsh_pairs`` candidate set over the same corpus — which is
    what makes the streaming path value-checkable against the same DuckDB
    oracle as the batch query (queries.SQL_MINHASH_PAIRS). The bounded
    replay needs no watermark; the dropDuplicates state dies with the
    query.
    """
    import hashlib
    import os
    import tempfile

    tag = hashlib.sha256(
        f"{os.path.abspath(docs_path)}|{sorted(kwargs.items())!r}".encode()
    ).hexdigest()[:12]
    name = f"mh_replay_{tag}"
    if spark.catalog.tableExists(name):
        spark.catalog.dropTempView(name)
    if os.path.isfile(docs_path):
        d = os.path.join(tempfile.gettempdir(), f"mh_stream_{tag}")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(docs_path))
        if not os.path.exists(link):
            os.symlink(os.path.abspath(docs_path), link)
        stream_path = d
    else:
        stream_path = docs_path
    corpus = (
        spark.read.parquet(docs_path)
        .select(F.col(id_col).cast("string").alias(id_col), text_col)
        .cache()
    )
    index_kw = {
        k: kwargs[k]
        for k in ("num_perm", "bands", "shingle_k", "max_block")
        if k in kwargs
    }
    idx = minhash_corpus_index(corpus, id_col, text_col, **index_kw).cache()
    stream = (
        spark.readStream.schema(docs_ddl)
        .option("maxFilesPerTrigger", 4)
        .parquet(stream_path)
        .select(F.col(id_col).cast("string").alias(id_col), text_col)
    )
    out = streaming_minhash_near_dup(
        stream, corpus, id_col=id_col, text_col=text_col,
        corpus_index=idx, **kwargs,
    ).where(F.col("id_new") < F.col("id_corpus"))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    idx.unpersist()
    corpus.unpersist()
    return spark.table(name)


EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def replay_windowed_event_counts(
    spark: SparkSession, events_path: str, window: str = "1 hour"
) -> DataFrame:
    """Replay an events parquet through a REAL streaming aggregation and
    return the final result as a batch DataFrame.

    File-source stream (availableNow trigger: process everything, then
    stop) -> event-time tumbling windows per event_type -> complete-mode
    memory sink. Complete mode because the replay ends exactly at max(ts):
    append mode would hold back every window not yet past the watermark,
    which on a bounded replay means the tail windows never emit. The
    output is deterministically comparable to the equivalent batch
    aggregate — that equivalence is the driver-checkable contract for the
    streaming path.
    """
    import hashlib
    import os
    import tempfile

    # deterministic per-input names so repeated replays REUSE the staging
    # dir and replace the memory-sink table instead of leaking one of each
    # per call into /tmp and the driver catalog
    tag = hashlib.sha256(
        f"{os.path.abspath(events_path)}|{window}".encode()
    ).hexdigest()[:12]
    name = f"evt_replay_{tag}"
    if spark.catalog.tableExists(name):
        spark.catalog.dropTempView(name)
    # the file stream source requires a *directory* of arriving files; a
    # single-parquet input is staged via symlink into a temp dir (exactly
    # the "shards land in a directory" deployment shape)
    if os.path.isfile(events_path):
        d = os.path.join(tempfile.gettempdir(), f"evt_stream_{tag}")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(events_path))
        if not os.path.exists(link):
            os.symlink(os.path.abspath(events_path), link)
        events_path = d
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_path)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            # string, not timestamp: cross-engine value-hash comparisons
            # must not depend on pandas datetime unit (ns vs us) semantics
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return spark.table(name)


def replay_sessionize(
    spark: SparkSession, events_path: str, gap: str = "30 minutes"
) -> DataFrame:
    """Replay an events parquet through a REAL streaming SESSION-window
    aggregation (``F.session_window`` — Spark's stateful gap-merging
    operator) and return the final sessions as a batch DataFrame.

    Gap semantics: a session's window extends ``gap`` past each event and
    an event landing EXACTLY at that end is merged into the session
    (verified at the boundary in test_streaming), so the batch twin
    (queries.q_sessionize) uses a strict ``>`` lag rule; their equality is
    the driver-checkable contract (both share SQL_SESSIONIZE as oracle).
    Complete mode for the same bounded-replay reason as
    :func:`replay_windowed_event_counts`; a production deployment uses a
    watermark + append and lets sessions finalize as event time passes.
    """
    import hashlib
    import os
    import tempfile

    tag = hashlib.sha256(
        f"{os.path.abspath(events_path)}|sess|{gap}".encode()
    ).hexdigest()[:12]
    name = f"sess_replay_{tag}"
    if spark.catalog.tableExists(name):
        spark.catalog.dropTempView(name)
    if os.path.isfile(events_path):
        d = os.path.join(tempfile.gettempdir(), f"sess_stream_{tag}")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(events_path))
        if not os.path.exists(link):
            os.symlink(os.path.abspath(events_path), link)
        events_path = d
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_path)
    )
    ts = F.col("ts").cast("timestamp")  # parquet NTZ; session TZ is UTC
    agg = (
        stream.withColumn("ts2", ts)
        .groupBy(F.session_window("ts2", gap).alias("w"), "user_id")
        .agg(
            F.min(F.unix_micros(F.col("ts2"))).alias("start_us"),
            F.count("*").alias("n_events"),
            F.round(
                (
                    F.max(F.unix_micros(F.col("ts2")))
                    - F.min(F.unix_micros(F.col("ts2")))
                )
                / 1_000_000.0,
                6,
            ).alias("duration_secs"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select("user_id", "start_us", "n_events", "duration_secs", "sum_value")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return spark.table(name)


def replay_interval_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "view",
    right_type: str = "click",
    attribution: str = "12 hours",
) -> DataFrame:
    """Replay an events parquet through a REAL watermarked stream-stream
    INTERVAL join (view→click attribution) and return the matches as a
    batch DataFrame — the one Structured Streaming join mode the rest of
    the streaming family doesn't exercise (minhash/ER are stream-static,
    first_seen/sessionize are stateful aggs).

    Semantics: a ``right_type`` event joins every ``left_type`` event of
    the SAME user whose timestamp is at most ``attribution`` earlier —
    ``c.ts BETWEEN v.ts AND v.ts + attribution``, both bounds inclusive
    (boundary pinned in test_streaming). Both sides carry a watermark of
    ``attribution``: Spark derives the state-retention bound from the
    watermark + the join's time-range condition, so view-state older than
    the attribution window is evicted — bounded state on an unbounded
    stream, the property a plain stream-stream join without the range
    condition cannot have.

    Inner stream-stream joins emit a match as soon as both rows have
    arrived (only OUTER joins hold results for the watermark), so a
    bounded availableNow replay emits exactly the batch join — that
    equality is the driver-checkable contract
    (queries.SQL_STREAMING_INTERVAL_JOIN). ``lag_us`` is exact integer
    microseconds (cross-engine hashable; no float time arithmetic).
    """
    import hashlib
    import os
    import tempfile

    tag = hashlib.sha256(
        f"{os.path.abspath(events_path)}|ivj|{left_type}|{right_type}|"
        f"{attribution}".encode()
    ).hexdigest()[:12]
    name = f"ivj_replay_{tag}"
    if spark.catalog.tableExists(name):
        spark.catalog.dropTempView(name)
    if os.path.isfile(events_path):
        d = os.path.join(tempfile.gettempdir(), f"ivj_stream_{tag}")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(events_path))
        if not os.path.exists(link):
            os.symlink(os.path.abspath(events_path), link)
        events_path = d

    def side(etype: str, prefix: str) -> DataFrame:
        s = (
            spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", 4)
            .parquet(events_path)
        )
        return (
            s.where(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").cast("timestamp").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", attribution)
        )

    v = side(left_type, "v")
    c = side(right_type, "c")
    joined = v.join(
        c,
        F.expr(
            "v_user = c_user AND c_ts >= v_ts "
            f"AND c_ts <= v_ts + INTERVAL {attribution}"
        ),
    ).select(
        F.col("v_id").alias("view_id"),
        F.col("c_id").alias("click_id"),
        F.col("v_user").alias("user_id"),
        (F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("v_ts"))).alias(
            "lag_us"
        ),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return spark.table(name)


def windowed_page_counts(
    pages: DataFrame, window: str = "1 minute", watermark: str = "5 minutes"
) -> DataFrame:
    """Per-language tumbling-window page counts with late-data handling —
    the monitoring aggregate for the streaming ingest path."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "lang", "n_pages")
    )


def streaming_er_assign(
    spark: SparkSession,
    new_docs: DataFrame,
    corpus: DataFrame,
    assignments: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    **near_dup_kwargs,
) -> dict[str, DataFrame]:
    """The complete incremental-ER front, end to end: a stream of new
    documents → MinHash near-dup edges against the standing corpus
    (:func:`streaming_minhash_near_dup`'s plan, run per micro-batch) →
    cluster assignment against the standing ``assignments`` table
    (:func:`~dedupe_spark.operators.clustering.incremental_assign`) →
    appended parquet outputs.

    Uses ``foreachBatch``: the argmax-assignment step needs a window over
    each new record's full edge set, which is a per-batch (not
    append-incremental) computation — foreachBatch hands us the bounded
    micro-batch so the whole batch-tested operator chain applies verbatim.
    foreachBatch itself is at-least-once (a crash between the write and
    the checkpoint commit replays the epoch), so the writes are made
    IDEMPOTENT: each epoch dynamically overwrites its own ``epoch=<id>``
    partition — a replayed epoch replaces its partition instead of
    appending duplicates, which composes to effective exactly-once. The
    corpus index is built once and cached across batches; the per-batch
    edge set is persisted for the duration of the two writes (both outputs
    derive from it — without the persist each write re-runs the band join
    and the Jaccard kernel).

    Writes ``<out_dir>/assignments`` (record_id, cluster_id, epoch) and
    ``<out_dir>/merge_hints`` (cluster_a, cluster_b, via, score, epoch);
    runs with availableNow (process everything pending, then stop) and
    returns both as batch DataFrames. Production callers would keep the
    query running and fold merge_hints into the next batch recluster.
    """
    import os

    from ..operators.clustering import incremental_assign

    index_kw = {
        k: near_dup_kwargs[k]
        for k in ("num_perm", "bands", "shingle_k", "max_block")
        if k in near_dup_kwargs
    }
    idx = minhash_corpus_index(corpus, id_col, text_col, **index_kw).cache()
    a_dir = os.path.join(out_dir, "assignments")
    h_dir = os.path.join(out_dir, "merge_hints")

    def _write_epoch(df: DataFrame, path: str, epoch_id: int) -> None:
        # dynamic partition overwrite on the epoch column: a replayed
        # epoch (at-least-once foreachBatch) replaces ONLY its own
        # partition — idempotent, so the sink is effectively exactly-once
        (
            df.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(path)
        )

    def _process(batch: DataFrame, epoch_id: int) -> None:
        edges = streaming_minhash_near_dup(
            batch,
            corpus,
            id_col=id_col,
            text_col=text_col,
            jaccard_threshold=jaccard_threshold,
            corpus_index=idx,
            **near_dup_kwargs,
        ).select(
            "id_new",
            F.col("id_corpus").alias("id_existing"),
            F.col("jaccard").alias("score"),
        ).persist()
        try:
            res = incremental_assign(
                edges,
                assignments,
                new_ids=batch.select(F.col(id_col).alias("record_id")),
            )
            _write_epoch(res["assignments"], a_dir, epoch_id)
            _write_epoch(res["merge_hints"], h_dir, epoch_id)
        finally:
            edges.unpersist()

    q = (
        new_docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
        idx.unpersist()

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    rtype = assignments.schema["record_id"].dataType
    ctype = assignments.schema["cluster_id"].dataType

    a_schema = StructType(
        [
            StructField("record_id", rtype),
            StructField("cluster_id", ctype),
            StructField("epoch", LongType()),
        ]
    )
    h_schema = StructType(
        [
            StructField("cluster_a", ctype),
            StructField("cluster_b", ctype),
            StructField("via", rtype),
            StructField("score", DoubleType()),
            StructField("epoch", LongType()),
        ]
    )
    # a run whose every epoch wrote zero rows leaves no parquet footer to
    # infer from (partitioned writes skip empty partitions): read_epoch_sink
    # maps exactly that, and a missing sink, to an empty frame
    return {
        "assignments": read_epoch_sink(spark, a_dir, a_schema),
        "merge_hints": read_epoch_sink(spark, h_dir, h_schema),
    }


def stateful_first_seen(
    keyed: DataFrame,
    key_col: str = "dup_key",
    id_col: str = "doc_id",
    timeout: str = "NoTimeout",
    ttl_ms: int | None = None,
) -> DataFrame:
    """First-occurrence dedup as a CUSTOM stateful streaming operator
    (``applyInPandasWithState``) — the escape hatch for per-key state
    Spark's built-ins can't express: ``dropDuplicates`` keeps only a
    hidden existence bit, while this keeps a user-defined per-key
    occurrence counter and controls exactly what is emitted when.

    For every distinct ``key_col``, emits ONE row
    ``(key_col, first_id, n_first_batch)`` from the first micro-batch
    containing the key — ``first_id`` is the min ``id_col`` among that
    batch's rows for the key, ``n_first_batch`` how many rows it
    carried. Every later batch updates the count state and emits
    nothing; the running total lives in the state store (one
    ``n bigint`` per key), not in the output.

    ``timeout``: ``'NoTimeout'`` is exact — state grows with distinct
    keys (bounded by key cardinality; for dedup hashes that is the
    distinct-document count, the same budget a static Bloom/set index
    would need). ``'ProcessingTimeTimeout'`` + ``ttl_ms`` bounds the
    store for unbounded key churn; an expired key's state is EVICTED,
    not flushed, so a key re-arriving after its TTL re-emits as "first"
    — the standard TTL-vs-exactness trade, stated here so callers don't
    assume expiry is free (bounded availableNow replays with NoTimeout
    are what the value oracle checks).
    """
    import pandas as pd  # noqa: F811 (module already imports pd)

    if timeout not in ("NoTimeout", "ProcessingTimeTimeout"):
        raise ValueError(
            "timeout must be 'NoTimeout' or 'ProcessingTimeTimeout', "
            f"got {timeout!r}"
        )
    if timeout == "ProcessingTimeTimeout" and not ttl_ms:
        raise ValueError("ProcessingTimeTimeout requires ttl_ms")

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        n_new = 0
        first_id = None
        for pdf in pdfs:
            if len(pdf) == 0:  # engines may hand empty Arrow chunks
                continue
            n_new += len(pdf)
            m = pdf[id_col].min()
            first_id = m if first_id is None else min(first_id, m)
        if first_id is None:  # all chunks empty: nothing to record
            return
        already = state.exists
        n_prev = state.get[0] if already else 0
        state.update((n_prev + n_new,))
        if timeout == "ProcessingTimeTimeout":
            state.setTimeoutDuration(ttl_ms)
        if not already:
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "first_id": [first_id],
                    "n_first_batch": [n_new],
                }
            )

    return keyed.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=f"{key_col} string, first_id long, n_first_batch long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=timeout,
    )


def replay_stateful_first_seen(
    spark: SparkSession,
    docs_path: str,
    docs_ddl: str,
    key_expr,
    n_shards: int = 3,
) -> DataFrame:
    """Replay a documents parquet through :func:`stateful_first_seen` as a
    REAL multi-batch stream and return the final emissions as a batch
    DataFrame.

    The input is staged as ``n_shards`` parquet shards split by ``doc_id``
    RANGE in ascending order (ascending mtimes + lexicographic names, one
    file per trigger), so micro-batches arrive in doc_id order and the
    cross-batch state genuinely suppresses re-emission: a key first seen
    in shard 0 must NOT re-emit from shards 1..n-1. Because batches are
    doc_id-ordered, the emitted ``first_id`` equals the GLOBAL
    ``min(doc_id)`` per key — the batch/SQL-checkable contract.
    """
    import hashlib
    import os
    import tempfile

    # the staging cache key must track CONTENT, not just the path — a
    # rewritten parquet at the same path must restage, not replay stale
    # shards (the sibling replays use symlinks, which track content free)
    def _sig(p: str) -> str:
        if os.path.isdir(p):
            parts = []
            for f in sorted(os.listdir(p)):
                fp = os.path.join(p, f)
                if os.path.isfile(fp):
                    st = os.stat(fp)
                    parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
            return ";".join(parts)
        st = os.stat(p)
        return f"{st.st_size}:{st.st_mtime_ns}"

    tag = hashlib.sha256(
        f"{os.path.abspath(docs_path)}|{n_shards}|{_sig(docs_path)}".encode()
    ).hexdigest()[:12]
    name = f"first_seen_{tag}"
    if spark.catalog.tableExists(name):
        spark.catalog.dropTempView(name)
    stage = os.path.join(tempfile.gettempdir(), f"first_seen_stage_{tag}")
    done = os.path.join(stage, "_staged")
    if not os.path.exists(done):
        os.makedirs(stage, exist_ok=True)
        full = spark.read.parquet(docs_path)
        lo, hi = full.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).head()
        span = (hi - lo + 1 + n_shards - 1) // n_shards
        for i in range(n_shards):
            a, b = lo + i * span, lo + (i + 1) * span
            shard_dir = os.path.join(stage, f"_mk{i}")
            (
                full.where((F.col("doc_id") >= a) & (F.col("doc_id") < b))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(shard_dir)
            )
            part = next(
                f for f in os.listdir(shard_dir) if f.endswith(".parquet")
            )
            dst = os.path.join(stage, f"shard{i:04d}.parquet")
            os.replace(os.path.join(shard_dir, part), dst)
            # ascending mtimes: the file source processes oldest-first
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        open(done, "w").close()
    stream = (
        spark.readStream.schema(docs_ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "shard*.parquet"))
    )
    keyed = stream.select(key_expr.alias("dup_key"), "doc_id")
    q = (
        stateful_first_seen(keyed)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return spark.table(name)


def streaming_merge_upsert(
    spark: SparkSession,
    changes_stream: DataFrame,
    base: DataFrame,
    key: str,
    out_dir: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Streaming CDC apply: a stream of change batches (Debezium-style
    I/U/D rows) maintains a keyed snapshot table under ``out_dir`` by
    folding each micro-batch with :func:`~dedupe_spark.operators.cdc.
    merge_upsert` — the streaming half of the lakehouse MERGE story.

    Exactly-once by copy-on-write snapshot versioning: epoch ``e`` reads
    the highest COMMITTED snapshot with id < e (``base`` if none) and
    overwrites ``snap_<e>`` wholesale; commit = Spark's ``_SUCCESS``
    marker. foreachBatch is at-least-once, but a replayed epoch re-reads
    the same predecessor and rewrites the same directory — idempotent by
    construction, so the sink composes to exactly-once (the same
    argument as streaming_er_assign's partition overwrite, applied to
    whole-snapshot COW because MERGE touches arbitrary keys, not an
    epoch-local partition). At scale each epoch's rewrite is the
    Iceberg/Delta copy-on-write strategy; high-churn tables would batch
    epochs into periodic compactions or a merge-on-read layout instead.

    Runs with availableNow and returns the FINAL snapshot as a batch
    DataFrame (``base`` unchanged if the stream carried nothing).
    """
    import os
    import re

    from ..operators.cdc import merge_upsert

    os.makedirs(out_dir, exist_ok=True)

    def _committed() -> list[int]:
        out = []
        for d in os.listdir(out_dir):
            m = re.fullmatch(r"snap_(\d+)", d)
            if m and os.path.exists(os.path.join(out_dir, d, "_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)

    def _process(batch: DataFrame, epoch_id: int) -> None:
        prev = [s for s in _committed() if s < epoch_id]
        cur = (
            spark.read.parquet(os.path.join(out_dir, f"snap_{prev[-1]}"))
            if prev
            else base
        )
        merged = merge_upsert(cur, batch, key, seq_col=seq_col, op_col=op_col)
        merged.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"snap_{epoch_id}")
        )

    q = (
        changes_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    snaps = _committed()
    if not snaps:
        return base
    return spark.read.parquet(os.path.join(out_dir, f"snap_{snaps[-1]}"))


def replay_merge_upsert(
    spark: SparkSession,
    base: DataFrame,
    changes: DataFrame,
    changes_ddl: str,
    key: str,
    stage_dir: str,
    seq_col: str = "seq",
    op_col: str = "op",
    shard_col: str = "seq",
) -> DataFrame:
    """Replay a batch change relation through
    :func:`streaming_merge_upsert` as a REAL multi-batch stream: one
    parquet file per ascending ``shard_col`` value (ascending mtimes +
    lexicographic names + maxFilesPerTrigger=1, the
    replay_stateful_first_seen staging protocol), so micro-batches apply
    the change classes in ``shard_col`` order and the cross-batch
    snapshot fold is genuinely exercised. Returns the final snapshot.
    """
    import os

    done = os.path.join(stage_dir, "_staged")
    if not os.path.exists(done):
        os.makedirs(stage_dir, exist_ok=True)
        shard_vals = [
            r[0]
            for r in changes.select(shard_col).distinct().orderBy(shard_col).collect()
        ]
        for i, v in enumerate(shard_vals):
            shard_dir = os.path.join(stage_dir, f"_mk{i}")
            (
                changes.where(F.col(shard_col) == v)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(shard_dir)
            )
            part = next(
                f for f in os.listdir(shard_dir) if f.endswith(".parquet")
            )
            dst = os.path.join(stage_dir, f"shard{i:04d}.parquet")
            os.replace(os.path.join(shard_dir, part), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        open(done, "w").close()
    stream = (
        spark.readStream.schema(changes_ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage_dir, "shard*.parquet"))
    )
    return streaming_merge_upsert(
        spark,
        stream,
        base,
        key,
        os.path.join(stage_dir, "snapshots"),
        seq_col=seq_col,
        op_col=op_col,
    )


DQ_LANG_DOMAIN = ("en", "de", "fr", "es", "zh")


def streaming_dq_counters(
    spark: SparkSession, docs_stream: DataFrame, out_dir: str
) -> DataFrame:
    """Continuous data-quality audit — the streaming half of
    queries.q_dq_checks' documents-side contract: each micro-batch
    folds per-doc_id partial counters (row count, null-text,
    out-of-domain lang, length-mismatch violations) into a keyed state
    snapshot; the final audit derives the SAME four check rows a
    one-shot scan produces, so the batch oracle transfers verbatim.

    The uniqueness check is what forces keyed state: duplicate doc_ids
    may arrive in DIFFERENT micro-batches, so per-batch counts cannot
    be summed into a scalar — the state is the per-doc_id count table
    and "violations" re-derives from it each epoch (sum of c over keys
    with c > 1). Row-local checks ride the same state rows as summed
    partials (map-side combinable in every batch).

    Exactly-once by the engine's COW snapshot idiom
    (streaming_merge_upsert): epoch e reads the highest committed
    snapshot < e, unions its batch delta, re-aggregates by doc_id and
    overwrites snap_e; replayed epochs rewrite identical bytes.
    At scale the per-doc_id state is the merge-on-read compaction
    candidate; the audit derivation is one aggregate over state."""
    import os
    import re

    os.makedirs(out_dir, exist_ok=True)

    def _committed() -> list[int]:
        out = []
        for d in os.listdir(out_dir):
            m = re.fullmatch(r"snap_(\d+)", d)
            if m and os.path.exists(os.path.join(out_dir, d, "_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)

    def _partials(df: DataFrame) -> DataFrame:
        return df.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(
                F.when(F.col("text").isNull(), 1).otherwise(0)
            ).alias("v_null"),
            F.sum(
                F.when(~F.col("lang").isin(*DQ_LANG_DOMAIN), 1).otherwise(0)
            ).alias("v_lang"),
            F.sum(
                F.when(
                    F.col("n_chars")
                    != F.length(F.coalesce(F.col("text"), F.lit(""))),
                    1,
                ).otherwise(0)
            ).alias("v_len"),
        )

    def _process(batch: DataFrame, epoch_id: int) -> None:
        prev = [s for s in _committed() if s < epoch_id]
        delta = _partials(batch)
        if prev:
            cur = spark.read.parquet(
                os.path.join(out_dir, f"snap_{prev[-1]}")
            )
            delta = (
                cur.unionByName(delta)
                .groupBy("doc_id")
                .agg(
                    F.sum("c").alias("c"),
                    F.sum("v_null").alias("v_null"),
                    F.sum("v_lang").alias("v_lang"),
                    F.sum("v_len").alias("v_len"),
                )
            )
        delta.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"snap_{epoch_id}")
        )

    q = (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    snaps = _committed()
    if not snaps:
        state = _partials(spark.createDataFrame([], (
            "doc_id long, text string, lang string, n_chars long")))
    else:
        state = spark.read.parquet(
            os.path.join(out_dir, f"snap_{snaps[-1]}")
        )

    def audit(name, viol):
        return state.agg(
            F.coalesce(F.sum("c"), F.lit(0)).alias("n_rows"),
            F.coalesce(viol, F.lit(0)).alias("n_violations"),
        ).select(
            F.lit(name).alias("check"),
            "n_rows",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )

    uniq = audit(
        "doc_id_unique",
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)),
    )
    rows = [
        ("text_not_null", F.sum("v_null")),
        ("lang_in_domain", F.sum("v_lang")),
        ("n_chars_matches_text", F.sum("v_len")),
    ]
    out = uniq
    for name, viol in rows:
        out = out.union(audit(name, viol))
    return out


def replay_dq_counters(
    spark: SparkSession,
    docs: DataFrame,
    stage_dir: str,
    shards: int = 3,
    shard_expr=None,
) -> DataFrame:
    """Replay the documents relation through streaming_dq_counters as a
    REAL multi-batch stream (one parquet per shard bucket, the
    established staging protocol) so cross-batch state folding is
    genuinely exercised. ``shard_expr`` defaults to doc_id % shards;
    tests pass an explicit bucket column to split DUPLICATE doc_ids
    across batches (the case that forces keyed state)."""
    import os

    done = os.path.join(stage_dir, "_staged")
    cols = ["doc_id", "text", "lang", "n_chars"]
    if shard_expr is None:
        shard_expr = F.col("doc_id") % shards
    if not os.path.exists(done):
        os.makedirs(stage_dir, exist_ok=True)
        for i in range(shards):
            shard_dir = os.path.join(stage_dir, f"_mk{i}")
            (
                docs.select(*cols, shard_expr.alias("_shard"))
                .where(F.col("_shard") == i)
                .drop("_shard")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(shard_dir)
            )
            part = next(
                f for f in os.listdir(shard_dir) if f.endswith(".parquet")
            )
            dst = os.path.join(stage_dir, f"shard{i:04d}.parquet")
            os.replace(os.path.join(shard_dir, part), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        open(done, "w").close()
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage_dir, "shard*.parquet"))
    )
    return streaming_dq_counters(
        spark, stream, os.path.join(stage_dir, "_state")
    )


# ---------------------------------------------------------------------------
# Streaming HLL: per-hour distinct-user estimates folded across epochs
# ---------------------------------------------------------------------------


def streaming_hll_registers(
    spark: SparkSession, events_stream: DataFrame, out_dir: str
) -> DataFrame:
    """Continuous distinct-user counting: per-hour HyperLogLog register
    state folded across exactly-once foreachBatch epochs.

    Why a sketch is THE streaming answer: exact per-hour COUNT DISTINCT
    state grows with the number of distinct users (unbounded on a
    production stream); HLL register state is FIXED at hours × 256 rows
    and registers are max-mergeable — commutative, associative,
    idempotent — so micro-batch partials fold into the standing state
    with a groupBy max, and replay order can never change the result
    (the same property that makes shard sketches mergeable in
    operators/sketches.hll_merge).

    Exactly-once via the engine's COW snapshot idiom
    (streaming_merge_upsert / streaming_dq_counters): epoch e reads the
    highest committed snapshot < e, unions its batch's partial
    registers, re-maxes and overwrites snap_e; a replayed at-least-once
    epoch rewrites identical bytes. Returns the per-hour estimates from
    the final committed state (operators/sketches.hll_estimate — the
    single-source estimator every HLL twin composes).
    """
    import os
    import re

    from ..operators.sketches import hll_estimate, hll_registers

    os.makedirs(out_dir, exist_ok=True)

    def _committed() -> list[int]:
        out = []
        for d in os.listdir(out_dir):
            m = re.fullmatch(r"snap_(\d+)", d)
            if m and os.path.exists(os.path.join(out_dir, d, "_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)

    def _partials(df: DataFrame) -> DataFrame:
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        keyed = df.where(F.col("user_id").isNotNull()).select(
            F.floor(us / 3_600_000_000).cast("long").alias("hour_id"),
            "user_id",
        )
        return hll_registers(keyed, ["hour_id"], "user_id")

    def _process(batch: DataFrame, epoch_id: int) -> None:
        prev = [s for s in _committed() if s < epoch_id]
        delta = _partials(batch)
        if prev:
            cur = spark.read.parquet(
                os.path.join(out_dir, f"snap_{prev[-1]}")
            )
            delta = (
                cur.unionByName(delta)
                .groupBy("hour_id", "reg")
                .agg(F.max("rho").alias("rho"))
            )
        delta.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"snap_{epoch_id}")
        )

    q = (
        events_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    snaps = _committed()
    if not snaps:
        return spark.createDataFrame(
            [], "hour_id long, est_distinct_users double"
        )
    final = spark.read.parquet(os.path.join(out_dir, f"snap_{snaps[-1]}"))
    return hll_estimate(final, ["hour_id"], "est_distinct_users").select(
        "hour_id", "est_distinct_users"
    )


def replay_hll_users(
    spark: SparkSession,
    events: DataFrame,
    stage_dir: str,
    shards: int = 3,
    shard_expr=None,
) -> DataFrame:
    """Replay the events relation through streaming_hll_registers as a
    REAL multi-batch stream (the replay_dq_counters staging protocol:
    one parquet per shard, ascending mtimes, one file per trigger).
    Shards default to event_id % shards — users span shards, so the
    cross-epoch register fold is genuinely exercised."""
    import os

    done = os.path.join(stage_dir, "_staged")
    cols = ["event_id", "ts", "user_id"]
    if shard_expr is None:
        shard_expr = F.col("event_id") % shards
    if not os.path.exists(done):
        os.makedirs(stage_dir, exist_ok=True)
        for i in range(shards):
            shard_dir = os.path.join(stage_dir, f"_mk{i}")
            (
                events.select(*cols, shard_expr.alias("_shard"))
                .where(F.col("_shard") == i)
                .drop("_shard")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(shard_dir)
            )
            part = next(
                f for f in os.listdir(shard_dir) if f.endswith(".parquet")
            )
            dst = os.path.join(stage_dir, f"shard{i:04d}.parquet")
            os.replace(os.path.join(shard_dir, part), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        open(done, "w").close()
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage_dir, "shard*.parquet"))
    )
    return streaming_hll_registers(
        spark, stream, os.path.join(stage_dir, "_state")
    )


def streaming_ivfpq_topk(
    spark: SparkSession,
    new_vecs: DataFrame,
    corpus: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    n_cells: int = 8,
    m: int = 8,
    ks: int = 16,
) -> DataFrame:
    """Streaming ANN front: newly ingested vectors answered against the
    STANDING corpus's IVF-PQ index — the retrieval twin of
    :func:`streaming_minhash_near_dup` (there: "is this new page a
    near-dup of the corpus"; here: "what are this new embedding's nearest
    corpus neighbors"). The expensive artifacts are built once from the
    static side and reused across every micro-batch: md5-fixed coarse
    centroids + PQ codebooks (driver arrays closed over the batch fn) and
    the encoded ``(id, cell, codes)`` table (cached — at scale a
    cell-partitioned written table, so each probe is partition pruning).

    Per micro-batch the bounded batch runs the batch-tested
    :func:`~dedupe_spark.operators.ann.ivfpq_topk` verbatim (foreachBatch
    — the rank window needs each query's full candidate set, a per-batch
    computation like streaming_er_assign's argmax). The sink is
    epoch-partitioned dynamic-overwrite parquet: an at-least-once epoch
    replay replaces its own partition — effective exactly-once. Each
    query's top-k depends only on the static index, so ANY batching of
    the stream produces identical per-query rows: replay ≡ batch, which
    is what the DuckDB oracle checks.

    Runs availableNow, returns (query_id, id, adc_d2, rank, epoch) read
    back as a batch frame.
    """
    import os

    from ..operators import ann as A

    cents = A.fixed_centroids(corpus, id_col, vec_col, n_cells)
    books = A.fixed_pq_codebooks(corpus, id_col, vec_col, m, ks)
    codes = (
        A.assign_cells(corpus, cents, vec_col)
        .join(
            A.pq_encode(corpus, books, id_col, vec_col).withColumnRenamed(
                "id", id_col
            ),
            id_col,
        )
        .select(F.col(id_col).alias("id"), "cell", "codes")
        .cache()
    )
    codes.count()
    res_dir = os.path.join(out_dir, "topk")

    def _process(batch: DataFrame, epoch_id: int) -> None:
        out = A.ivfpq_topk(
            codes, batch, cents, books,
            id_col=id_col, vec_col=vec_col, k=k, nprobe=nprobe,
        )
        (
            out.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(res_dir)
        )

    q = (
        new_vecs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
        codes.unpersist()

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("id", LongType()),
            StructField("adc_d2", DoubleType()),
            StructField("rank", IntegerType()),
            StructField("epoch", LongType()),
        ]
    )
    return read_epoch_sink(spark, res_dir, schema)


def read_epoch_sink(spark: SparkSession, res_dir: str, schema) -> DataFrame:
    """Read a foreachBatch parquet sink, mapping ONLY the
    legitimately-missing cases to an empty frame.

    An empty stream leaves no sink directory behind (or an epoch
    directory with no data files); only those map to an empty frame —
    corrupt files / permission errors must propagate, never read as
    "zero results". The check is the read itself (storage-agnostic:
    works for hdfs://, s3a://, ... where a driver-local os.walk would
    wrongly see nothing), narrowed to the missing-data
    AnalysisException classes. Contract pinned by
    tests/test_streaming.py::test_streaming_sink_read_error_contract.
    """
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(res_dir)
    except AnalysisException as e:
        msg = str(e)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return spark.createDataFrame([], schema)
        raise
