"""End-to-end pipeline tests: F1, byte-identity invariant, resumability.

BASELINE.json targets: pairwise F1 >= 0.99 on labeled pairs at fixed blocking
keys; byte-identical `text` per `url`; resumable checkpoints.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dedupe_spark.fixtures import make_labeled_pairs, make_pages
from dedupe_spark.pipeline import (
    PAGE_FIELDS,
    PAGE_FIELDS_DEDUPE,
    STAGE_CONFIG,
    Pipeline,
    PipelineConfig,
    pages_df,
    pairwise_f1,
    prepare_pages,
    train_model,
)

UPSTREAM = {"records", "blocks", "candidate_pairs", "scored_pairs"}


@pytest.fixture(scope="module")
def corpus(spark):
    pages_pd, truth = make_pages(n_base=150, seed=42)
    pairs_pd = make_labeled_pairs(truth, n_pos=120, n_neg=240)
    return pages_df(spark, pages_pd), spark.createDataFrame(pairs_pd), pages_pd


@pytest.fixture(scope="module")
def run(spark, corpus, tmp_path_factory):
    pages, lab, _ = corpus
    wd = str(tmp_path_factory.mktemp("pipeline"))
    pl = Pipeline(spark, PipelineConfig(workdir=wd, threshold=0.5))
    out = pl.run(pages, lab)
    return pl, out, wd


def test_f1_target(run, corpus):
    _, out, _ = run
    _, lab, _ = corpus
    m = pairwise_f1(out["assignments"], lab)
    assert m["f1"] >= 0.99, m


def test_text_byte_identity(run, corpus, spark):
    """input_hint invariant: every url's text survives byte-identical."""
    _, out, _ = run
    pages, _, pages_pd = corpus
    before = pages.select("url", F.sha2("text", 256).alias("h"))
    after = out["records"].select("url", F.sha2("text", 256).alias("h2"))
    diff = before.join(after, "url").where(F.col("h") != F.col("h2")).count()
    assert diff == 0
    assert after.count() == len(pages_pd)


def test_clusters_shape(run):
    _, out, _ = run
    clusters = out["clusters"]
    assert {"cluster_id", "group_size", "confidence_score", "records"} <= set(
        clusters.columns
    )
    rows = clusters.collect()
    assert all(r["group_size"] > 1 for r in rows)
    confs = [r["confidence_score"] for r in rows]
    assert confs == sorted(confs, reverse=True)


def test_metrics_written(run):
    pl, _, wd = run
    for stage in ("records", "blocks", "candidate_pairs", "scored_pairs",
                  "cluster_assignments", "clusters"):
        m = json.load(open(os.path.join(wd, f"{stage}.metrics.json")))
        assert m["rows"] >= 0 and m["seconds"] >= 0 and m["key"]
    assert os.path.exists(os.path.join(wd, "pipeline.metrics.json"))
    assert os.path.exists(os.path.join(wd, "model.json"))


def test_resume_skips_and_matches(run, corpus, spark):
    """Second run over the same workdir resumes every stage and produces the
    identical cluster relation."""
    pl, out, wd = run
    pages, lab, _ = corpus
    pl2 = Pipeline(spark, PipelineConfig(workdir=wd, threshold=0.5))
    out2 = pl2.run(pages, lab)
    resumed = [n for n, m in pl2.metrics.items() if m.get("resumed")]
    assert set(resumed) >= UPSTREAM
    a = out["clusters"].select("cluster_id", "group_size").collect()
    b = out2["clusters"].select("cluster_id", "group_size").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_config_change_invalidates(run, corpus, spark):
    pl, _, wd = run
    pages, lab, _ = corpus
    pl3 = Pipeline(spark, PipelineConfig(workdir=wd, threshold=0.7))
    out3 = pl3.run(pages, lab)
    assert pl3.metrics["cluster_assignments"]["resumed"] is False
    assert all(pl3.metrics[n]["resumed"] for n in UPSTREAM)


def test_train_model_ignores_label_row_order(run, corpus):
    """The fitted weights key scored_pairs, so the order Spark returns
    the labeled rows in must not change them."""
    _, out, _ = run
    _, lab, _ = corpus
    reordered = lab.orderBy(F.col("url1").desc(), F.col("url2").desc()).repartition(3)
    a = train_model(out["records"], lab, PAGE_FIELDS)
    b = train_model(out["records"], reordered, PAGE_FIELDS)
    assert a.to_dict() == b.to_dict()


def _resumed(pl) -> set:
    return {n for n, m in pl.metrics.items() if m.get("resumed")}


def _assignments(out) -> list:
    return sorted(
        tuple(r) for r in out["assignments"].select("record_id", "cluster_id").collect()
    )


def _memberships(out) -> list:
    return sorted(
        (r["cluster_id"], tuple(m["record_id"] for m in r["records"]))
        for r in out["clusters"].select("cluster_id", "records").collect()
    )


def test_threshold_rerun_matches_clean_run(run, corpus, spark, tmp_path):
    """The rerun contract: a threshold-only rerun on a committed workdir
    reads records, blocks, candidates and scores back, re-cuts only the
    clusters, and ends with the same assignments and cluster membership
    as a clean run at the new threshold on a fresh workdir."""
    _, _, wd = run
    pages, lab, _ = corpus
    rerun = Pipeline(spark, PipelineConfig(workdir=wd, threshold=0.6))
    out = rerun.run(pages, lab)
    assert _resumed(rerun) == UPSTREAM
    clean = Pipeline(spark, PipelineConfig(workdir=str(tmp_path), threshold=0.6))
    ref = clean.run(pages, lab)
    assert not _resumed(clean)
    assert _assignments(out) == _assignments(ref)
    assert _memberships(out) == _memberships(ref)


def test_blocks_dropped_survive_resume(spark, tmp_path):
    """The mega-block guard's stats are stored with the candidate_pairs
    checkpoint: a run that resumes it reports the same blocks_dropped as
    the run that committed it, and a checkpoint committed without them (a
    crash before the metrics commit) gets them recomputed."""
    pages_pd, truth = make_pages(n_base=60, seed=3)
    pages = pages_df(spark, pages_pd)
    lab = spark.createDataFrame(make_labeled_pairs(truth, n_pos=40, n_neg=80))
    wd = str(tmp_path)
    first = Pipeline(spark, PipelineConfig(workdir=wd, max_block=2))
    first.run(pages, lab)
    dropped = first.metrics["blocks_dropped"]
    assert dropped["dropped_keys"] > 0, dropped

    again = Pipeline(spark, PipelineConfig(workdir=wd, max_block=2, threshold=0.6))
    again.run(pages, lab)
    assert again.metrics["candidate_pairs"]["resumed"] is True
    assert again.metrics["blocks_dropped"] == dropped
    with open(os.path.join(wd, "pipeline.metrics.json")) as fh:
        assert json.load(fh)["blocks_dropped"] == dropped

    mpath = os.path.join(wd, "candidate_pairs", Pipeline.MANIFEST)
    with open(mpath) as fh:
        man = json.load(fh)
    del man["metrics"]["blocks_dropped"]
    with open(mpath, "w") as fh:
        json.dump(man, fh)
    third = Pipeline(spark, PipelineConfig(workdir=wd, max_block=2))
    third.run(pages, lab)
    assert third.metrics["candidate_pairs"]["resumed"] is True
    assert third.metrics["blocks_dropped"] == dropped
    with open(mpath) as fh:
        assert json.load(fh)["metrics"]["blocks_dropped"] == dropped


# A value different from the default for every key_dict field.
FLIPPED = {
    "threshold": 0.6,
    "max_block": 7,
    "salt_target": 9,
    "id_col": "id",
    "norm_suffix": "_n",
    "fields": list(PAGE_FIELDS_DEDUPE),
    "l2": 0.2,
    "tfidf": "corpus",
    "idf_top_k": 1024,
    "refine": True,
    "extract_html": "builtin",
    "phonetic_blocking": True,
    "adaptive_blocking": True,
}


def _stage_keys(**overrides) -> dict:
    """Every stage's key for a config, parents held fixed. No Spark and no
    workdir: ``_stage_key`` reads only the config. ``wide`` stands for a
    stage not in STAGE_CONFIG."""
    p = object.__new__(Pipeline)
    p.cfg = PipelineConfig(workdir="unused", **overrides)
    return {s: p._stage_key(s, []) for s in [*STAGE_CONFIG, "wide"]}


def test_stage_config_covers_key_dict():
    """Every config field that can change a result keys some stage."""
    fields = set(PipelineConfig(workdir="unused").key_dict())
    assert set().union(*STAGE_CONFIG.values()) == fields
    assert set(FLIPPED) == fields


@pytest.mark.parametrize("field", sorted(FLIPPED))
def test_config_field_keys_exactly_its_stages(field):
    base = _stage_keys()
    flipped = _stage_keys(**{field: FLIPPED[field]})
    changed = {s for s in base if base[s] != flipped[s]}
    listed = {s for s, reads in STAGE_CONFIG.items() if field in reads}
    assert changed == listed | {"wide"}


@pytest.mark.parametrize("storage", [{"snapshot_retention": 0}])
def test_storage_fields_change_no_key(storage):
    assert _stage_keys(**storage) == _stage_keys()


def test_dedupe_parity_comparators_f1(spark, corpus, tmp_path_factory):
    """Affine-gap + corpus-TF-IDF comparator set (reference M1 parity)
    also hits the F1 target end-to-end."""
    from dedupe_spark.pipeline import PAGE_FIELDS_DEDUPE

    pages, lab, _ = corpus
    wd = str(tmp_path_factory.mktemp("pipeline_dedupe"))
    pl = Pipeline(
        spark,
        PipelineConfig(
            workdir=wd,
            threshold=0.5,
            fields=list(PAGE_FIELDS_DEDUPE),
            tfidf="corpus",
        ),
    )
    out = pl.run(pages, lab)
    m = pairwise_f1(out["assignments"], lab)
    assert m["f1"] >= 0.99, m


def test_refine_option_and_blocking_recall(spark, corpus, tmp_path_factory):
    pages, lab, _ = corpus
    wd = str(tmp_path_factory.mktemp("pipeline_refine"))
    pl = Pipeline(spark, PipelineConfig(workdir=wd, threshold=0.5, refine=True))
    out = pl.run(pages, lab)
    m = pairwise_f1(out["assignments"], lab)
    assert m["f1"] >= 0.99, m
    rec = pl.metrics["blocking_recall"]["labeled_positive_recall"]
    assert rec >= 0.99, rec


def test_prepare_pages_derived_fields(spark):
    df = spark.createDataFrame(
        [("https://www.site1.example.com/a/b?x=1", "Hello World document text here")],
        "url string, text string",
    )
    row = prepare_pages(df).collect()[0]
    assert row["host"] == "site1.example.com"
    assert row["path"] == "/a/b"
    assert row["host_norm"] == "site1.example.com"
    assert row["title_norm"].startswith("hello world")
    assert row["text"] == "Hello World document text here"


def test_stage_metrics_carry_per_partition_lineage(run):
    """Every non-resumed checkpointed stage records per-partition row
    counts (north_star: per-partition lineage + metrics) that sum to the
    stage's row count."""
    pl, _, _ = run
    checked = 0
    for name, m in pl.metrics.items():
        if "partition_rows" not in m:
            continue  # derived metric entries (recall, totals)
        assert m["rows"] == sum(m["partition_rows"].values()), name
        # partition_rows lists only non-empty partitions; the scan count
        # includes empty ones
        assert m["partitions"] >= len(m["partition_rows"]), name
        checked += 1
    assert checked >= 4  # records, blocks, candidate_pairs, scored_pairs, ...


@pytest.fixture(scope="module")
def crash_run(spark, corpus, tmp_path_factory):
    """Dedicated workdir for the crash-resume tests: the shared `run`
    workdir gets legitimately rewritten by the resume/config-change tests,
    so these tests own their snapshot state end to end. The three tests
    below mutate it IN SEQUENCE (each leaves a committed, key-matching
    state behind)."""
    pages, lab, _ = corpus
    wd = str(tmp_path_factory.mktemp("pipeline_crash"))
    pl = Pipeline(spark, PipelineConfig(workdir=wd, threshold=0.5))
    out = pl.run(pages, lab)
    return wd, pages, lab, out["records"].count()


def test_orphan_checkpoint_without_manifest_recomputes(crash_run, spark):
    """Crash-resume (VERDICT r3 item 2): a parquet directory left by a
    crash BETWEEN the data write and the commit (no manifest) must be
    recomputed, never trusted — even though it parses as valid parquet.
    Emulated exactly: poison the `records` checkpoint with a wrong-content
    parquet dir carrying no manifest, rerun, and assert the stage
    recomputed and the poison rows are gone."""
    import shutil

    wd, pages, lab, good_rows = crash_run
    ckpt = os.path.join(wd, "records")
    schema = spark.read.parquet(ckpt).schema
    poison = spark.createDataFrame([], schema)
    shutil.rmtree(ckpt)
    poison.write.parquet(ckpt)  # orphan: parquet yes, manifest no
    assert not os.path.exists(os.path.join(ckpt, Pipeline.MANIFEST))

    pl2 = Pipeline(spark, PipelineConfig(workdir=wd, threshold=0.5))
    out2 = pl2.run(pages, lab)
    assert pl2.metrics["records"]["resumed"] is False  # orphan not trusted
    assert out2["records"].count() == good_rows
    # the recomputed checkpoint is committed: manifest present and valid
    assert os.path.exists(os.path.join(ckpt, Pipeline.MANIFEST))


def test_partially_deleted_checkpoint_recomputes(crash_run, spark):
    """A committed checkpoint that later loses a data file (disk fault,
    manual tampering) fails the manifest's file-list validation and is
    recomputed instead of silently resuming with missing rows."""
    wd, pages, lab, good_rows = crash_run
    ckpt = os.path.join(wd, "records")
    parts = [f for f in os.listdir(ckpt) if f.endswith(".parquet")]
    os.remove(os.path.join(ckpt, parts[0]))

    pl2 = Pipeline(spark, PipelineConfig(workdir=wd, threshold=0.5))
    pl2.run(pages, lab)
    assert pl2.metrics["records"]["resumed"] is False
    assert pl2.metrics["records"]["rows"] == good_rows


def test_stale_inprogress_dirs_swept(crash_run, spark):
    """Leftover staging dirs from a crashed commit are swept on the next
    run and never shadow the committed snapshot."""
    wd, pages, lab, _ = crash_run
    stale = os.path.join(wd, "records.inprogress-deadbeef")
    os.makedirs(stale)
    with open(os.path.join(stale, "junk"), "w") as fh:
        fh.write("x")
    pl2 = Pipeline(spark, PipelineConfig(workdir=wd, threshold=0.5))
    pl2.run(pages, lab)
    assert not os.path.exists(stale)
    assert pl2.metrics["records"]["resumed"] is True


def test_snapshot_history_time_travel_and_expiry(spark, corpus, tmp_path_factory):
    """Iceberg-style snapshot log: a recommit supersedes (never deletes)
    the previous snapshot; read_snapshot() time-travels; expiry reclaims."""
    pages, lab, _ = corpus
    wd = str(tmp_path_factory.mktemp("snapshots"))
    pl1 = Pipeline(spark, PipelineConfig(workdir=wd, threshold=0.5))
    n1 = pl1.run(pages, lab)["clusters"].count()
    log1 = pl1.snapshots("clusters")
    assert [(e["snapshot_id"], e["current"]) for e in log1] == [(1, True)]
    assert log1[0]["rows"] is not None and log1[0]["committed_at"] is not None

    # threshold change -> the clustering stages recommit; the old
    # snapshot is kept
    pl2 = Pipeline(spark, PipelineConfig(workdir=wd, threshold=0.9))
    n2 = pl2.run(pages, lab)["clusters"].count()
    log2 = pl2.snapshots("clusters")
    assert [(e["snapshot_id"], e["current"]) for e in log2] == [
        (1, False), (2, True)]
    # time travel: snapshot 1 is the threshold-0.5 relation, bit-for-bit
    assert pl2.read_snapshot("clusters", 1).count() == n1
    assert pl2.read_snapshot("clusters").count() == n2
    assert pl2.read_snapshot("clusters", 2).count() == n2

    # third commit stays within the default retention of 2 superseded
    pl3 = Pipeline(spark, PipelineConfig(workdir=wd, threshold=0.7))
    pl3.run(pages, lab)
    assert [e["snapshot_id"] for e in pl3.snapshots("clusters")] == [1, 2, 3]

    # expiry drops oldest-first, never the live snapshot
    assert pl3.expire_snapshots("clusters", keep_last=1) == [1]
    with pytest.raises(LookupError):
        pl3.read_snapshot("clusters", 1)
    assert pl3.read_snapshot("clusters", 2).count() == n2
    with pytest.raises(LookupError):
        pl3.read_snapshot("clusters", 99)


def test_snapshot_retention_zero_disables_history(spark, corpus, tmp_path_factory):
    pages, lab, _ = corpus
    wd = str(tmp_path_factory.mktemp("snapshots0"))
    for thr in (0.5, 0.9):
        pl = Pipeline(
            spark,
            PipelineConfig(workdir=wd, threshold=thr, snapshot_retention=0),
        )
        pl.run(pages, lab)
    log = pl.snapshots("clusters")
    assert [(e["snapshot_id"], e["current"]) for e in log] == [(2, True)]
    with pytest.raises(LookupError):
        pl.read_snapshot("clusters", 1)


def test_compact_stage_merges_files_keeps_data_and_resume(spark, tmp_path_factory):
    import os

    from pyspark.sql import functions as F

    wd = str(tmp_path_factory.mktemp("compact"))
    p = Pipeline(spark, PipelineConfig(workdir=wd))
    src = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    # write at high parallelism -> many small files
    df, key = p.stage("wide", [], lambda: src.repartition(24))
    path = os.path.join(wd, "wide")
    before = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(before) >= 20
    old_rows = sorted(tuple(r) for r in df.collect())
    old_sid = p.snapshots("wide")[-1]["snapshot_id"]

    out = p.compact_stage("wide", target_file_bytes=1 << 30)
    assert out["files_before"] == len(before) and out["files_after"] == 1
    after = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(after) == 1
    # data identical
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == old_rows
    # resume still matches: the stage key is preserved by compaction
    df2, _ = p.stage("wide", [], lambda: (_ for _ in ()).throw(AssertionError))
    assert p.metrics["wide"]["resumed"] is True
    assert sorted(tuple(r) for r in df2.collect()) == old_rows
    # the pre-compaction snapshot stays time-travel readable
    snap = p.read_snapshot("wide", old_sid)
    assert sorted(tuple(r) for r in snap.collect()) == old_rows
    log = p.snapshots("wide")
    assert log[-1]["snapshot_id"] == out["snapshot_id"]


def test_one_off_stage_commits_then_resumes(spark, tmp_path):
    """A stage outside STAGE_CONFIG commits on its first call and resumes
    on the second, under the same key."""
    p = Pipeline(spark, PipelineConfig(workdir=str(tmp_path)))
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    out, key = p.stage("unit_stage", [], lambda: df)
    assert out.count() == 10
    assert p.metrics["unit_stage"]["resumed"] is False
    out2, key2 = p.stage("unit_stage", [], lambda: df)
    assert key2 == key
    assert p.metrics["unit_stage"]["resumed"] is True


def test_www_strip_is_case_insensitive(spark):
    df = spark.createDataFrame(
        [("http://WWW.Example.com/a", "t", "x y"),
         ("http://www.example.com/a", "t", "x y")],
        "url string, warc_ts string, text string",
    )
    hosts = {
        r["host_norm"]
        for r in prepare_pages(df, spread=False).select("host_norm").collect()
    }
    assert hosts == {"example.com"}  # same logical host, same block key


def test_compacted_manifest_metrics_describe_new_layout(spark, tmp_path_factory):
    import json
    import os

    from pyspark.sql import functions as F

    wd = str(tmp_path_factory.mktemp("compactmeta"))
    p = Pipeline(spark, PipelineConfig(workdir=wd))
    src = spark.range(0, 2_000).select("id", (F.col("id") % 3).alias("v"))
    p.stage("meta", [], lambda: src.repartition(16))
    p.compact_stage("meta", target_file_bytes=1 << 30)
    man = json.load(
        open(os.path.join(wd, "meta", Pipeline.MANIFEST))
    )
    assert man["compacted"] is True
    assert man["metrics"]["rows"] == 2_000
    # lineage must describe the compacted layout, not the 16-file one
    assert man["metrics"]["partitions"] == 1
    assert len(man["metrics"]["partition_rows"]) == 1


def test_extract_html_fills_null_text(corpus, spark, tmp_path):
    """An html-only corpus (text arrives NULL) runs end-to-end when
    extract_html is enabled: the records stage fills text from the html
    binary (whitespace-collapsed per the extraction contract), match
    quality is unchanged (F1 >= 0.99 on the same labels), and rows that
    ARRIVE with text keep it byte-identical — extraction never
    overwrites."""
    pages, lab, _ = corpus
    htmlonly = pages.withColumn("text", F.lit(None).cast("string"))
    pl = Pipeline(
        spark,
        PipelineConfig(
            workdir=str(tmp_path / "htmlonly"), threshold=0.5, extract_html="parser"
        ),
    )
    out = pl.run(htmlonly, lab)
    m = pairwise_f1(out["assignments"], lab)
    assert m["f1"] >= 0.99, m
    # filled text == whitespace-normalized original text, every url
    want = pages.select(
        "url",
        F.trim(F.regexp_replace("text", "[ \t\n\r]+", " ")).alias("want"),
    )
    got = out["records"].select("url", F.col("text").alias("got"))
    assert want.join(got, "url").where(F.col("want") != F.col("got")).count() == 0
    # never-overwrite: a mixed corpus keeps arriving text byte-identical
    mixed = Pipeline(
        spark,
        PipelineConfig(
            workdir=str(tmp_path / "mixed"), threshold=0.5, extract_html="parser"
        ),
    )
    out2 = mixed.run(pages, lab)
    before = pages.select("url", F.sha2("text", 256).alias("h"))
    after = out2["records"].select("url", F.sha2("text", 256).alias("h2"))
    assert before.join(after, "url").where(F.col("h") != F.col("h2")).count() == 0


def test_phonetic_blocking_predicate(spark, tmp_path):
    """phonetic_blocking=True adds the host+Soundex key: the key
    appears in the predicate map, the fixture F1 stays perfect with it
    enabled, and the flag participates in the resume key (blocks
    recompute on change)."""
    from dedupe_spark.fixtures import make_labeled_pairs, make_pages
    from dedupe_spark.pipeline import (
        Pipeline,
        PipelineConfig,
        page_predicates,
        pages_df,
        pairwise_f1,
    )

    assert "host_sdx" in page_predicates(phonetic=True)
    assert "host_sdx" not in page_predicates()

    pages_pd, truth = make_pages(n_base=120)
    labels = make_labeled_pairs(truth, n_pos=60, n_neg=120)
    pages = pages_df(spark, pages_pd)
    wd = str(tmp_path / "wd")
    out = Pipeline(
        spark, PipelineConfig(workdir=wd, phonetic_blocking=True)
    ).run(pages, spark.createDataFrame(labels))
    f1 = pairwise_f1(out["assignments"], spark.createDataFrame(labels))
    assert f1["f1"] == 1.0
    # flag flips -> blocks stage must recompute, not resume
    p2 = Pipeline(spark, PipelineConfig(workdir=wd, phonetic_blocking=False))
    p2.run(pages, spark.createDataFrame(labels))
    assert p2.metrics["blocks"].get("resumed") is not True
