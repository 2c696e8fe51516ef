"""End-to-end crawl front: the north-star pipeline driven from RAW WARC
ARCHIVES rather than a prepared table.

    synthesize crawl (fixtures.make_pages, html bytes only)
      → write_warc            (per-record-gzip archives = "the crawl")
      → read_warc ranged      (split-aware scan, 4 MiB ranges, resync)
      → warc_pages bridge     (input_hint schema, text/lang NULL)
      → Pipeline(extract_html="builtin")
            ingest+extract → normalize → block → candidates → score
            → cluster → assemble   (checkpointed, resumable)
      → pairwise F1 vs fixture truth

plus a standalone exact-dedup pass (sha2 keep-first) for the dedup-rate
line. Everything deterministic; prints ONE JSON line of per-stage
rows + wall-clocks.

Usage: python scripts/crawl_e2e.py [n_base=10000]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    from pyspark.sql import functions as F

    from dedupe_spark.fixtures import make_labeled_pairs, make_pages
    from dedupe_spark.pipeline import (
        Pipeline,
        PipelineConfig,
        pages_df,
        pairwise_f1,
    )
    from dedupe_spark.session import default_cpus, get_spark
    from dedupe_spark.sources.warc import read_warc, warc_pages, write_warc

    cpus = default_cpus()
    spark = get_spark(
        "crawl_e2e", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    out: dict = {"n_base": n_base, "cpus": cpus}

    # 1. synthesize the crawl and archive it (html bytes are the ONLY
    #    payload carried into the archives — text/lang must be re-derived)
    t = time.time()
    pages_pd, truth = make_pages(n_base=n_base)
    src = pages_df(spark, pages_pd)
    arch_dir = tempfile.mkdtemp(prefix="crawl_e2e_warc_")
    manifest = write_warc(
        src.select("url", "warc_ts", "html").repartition(cpus), arch_dir
    ).collect()
    out["n_pages"] = int(sum(r.n_records for r in manifest))
    out["n_archives"] = int(sum(1 for r in manifest if r.n_records > 0))
    out["archive_bytes"] = int(sum(r.bytes for r in manifest))
    out["t_archive"] = round(time.time() - t, 2)

    # 2. ranged ingest: archives → pages table through the SPLIT-AWARE
    #    scan (256 KiB splits — smaller than one archive, so gzip-member
    #    resync genuinely runs on the data the pipeline consumes)
    t = time.time()
    ingested = warc_pages(
        spark, os.path.join(arch_dir, "*.warc.gz"), split_bytes=256 << 10
    ).localCheckpoint()
    out["n_ingested"] = ingested.count()
    out["t_ingest"] = round(time.time() - t, 2)
    assert out["n_ingested"] == out["n_pages"]
    # the file-granular scan must agree with the ranged scan
    t = time.time()
    out["n_file_scan"] = read_warc(
        spark, os.path.join(arch_dir, "*.warc.gz")
    ).count()
    out["t_file_scan"] = round(time.time() - t, 2)
    assert out["n_file_scan"] == out["n_pages"]

    # 3. standalone exact-dedup rate over extracted text (the cheap
    #    first-pass filter a crawl pipeline runs before near-dup)
    from dedupe_spark.pipeline import fill_text_from_html

    t = time.time()
    extracted = fill_text_from_html(ingested, "builtin")
    out["n_exact_unique"] = (
        extracted.select(F.sha2("text", 256).alias("h"))
        .dropDuplicates(["h"])
        .count()
    )
    out["t_exact_dedup"] = round(time.time() - t, 2)

    # 4. the full checkpointed ER pipeline, html-only ingest
    labels = spark.createDataFrame(make_labeled_pairs(truth))
    workdir = tempfile.mkdtemp(prefix="crawl_e2e_wd_")
    t = time.time()
    res = Pipeline(
        spark,
        PipelineConfig(workdir=workdir, extract_html="builtin"),
    ).run(ingested, labels)
    out["n_clusters"] = res["clusters"].count()
    out["t_pipeline"] = round(time.time() - t, 2)
    f1 = pairwise_f1(res["assignments"], labels)
    out["pairwise_f1"] = f1["f1"]
    out["t_total"] = round(
        out["t_archive"]
        + out["t_ingest"]
        + out["t_file_scan"]
        + out["t_exact_dedup"]
        + out["t_pipeline"],
        2,
    )
    shutil.rmtree(arch_dir, ignore_errors=True)
    shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
