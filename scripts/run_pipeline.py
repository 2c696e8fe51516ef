"""spark-submit entrypoint for the full record-linkage pipeline.

Cluster:
    python -m zipfile -c dist/dedupe_spark.zip dedupe_spark
    spark-submit --py-files dist/dedupe_spark.zip scripts/run_pipeline.py \
        --pages s3://.../pages/ --labels s3://.../labeled_pairs/ \
        --workdir s3://.../run1/ --threshold 0.5 --comparators dedupe

Sandbox smoke (fixture corpus, local master):
    python scripts/run_pipeline.py --fixture --workdir /tmp/run1 --master 'local[8]'

Stages checkpoint under --workdir. On a rerun each stage resumes when the
config fields it reads and its upstream stages are unchanged, so a rerun
with only --threshold changed recomputes just the two clustering stages.
Prints one JSON line at the end: the stage metrics, the list of stages the
run resumed ("resumed_stages") and pairwise F1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet path of pages(url,warc_ts,html,text,lang)")
    ap.add_argument("--labels", help="parquet path of labeled_pairs(url1,url2,label)")
    ap.add_argument("--fixture", action="store_true", help="use the seeded fixture corpus")
    ap.add_argument("--fixture-size", type=int, default=500)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--max-block", type=int, default=500)
    ap.add_argument("--salt-target", type=int, default=100)
    ap.add_argument(
        "--comparators",
        choices=["jwlev", "dedupe"],
        default="jwlev",
        help="jwlev: Jaro-Winkler+Levenshtein; dedupe: affine-gap + corpus TF-IDF",
    )
    ap.add_argument(
        "--master",
        default="cluster",
        help="'cluster' (default) defers to spark-submit; or e.g. local[8]",
    )
    args = ap.parse_args()

    from dedupe_spark.pipeline import (
        PAGE_FIELDS,
        PAGE_FIELDS_DEDUPE,
        Pipeline,
        PipelineConfig,
        pages_df,
        pairwise_f1,
    )
    from dedupe_spark.session import get_spark

    spark = get_spark("dedupe_spark_pipeline", master=args.master)

    if args.fixture:
        from dedupe_spark.fixtures import make_labeled_pairs, make_pages

        pages_pd, truth = make_pages(n_base=args.fixture_size)
        pages = pages_df(spark, pages_pd)
        labels = spark.createDataFrame(make_labeled_pairs(truth))
    else:
        if not (args.pages and args.labels):
            ap.error("--pages and --labels required without --fixture")
        pages = spark.read.parquet(args.pages)
        labels = spark.read.parquet(args.labels)

    dedupe_mode = args.comparators == "dedupe"
    cfg = PipelineConfig(
        workdir=args.workdir,
        threshold=args.threshold,
        max_block=args.max_block,
        salt_target=args.salt_target,
        fields=list(PAGE_FIELDS_DEDUPE if dedupe_mode else PAGE_FIELDS),
        tfidf="corpus" if dedupe_mode else "none",
    )
    pl = Pipeline(spark, cfg)
    out = pl.run(pages, labels)
    metrics = dict(pl.metrics)
    metrics["resumed_stages"] = [n for n, m in pl.metrics.items() if m.get("resumed")]
    metrics["pairwise_f1"] = pairwise_f1(out["assignments"], labels)
    metrics["n_clusters"] = out["clusters"].count()
    print(json.dumps(metrics, default=str))


if __name__ == "__main__":
    main()
