"""A/B width-32 scoring-round configs to attack the pinned t32.

Each config runs in a fresh taskset-pinned JVM: same workload as
scaling_bench, 4 measured rounds, min reported.

Usage: python scripts/w32_ab.py            # parent: all configs
       python scripts/w32_ab.py --child '<json-conf>'
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CONFIGS = {
    "base": {},
    "arrow100k": {"spark.sql.execution.arrow.maxRecordsPerBatch": "100000"},
    "tasks6": {"_tasks_per_core": 6},
    "pretouch": {
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:+AlwaysPreTouch"
    },
}


def child(conf: dict) -> None:
    from pyspark.sql import functions as F

    from dedupe_spark.operators import blocking as B
    from dedupe_spark.operators.scoring import RecordLookup, score_pairs
    from dedupe_spark.queries import DOC_FIELDS, FLAGSHIP_MODEL, _doc_records
    from dedupe_spark.session import get_spark

    tpc = int(conf.pop("_tasks_per_core", 3))
    spark = get_spark(
        "w32_ab",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf=conf,
    )
    records = _doc_records(spark, "/root/testdata/sf0.1").cache()
    records.count()
    blocks = B.generate_blocks(
        records,
        "doc_id",
        {
            "lang": F.col("lang"),
            "t1": B.first_tokens("title_norm", 1),
            "hb": F.pmod(F.xxhash64("doc_id"), F.lit(2)).cast("string"),
        },
    )
    cands = (
        B.candidate_pairs(blocks, max_block=10_000, salt_target=500)
        .repartition(32 * tpc)
        .cache()
    )
    cands.count()
    lookup = RecordLookup.build(records, "doc_id", DOC_FIELDS, "_norm")

    def run():
        s = score_pairs(
            cands, records, FLAGSHIP_MODEL, DOC_FIELDS, "doc_id", "_norm",
            lookup=lookup, repartition_pairs=False,
        )
        s.agg(F.sum("score")).collect()

    run()
    ts = []
    for _ in range(4):
        t0 = time.time()
        run()
        ts.append(round(time.time() - t0, 2))
    print(json.dumps({"min": min(ts), "rounds": ts}))


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        child(json.loads(sys.argv[2]))
        return
    for name, conf in CONFIGS.items():
        out = subprocess.run(
            [
                "taskset", "-c", "0-31",
                sys.executable, os.path.abspath(__file__),
                "--child", json.dumps(conf),
            ],
            capture_output=True, text=True, cwd=REPO, timeout=900,
        )
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        print(f"{name}: {line}", flush=True)


if __name__ == "__main__":
    main()
