"""Decompose the scoring round into floor / gather / kernel at one width.

Same workload as scripts/scaling_bench.py; three timed variants:
  noop    — pandas UDF returning a constant over (id1, id2): measures the
            Arrow ship + pandas materialization + scheduling floor
  gather  — lookup gather + feature-prep (fillna/astype) but no DP kernels
  full    — the real scoring UDF

Usage: taskset -c 0-{N-1} python scripts/floor_probe.py N [rounds]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    from dedupe_spark.operators import blocking as B
    from dedupe_spark.operators.scoring import (
        RecordLookup,
        make_lookup_score_udf,
        score_pairs,
    )
    from dedupe_spark.queries import DOC_FIELDS, FLAGSHIP_MODEL, _doc_records
    from dedupe_spark.session import get_spark

    cpus = int(sys.argv[1])
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        f"floor_probe_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    records = _doc_records(spark, sf_dir).cache()
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
        .repartition(cpus * 3)
        .cache()
    )
    n_pairs = cands.count()
    lookup = RecordLookup.build(records, "doc_id", DOC_FIELDS, "_norm")
    bc = lookup.broadcast
    fields = list(DOC_FIELDS)

    @pandas_udf(DoubleType())
    def _noop(id1, id2):
        return pd.Series(np.full(len(id1), 0.5))

    @pandas_udf(DoubleType())
    def _gather(id1, id2):
        lk = bc.value
        ids = lk["ids"]
        p1 = ids.get_indexer(id1.to_numpy())
        p2 = ids.get_indexer(id2.to_numpy())
        ok = (p1 >= 0) & (p2 >= 0)
        tot = np.zeros(len(id1))
        for f in fields:
            ls = pd.Series(lk["cols"][f.name][np.where(ok, p1, 0)])
            rs = pd.Series(lk["cols"][f.name][np.where(ok, p2, 0)])
            ls = ls.fillna("N/A").astype(str)
            rs = rs.fillna("N/A").astype(str)
            tot += (ls.str.len() + rs.str.len()).to_numpy(dtype=np.float64)
        return pd.Series(tot)

    slim = cands.select("id1", "id2")
    out = {"cpus": cpus, "n_pairs": n_pairs}
    for name, df in (
        ("noop", slim.select(_noop("id1", "id2").alias("score"))),
        ("gather", slim.select(_gather("id1", "id2").alias("score"))),
        (
            "full",
            slim.select(
                make_lookup_score_udf(FLAGSHIP_MODEL, fields, lookup)(
                    "id1", "id2"
                ).alias("score")
            ),
        ),
    ):
        df.agg(F.sum("score")).collect()  # warm-up
        ts = []
        for _ in range(rounds):
            t0 = time.time()
            df.agg(F.sum("score")).collect()
            ts.append(round(time.time() - t0, 2))
        out[name] = {"min": min(ts), "rounds": ts}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
