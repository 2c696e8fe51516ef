"""One-off profiling harness for the minhash_pairs fixed-cost hunt
(VERDICT r2 item 1). Times each sub-stage of q_minhash_pairs separately at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS]."""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from pyspark.sql import functions as F

    from dedupe_spark.operators import blocking as B
    from dedupe_spark.operators import dedup as D
    from dedupe_spark.session import default_cpus, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    spark = get_spark("profile_minhash", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    par = spark.sparkContext.defaultParallelism

    t0 = time.time()
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    d.count()
    print(f"scan+count: {time.time()-t0:.2f}s")

    t0 = time.time()
    d = d.repartition(par)
    d.count()
    print(f"repartition: {time.time()-t0:.2f}s")

    t0 = time.time()
    lk = D.text_lookup(d, "doc_id", "text")
    print(f"text_lookup build: {time.time()-t0:.2f}s")

    mh = B.minhash_bands_udf(num_perm=126, bands=21, shingle_k=5)
    t0 = time.time()
    blocks = B.generate_blocks(d, "doc_id", {"mh": mh(F.col("text"))}).cache()
    nb = blocks.count()
    print(f"minhash blocks materialize: {time.time()-t0:.2f}s rows={nb}")

    t0 = time.time()
    pairs = B.candidate_pairs(blocks, max_block=2000)
    npairs = pairs.count()
    print(f"candidate_pairs: {time.time()-t0:.2f}s rows={npairs}")

    t0 = time.time()
    verified = D.ngram_jaccard_verify(pairs, d, "doc_id", "text", n=5, lookup=lk)
    out = verified.where(F.col("jaccard") >= 0.7)
    nout = out.count()
    print(f"verify+filter: {time.time()-t0:.2f}s rows={nout}")

    t0 = time.time()
    q = D.minhash_lsh_pairs(d, "doc_id", jaccard_threshold=0.7, verify_lookup=lk)
    nq = q.count()
    print(f"full operator end-to-end (warm blocks gone? fresh): {time.time()-t0:.2f}s rows={nq}")


if __name__ == "__main__":
    main()
