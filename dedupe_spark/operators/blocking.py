"""Blocking + candidate-pair generation (SURVEY.md §2.3 J1, §2.6 M6).

The reference gets candidate pairs from dedupe 3.0.3's learned predicate
blocks inside ``Dedupe.partition`` (call site
/root/reference/backend/dedupe_script.py:360). Spark-first design:

1. ``generate_blocks`` — project each record to (record_id, bk) rows, one per
   blocking key value; array-valued predicates (token, n-gram, minhash band)
   are exploded. bk strings are namespaced ``"<predicate>:<value>"`` so
   different predicates never collide.
2. ``candidate_pairs`` — self-join blocks on bk with ``id1 < id2``:
   * **degenerate-block cap**: keys whose block exceeds ``max_block`` records
     are dropped (stop-key semantics — at web scale a key shared by 10^5 pages
     has ~zero selectivity and O(b²) cost; AQE cannot fix the pair blow-up,
     only the shuffle skew).
   * **triangle salting** for kept-but-large blocks: records in a block of
     size > ``salt_target`` are bucketed by ``pmod(xxhash64(id), s)`` with
     ``s = ceil(size / salt_target)``; the (u ≤ v) bucket-grid join produces
     every unordered pair exactly once while spreading a mega-block over ~s²
     reducer keys instead of one — explicit skew handling per the north rule,
     works even with AQE off.
   * pairs found by multiple predicates are deduplicated once at the end.

Everything is built-in DataFrame ops (whole-stage codegen); only minhash
band-key generation uses an Arrow pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..functions import strings as S

# ---------------------------------------------------------------------------
# Predicate library (the "simple predicates" of dedupe's blocking learner)
# ---------------------------------------------------------------------------


def whole_field(col: str) -> Column:
    return F.col(col)


def first_tokens(col: str, n: int = 1) -> Column:
    return F.array_join(F.slice(F.split(F.col(col), " "), 1, n), " ")


def prefix(col: str, n: int = 4) -> Column:
    return F.substring(F.col(col), 1, n)


def token_array(col: str) -> Column:
    """Array predicate: one block per token."""
    return F.array_distinct(F.split(F.col(col), " "))


def ngram_array(col: str, n: int = 4) -> Column:
    """Array predicate: one block per character n-gram (JVM-side)."""
    c = F.col(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        )
    )


def minhash_bands_udf(
    num_perm: int = 32, bands: int = 8, shingle_k: int = 5, seed: int = 42
):
    """Returns a pandas UDF: text -> array<long> of LSH band bucket keys.

    Two texts collide on ≥1 band with probability 1-(1-J^r)^b for Jaccard J
    (r = num_perm/bands rows per band) — the standard MinHash-LSH curve.
    """
    rows = num_perm // bands
    a, b = S.minhash_params(num_perm, seed)

    @pandas_udf(ArrayType(LongType()))
    def _bands(texts: pd.Series) -> pd.Series:
        return pd.Series(
            S.minhash_bands_batch(texts, a, b, bands, rows, shingle_k)
        )

    # asNondeterministic: Catalyst's infer-filters-from-generate rule
    # otherwise duplicates the UDF into a `size(udf(x)) > 0` filter under
    # the explode — the whole MinHash kernel evaluated TWICE per document
    # (observed: two ArrowEvalPython nodes in the blocks plan). Same
    # rationale as scoring.gather_pairs.
    return _bands.asNondeterministic()


# ---------------------------------------------------------------------------
# Block generation
# ---------------------------------------------------------------------------


def generate_blocks(
    df: DataFrame,
    id_col: str,
    predicates: dict[str, Column],
    skip_values: tuple[str, ...] = ("", "N/A"),
) -> DataFrame:
    """(record_id, bk) rows; one row per (record, predicate, key value).

    ``predicates`` maps predicate-name -> Column (string or array<...>).
    Null/sentinel key values never block (they would create one mega-block of
    all records missing that field).
    """
    parts = []
    for name, expr in predicates.items():
        keyed = df.select(F.col(id_col).alias("record_id"), expr.alias("_k"))
        if keyed.schema["_k"].dataType.simpleString().startswith("array"):
            keyed = keyed.select("record_id", F.explode("_k").alias("_k"))
        part = keyed.select(
            "record_id",
            F.concat(F.lit(name + ":"), F.col("_k").cast("string")).alias("bk"),
        )
        cond = F.col("bk").isNotNull()
        for sv in skip_values:
            cond = cond & (F.col("bk") != name + ":" + sv)
        parts.append(part.where(cond))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["record_id", "bk"])


# ---------------------------------------------------------------------------
# Candidate self-join (capped + triangle-salted)
# ---------------------------------------------------------------------------


def block_sizes(blocks: DataFrame) -> DataFrame:
    return blocks.groupBy("bk").agg(F.count("*").alias("block_size"))


def dropped_block_stats(blocks: DataFrame, max_block: int) -> dict:
    """Accounting for the mega-block cap — the 'no silent caps' metric.

    Returns {dropped_keys, dropped_rows, max_dropped_size}: how many block
    keys (and member rows) :func:`candidate_pairs` will discard at this
    ``max_block``. A dropped key loses every pair found only through it, so
    callers surface this next to recall numbers (pipeline metrics JSON)
    instead of silently truncating.
    """
    row = (
        block_sizes(blocks)
        .where(F.col("block_size") > max_block)
        .agg(
            F.count("*").alias("dropped_keys"),
            F.coalesce(F.sum("block_size"), F.lit(0)).alias("dropped_rows"),
            F.coalesce(F.max("block_size"), F.lit(0)).alias("max_dropped_size"),
        )
        .collect()[0]
    )
    return {
        "dropped_keys": int(row["dropped_keys"]),
        "dropped_rows": int(row["dropped_rows"]),
        "max_dropped_size": int(row["max_dropped_size"]),
        "max_block": max_block,
    }


def warn_dropped_blocks(blocks: DataFrame, max_block: int, context: str) -> dict:
    """Compute :func:`dropped_block_stats` and log a warning if nonzero."""
    import logging

    stats = dropped_block_stats(blocks, max_block)
    if stats["dropped_keys"]:
        logging.getLogger(__name__).warning(
            "%s: mega-block cap dropped %d block keys (%d rows, largest %d) "
            "at max_block=%d — pairs found only through them are lost",
            context,
            stats["dropped_keys"],
            stats["dropped_rows"],
            stats["max_dropped_size"],
            max_block,
        )
    return stats


def candidate_pairs(
    blocks: DataFrame,
    max_block: int = 500,
    salt_target: int = 100,
) -> DataFrame:
    """All unordered record pairs sharing ≥1 block key -> (id1, id2), id1<id2.

    One pair row per pair regardless of how many predicates matched it.
    """
    from pyspark.sql import Window

    # block size via a window over bk: one shuffle, vs groupBy+join's two;
    # the count is a running aggregate over the whole partition frame
    w = Window.partitionBy("bk")
    b = (
        blocks.withColumn("block_size", F.count("*").over(w))
        .where(F.col("block_size") <= max_block)
        .withColumn(
            "s",
            F.ceil(F.col("block_size") / F.lit(salt_target)).cast("int"),
        )
        .withColumn("g", F.pmod(F.xxhash64("record_id"), F.col("s")).cast("int"))
    )
    # Row side: record in bucket g participates at grid keys (u=g, v) ∀ v ≥ g.
    left = b.select(
        "bk",
        F.col("g").alias("u"),
        F.explode(F.sequence(F.col("g"), F.col("s") - 1)).alias("v"),
        F.col("record_id").alias("id1"),
        F.col("g").alias("g1"),
    )
    # Col side: record in bucket g participates at grid keys (u, v=g) ∀ u ≤ g.
    right = b.select(
        "bk",
        F.explode(F.sequence(F.lit(0), F.col("g"))).alias("u"),
        F.col("g").alias("v"),
        F.col("record_id").alias("id2"),
        F.col("g").alias("g2"),
    )
    pairs = (
        left.join(right, ["bk", "u", "v"])
        .where(
            # same bucket: order dedups; cross bucket: grid key already unique
            F.when(F.col("g1") == F.col("g2"), F.col("id1") < F.col("id2")).otherwise(
                F.lit(True)
            )
        )
        .select(
            F.least("id1", "id2").alias("id1"),
            F.greatest("id1", "id2").alias("id2"),
        )
        .where(F.col("id1") != F.col("id2"))
    )
    return pairs.dropDuplicates(["id1", "id2"])


def write_bucketed_blocks(
    blocks: DataFrame, table: str, n_buckets: int = 64
) -> None:
    """Write-time co-location for candidate generation (the 100 TB path).

    Persists the (record_id, bk) block table hash-bucketed AND sorted by
    ``bk``: every bk-keyed operation downstream — the block-size aggregate,
    the size join, the candidate self-join — reuses the write-time layout
    instead of shuffling the full block table per run. At web scale the
    block table is the biggest relation in the pipeline (records × keys per
    record); re-deriving candidates after a threshold change, an incremental
    append, or a rerun then costs a co-located scan, not an
    every-stage-shuffles plan. The shuffle-elimination claim is asserted
    against the physical plan in tests/test_plans.py, not assumed.
    """
    if "." in table:
        # the stale-location cleanup below derives warehouse/<name>, which
        # is wrong for db-qualified names (warehouse/<db>.db/<table>)
        raise ValueError(
            f"write_bucketed_blocks takes a single-part table name, got "
            f"{table!r} — create/use the database via the session catalog "
            "and pass the bare table name"
        )
    spark = blocks.sparkSession
    # the default in-memory catalog forgets tables across sessions but the
    # managed LOCATION survives in the warehouse dir — a fresh session's
    # overwrite then fails with LOCATION_ALREADY_EXISTS; drop both
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    jpath = spark._jvm.org.apache.hadoop.fs.Path(  # noqa: SLF001
        spark.conf.get("spark.sql.warehouse.dir"), table.lower()
    )
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    fs.delete(jpath, True)
    (
        blocks.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "bk")
        .sortBy("bk")
        .saveAsTable(table)
    )


def bucketed_candidate_pairs(
    spark, table: str, max_block: int = 500
) -> DataFrame:
    """:func:`simple_candidate_pairs` over a pre-bucketed block table
    (:func:`write_bucketed_blocks`): identical pairs, but the only Exchange
    in the plan is the final pair dedup — the bk-keyed aggregate and both
    joins inherit the bucket hash-partitioning from the scan."""
    return simple_candidate_pairs(spark.table(table), max_block)


def simple_candidate_pairs(blocks: DataFrame, max_block: int = 500) -> DataFrame:
    """Reference-shape unsalted variant (J1 as a plain self-join) — used by
    the SQL-oracle queries where the triangle salt would obscure semantics.
    Produces identical pairs to :func:`candidate_pairs`."""
    sizes = block_sizes(blocks)
    kept = blocks.join(sizes, "bk").where(F.col("block_size") <= max_block)
    l = kept.select(F.col("bk"), F.col("record_id").alias("id1"))
    r = kept.select(F.col("bk"), F.col("record_id").alias("id2"))
    return (
        l.join(r, "bk")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )


def adaptive_block_keys(
    records: DataFrame,
    id_col: str,
    level_keys: list,
    cap: int = 500,
    namespace: str = "abk",
) -> DataFrame:
    """Overflow-driven key refinement → (record_id, bk) block rows.

    Each record lands in the SHALLOWEST level whose block fits ``cap``
    (deeper-level membership is computed among the overflow docs only,
    so refinement is a property of the block, not the record); the LAST
    level keeps its overflow rows — candidate_pairs' mega-block cap
    already drops-and-records them, one drop policy engine-wide. The
    structural answer to fixed-key cap collapse (BENCH.md 10× stress:
    a corpus 10× larger empties a fixed-key/fixed-cap block relation
    because every block outgrows the cap; refinement degrades coverage
    gracefully instead). Null/''/'N/A' keys never block at their level
    — such rows fall through to the next level and are dropped after
    the last (the generate_blocks sentinel rule, applied levelwise).
    Levels are namespaced ``abk<i>:`` so the relation unions cleanly
    with generate_blocks output. One groupBy + one key join per level.
    """
    if not level_keys:
        raise ValueError("adaptive_block_keys: level_keys must be non-empty")
    cols = [k.alias(f"_k{i}") for i, k in enumerate(level_keys)]
    rest = records.select(F.col(id_col).alias("record_id"), *cols)
    parts = []
    n = len(level_keys)
    for i in range(n):
        kc = F.col(f"_k{i}")
        valid = kc.isNotNull() & (kc != "") & (kc != "N/A")
        cur = rest.where(valid)
        passthru = rest.where(~valid | kc.isNull())
        sizes = cur.groupBy(f"_k{i}").agg(F.count(F.lit(1)).alias("_bs"))
        j = cur.join(sizes, f"_k{i}")
        keep = j if i == n - 1 else j.where(F.col("_bs") <= cap)
        parts.append(
            keep.select(
                "record_id",
                F.concat(F.lit(f"{namespace}{i}:"), kc).alias("bk"),
            )
        )
        if i < n - 1:
            rest = j.where(F.col("_bs") > cap).drop("_bs").unionByName(
                passthru
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["record_id", "bk"])
