"""Training workflow (SURVEY.md §2.6 M2-M5): pair sampling, active learning,
label ingestion, and greedy blocking-predicate selection.

The reference delegates all of this to dedupe 3.0.3 (`prepare_training`,
`uncertain_pairs`, `mark_pairs`, `train` — call sites
/root/reference/backend/dedupe_script.py:293-337). Rebuilt Spark-first:

- sample_training_pairs (M2): union of random pairs and block-collided pairs
  from a bounded training slice (the reference trains on <=400 rows,
  dedupe_script.py:193) — distributed ops, driver-small result.
- uncertain_pairs (M3): top-k candidates nearest the decision boundary,
  ranked driver-side in numpy. The labeling pool is driver-small by
  construction: every pair lies inside the training slice, so it holds
  at most C(max_rows, 2) pairs — 79,800 at the default 400 rows, 0.64 MB
  of float64 per feature column (7.7 MB for four String fields).
  ``api.Deduper`` featurizes it in one Spark job per prepare_training;
  every later round is a numpy sort over that matrix and runs no Spark job.
- split_labels (M4): y/n/u -> match/distinct sets ('u' filtered,
  page.tsx:253).
- select_predicates (M5b): greedy set-cover over labeled matches — pick
  predicates that cover the most uncovered positive pairs at bounded block
  cost, the published core of dedupe's blocking learner (Bilenko & Mooney
  2003 adaptive blocking). Runs driver-side on the small labeled sample;
  the *chosen* predicates then run distributed over the full corpus.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .model import uncertainty
from .operators import blocking as B


def training_slice(df: DataFrame, id_col: str, max_rows: int = 400) -> DataFrame:
    """Deterministic bounded slice (reference P4: first 400 rows;
    order fixed by id so the slice is stable across partitionings)."""
    return df.orderBy(id_col).limit(max_rows)


def sample_training_pairs(
    records: DataFrame,
    id_col: str,
    predicates: dict[str, Column],
    n_random: int = 300,
    max_rows: int = 400,
    seed: int = 42,
) -> DataFrame:
    """M2: candidate training pairs = blocked pairs ∪ random pairs over the
    training slice. Returns (id1, id2) with id1 < id2."""
    sl = training_slice(records, id_col, max_rows).cache()
    blocks = B.generate_blocks(sl, id_col, predicates)
    blocked = B.candidate_pairs(blocks, max_block=max_rows)
    ids = sl.select(F.col(id_col).alias("_id"))
    a = ids.select(F.col("_id").alias("id1"), F.rand(seed).alias("r1"))
    b = ids.select(F.col("_id").alias("id2"), F.rand(seed + 1).alias("r2"))
    rand_pairs = (
        a.orderBy("r1")
        .limit(n_random)
        .crossJoin(b.orderBy("r2").limit(max(n_random // 10, 2)))
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .orderBy(F.xxhash64("id1", "id2"))
        .limit(n_random)
    )
    return blocked.unionByName(rand_pairs).dropDuplicates(["id1", "id2"])


def reprocess_training_records(
    records: DataFrame,
    pair_records: DataFrame,
    feature_cols: list[str],
    id_col: str,
    max_rows: int = 400,
) -> DataFrame:
    """P5+P6 (reference dedupe_script.py:219-252): rebuild the bounded
    training slice from the records referenced by labeled pairs.

    The reference does an O(pairs x N) full scan comparing every non-meta
    field stringwise; relationally that is an equality semi-join on the
    composite feature key (J2), then padding with arbitrary other records
    up to ``max_rows`` (P6) — here 'arbitrary' is made deterministic
    (lowest ids first).
    """
    selected = records.join(
        pair_records.select(*feature_cols).dropDuplicates(),
        feature_cols,
        "left_semi",
    ).cache()
    n_selected = selected.count()
    # referenced records are never evicted (reference keeps them all,
    # dedupe_script.py:238); padding fills only the remaining budget
    budget = max(max_rows - n_selected, 0)
    pad = (
        records.join(selected.select(id_col), id_col, "left_anti")
        .orderBy(id_col)
        .limit(budget)
    )
    return selected.orderBy(id_col).limit(max_rows).unionByName(pad)


def pairs_from_reviewed_groups(
    members: DataFrame,
    removals: DataFrame,
    id_col: str = "record_id",
) -> DataFrame:
    """J6 (reference page.tsx:611-727): labeled pairs from reviewed groups.

    members(record_id, cluster_id) of reviewed, non-skipped groups;
    removals(record_id) = members the reviewer marked as duplicates to
    drop. Emits kept x kept pairs labeled 'y' and kept x removed pairs
    labeled 'n' (id1 < id2) — the review-feedback training set for the E3
    reprocess loop.
    """
    flagged = members.join(
        removals.select(F.col(removals.columns[0]).alias(id_col)).withColumn(
            "_removed", F.lit(True)
        ),
        id_col,
        "left",
    ).select(
        F.col(id_col).alias("rid"),
        "cluster_id",
        F.coalesce("_removed", F.lit(False)).alias("removed"),
    )
    l = flagged.select(
        "cluster_id", F.col("rid").alias("id1"), F.col("removed").alias("rem1")
    )
    r = flagged.select(
        "cluster_id", F.col("rid").alias("id2"), F.col("removed").alias("rem2")
    )
    pairs = l.join(r, "cluster_id").where(F.col("id1") < F.col("id2"))
    return (
        pairs.where(~F.col("rem1") | ~F.col("rem2"))  # removed x removed: no label
        .select(
            "id1",
            "id2",
            F.when(~F.col("rem1") & ~F.col("rem2"), "y").otherwise("n").alias(
                "label"
            ),
        )
    )


def interleave_pairs(
    buckets: dict[str, DataFrame], order_cols: list[str] = ("id1", "id2")
) -> DataFrame:
    """O3 (reference find_top_matching_pairs, dedupe_script.py:461-484):
    positional round-robin interleave of named pair buckets
    (matching/random/distinct in the reference).

    Ranking-window formulation: row_number within each bucket, then global
    order by (row_number, bucket-rank) — bucket rank is the dict order.

    ⚠ NEVER at scale: the unpartitioned ``Window.orderBy`` funnels each
    bucket through a single task. That is correct here by contract — the
    inputs are training-pair buckets, driver-small by construction
    (reference caps the loop at ~10²-10³ labeled pairs) — but this helper
    must not be pointed at full candidate-pair relations (same hazard as
    ingest.with_row_index, documented there).
    """
    from pyspark.sql import Window

    parts = []
    for rank, (name, df) in enumerate(buckets.items()):
        w = Window.orderBy(*[F.asc(c) for c in order_cols])
        parts.append(
            df.select(
                *order_cols,
                F.lit(name).alias("bucket"),
                F.row_number().over(w).alias("rn"),
                F.lit(rank).alias("bucket_rank"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("rn", "bucket_rank").drop("rn", "bucket_rank")


def uncertain_pairs(
    id1: np.ndarray, id2: np.ndarray, score: np.ndarray, k: int = 10
) -> np.ndarray:
    """M3: positions of the k most informative pairs — nearest
    |score - 0.5| first, exact ties broken by id1, then id2. Driver-side
    numpy over the featurized labeling pool (module docstring)."""
    return np.lexsort((id2, id1, uncertainty(score)))[:k]


def split_labels(labeled_pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """M4: labeled pairs -> (match, distinct); 'u' rows dropped
    (reference page.tsx:253)."""
    lab = labeled_pairs.where(F.col("label").isin("y", "n"))
    return lab.where(F.col("label") == "y"), lab.where(F.col("label") == "n")


def check_label_gates(labeled_pairs: DataFrame) -> dict:
    """Reference A4 training gates (page.tsx:368-369): >=15 labels with
    >=2 y and >=2 n. Returns tallies + pass flag; callers decide policy."""
    counts = {
        r["label"]: r["n"]
        for r in labeled_pairs.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    y, n = counts.get("y", 0), counts.get("n", 0)
    total = y + n + counts.get("u", 0)
    return {
        "y": y,
        "n": n,
        "u": counts.get("u", 0),
        "total": total,
        "passes": y >= 2 and n >= 2 and total >= 15,
    }


# ---------------------------------------------------------------------------
# Greedy blocking-predicate selection (M5b)
# ---------------------------------------------------------------------------


@dataclass
class PredicateStats:
    name: str
    covered: int          # positive pairs this predicate blocks together
    block_cost: int       # sum over its blocks of C(size, 2) on the sample


def predicate_cover(
    records: DataFrame,
    positive_pairs: DataFrame,
    id_col: str,
    predicates: dict[str, Column],
    max_block: int = 1000,
) -> DataFrame:
    """Per-predicate coverage relation: (pred, id1, id2) for each positive
    pair the predicate puts in a shared block. Distributed; small output."""
    blocks = B.generate_blocks(records, id_col, predicates).withColumn(
        "pred", F.split(F.col("bk"), ":", 2)[0]
    )
    l = blocks.select("pred", "bk", F.col("record_id").alias("id1"))
    r = blocks.select("pred", "bk", F.col("record_id").alias("id2"))
    pair_blocks = (
        l.join(r, ["pred", "bk"])
        .where(F.col("id1") < F.col("id2"))
        .select("pred", "id1", "id2")
        .dropDuplicates(["pred", "id1", "id2"])
    )
    return pair_blocks.join(
        positive_pairs.select("id1", "id2"), ["id1", "id2"], "left_semi"
    )


def select_predicates(
    records: DataFrame,
    positive_pairs: DataFrame,
    id_col: str,
    candidate_predicates: dict[str, Column],
    target_recall: float = 0.99,
    max_predicates: int = 4,
) -> list[str]:
    """Greedy set cover: repeatedly take the predicate covering the most
    still-uncovered positive pairs until target recall or budget.

    The labeled positive set is small (driver-side greedy loop over
    collected coverage rows); the chosen predicate Columns then block the
    full corpus distributed.
    """
    cover = predicate_cover(
        records, positive_pairs, id_col, candidate_predicates
    ).collect()
    total = positive_pairs.select("id1", "id2").distinct().count()
    if total == 0:
        raise ValueError("no positive labeled pairs to cover")
    by_pred: dict[str, set[tuple[str, str]]] = {}
    for row in cover:
        by_pred.setdefault(row["pred"], set()).add((row["id1"], row["id2"]))
    chosen: list[str] = []
    covered: set[tuple[str, str]] = set()
    while len(chosen) < max_predicates and len(covered) < target_recall * total:
        best, best_gain = None, 0
        for name, pairs in sorted(by_pred.items()):
            if name in chosen:
                continue
            gain = len(pairs - covered)
            if gain > best_gain:
                best, best_gain = name, gain
        if best is None or best_gain == 0:
            break
        chosen.append(best)
        covered |= by_pred[best]
    return chosen


def blocking_recall(
    candidate_pairs: DataFrame, positive_pairs: DataFrame
) -> float:
    """Fraction of labeled positive pairs surviving blocking — the metric
    that guards mega-block capping against recall loss (SURVEY.md §7 hard
    part #1)."""
    pos = positive_pairs.select("id1", "id2").distinct()
    total = pos.count()
    if total == 0:
        return 1.0
    hit = pos.join(candidate_pairs, ["id1", "id2"], "left_semi").count()
    return hit / total


def hash_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by hashed id — the
    standard leakage-safe corpus split for training pipelines (a random
    split re-rolls across runs and engines; a hash split is a pure
    function of the id, so the same document lands in the same fold on
    every rerun, every engine, and every corpus revision).

    Adds a ``split`` column. The fold is chosen by comparing the first 8
    hex chars of ``md5(id || '|' || salt)`` LEXICOGRAPHICALLY against
    cumulative-fraction thresholds — string compares only, no hex->int
    parsing, so any engine with md5 reproduces the assignment
    bit-for-bit. Fraction resolution is 1/2^32 (thresholds are floor'd
    to 8 hex digits); fractions must sum to 1 within that tolerance.

    Scale notes: a pure stateless projection — no shuffle, no state, and
    the split column partition-prunes downstream reads when used as a
    write-time partition key.
    """
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    if not fractions or abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {fractions}")
    h = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit("|" + salt))), 1, 8
    )
    names = list(fractions)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += fractions[name]
        threshold = format(int(cum * (1 << 32)), "08x")
        cond = h < F.lit(threshold)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def hash_split_thresholds(
    fractions: dict[str, float] | None = None,
) -> list[tuple[str, str]]:
    """(fold, upper-threshold-hex) pairs for SQL twins of
    :func:`hash_split` — the last fold's threshold is 'ffffffff'+1
    sentinel 'g' (sorts after every hex digit)."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    out = []
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        out.append((name, format(int(cum * (1 << 32)), "08x")))
    out.append((names[-1], "g"))
    return out
