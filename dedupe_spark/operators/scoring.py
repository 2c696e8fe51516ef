"""Pairwise feature extraction + match scoring (SURVEY.md §2.6 M1/M7/M8).

The reference scores candidate pairs with dedupe 3.0.3's C comparators and a
regularized logistic regression, fanned out with multiprocessing (call site
/root/reference/backend/dedupe_script.py:360). Spark-first design: candidate
pairs are joined to the (projected, normalized) record table twice — two
equi-joins Catalyst plans on its own — and then a single Arrow-batched
pandas UDF computes the whole field-distance vector AND the sigmoid in one
pass. The LR model is <1 KB: it travels to executors in the UDF closure (an
explicit broadcast of a weight struct would buy nothing).

Two physical strategies for getting field values to the kernel, picked by
record-table size (``strategy="auto"``):

- **broadcast lookup** (records fit in executor memory, the common case —
  candidate pairs outnumber records by orders of magnitude): the projected
  record fields are collected once into a Spark broadcast; the UDF receives
  only ``(id1, id2)`` and gathers field values worker-side. Per-pair
  shuffle + Arrow traffic drops from 2x(all field strings) to two ids —
  on a DRAM-bandwidth-bound box that traffic reduction is the difference
  between scaling and saturating (BENCH.md scaling protocol).
- **join** (records too large to broadcast — the 100 TB path): ship fields
  through the pair join as before; the shuffle is unavoidable then, and
  Catalyst/AQE handle join strategy and skew.

Field types mirror dedupe variables (dedupe_script.py:266-286):
  String   -> Jaro-Winkler + normalized Levenshtein (affine-gap stand-ins)
  Text     -> token-count cosine
  Exact    -> 0/1 equality
  Price    -> normalized numeric difference
Missing semantics (has_missing=True, dedupe_script.py:159-162): the sentinel
"N/A" zeroes the distance features and raises a per-field missing indicator,
matching dedupe's missing-data treatment.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..functions.features import (  # noqa: F401  (re-exported public API)
    FieldSpec,
    compute_features,
    feature_names,
    lookup_positions,
)
from ..lifecycle import track
from ..model import LogisticModel, sigmoid


# ---------------------------------------------------------------------------
# Spark-side: pair table assembly + scoring UDF
# ---------------------------------------------------------------------------


def attach_pair_fields(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    field_cols: list[str],
) -> DataFrame:
    """pairs(id1,id2) ⋈ records twice -> (id1, id2, l_<f>..., r_<f>...).

    Records are projected to id + match fields *before* the join so the
    parquet scan prunes to exactly the needed columns (ReadSchema) and the
    shuffle moves no dead weight (html/text stay behind).
    """
    proj = records.select(F.col(id_col).alias("_rid"), *field_cols)
    l = proj.select(
        F.col("_rid").alias("id1"), *[F.col(c).alias(f"l_{c}") for c in field_cols]
    )
    r = proj.select(
        F.col("_rid").alias("id2"), *[F.col(c).alias(f"r_{c}") for c in field_cols]
    )
    return pairs.join(l, "id1").join(r, "id2")


class RecordLookup:
    """Broadcast (id -> match-field values) table for lookup-side scoring.

    Holds a pandas Index over record ids plus one object ndarray per match
    field, shipped to executors as a Spark broadcast (torrent, once per
    worker — NOT per task). Build once, reuse across scoring calls; the
    value is numpy/pandas only so unpickling it in a Python worker stays
    light (see functions/features.py on worker cold-start).
    """

    def __init__(self, bc, field_names: list[str], n_records: int):
        self._bc = bc
        self.field_names = field_names
        self.n_records = n_records

    @staticmethod
    def build(
        records: DataFrame, id_col: str, fields: list[FieldSpec], norm_suffix: str
    ) -> "RecordLookup":
        field_cols = [f.name + norm_suffix for f in fields]
        pdf = records.select(F.col(id_col).alias("_id"), *field_cols).toPandas()
        ids = pd.Index(pdf["_id"])
        if ids.has_duplicates:
            raise ValueError(f"record id column {id_col!r} is not unique")
        value = {
            "cols": {
                f.name: pdf[c].to_numpy(dtype=object)
                for f, c in zip(fields, field_cols)
            },
        }
        ids_np = pdf["_id"].to_numpy()
        if (
            ids_np.dtype.kind in "iu"
            and len(ids_np) > 0
            and ids.is_monotonic_increasing
            and int(ids_np[-1]) - int(ids_np[0]) == len(ids_np) - 1
        ):
            # dense ascending int range (the engine's row-index record_id,
            # sources/ingest.py P8): positions are id - base, computed
            # arithmetically in the workers. The broadcast drops the id
            # index entirely — 16 B/record smaller, and no pandas hashtable
            # rebuild (a shipped Index re-hashes n_records in every worker
            # that unpickles the broadcast).
            value["base"] = int(ids_np[0])
            value["n"] = len(ids_np)
        else:
            value["ids"] = ids
        sc = records.sparkSession.sparkContext
        return RecordLookup(
            sc.broadcast(value), [f.name for f in fields], len(pdf)
        )

    @property
    def broadcast(self):
        return self._bc

    def destroy(self) -> None:
        self._bc.destroy()


def fits_broadcast(
    records: DataFrame,
    size_cols: list[str],
    broadcast_rows: int,
    broadcast_bytes: int,
) -> bool:
    """One combined row-count + byte-size aggregate over ``size_cols``.

    The byte cap is what protects the driver from a few-million *wide*
    documents slipping under the row cap. Eager (runs a job) — callers on
    the lazy-builder contract pass a prebuilt lookup instead.
    """
    sizes = records.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(
                sum(
                    (F.coalesce(F.octet_length(c), F.lit(0)) for c in size_cols),
                    F.lit(0),
                )
            ),
            F.lit(0),
        ).alias("nbytes"),
    ).collect()[0]
    return (
        int(sizes["n"]) <= broadcast_rows and int(sizes["nbytes"]) <= broadcast_bytes
    )


def try_build_lookup(
    records: DataFrame,
    id_col: str,
    fields: list[FieldSpec],
    norm_suffix: str = "",
    broadcast_rows: int = 2_000_000,
    broadcast_bytes: int = 256 * 1024 * 1024,
) -> RecordLookup | None:
    """Build a RecordLookup iff the table fits the caps AND ids are unique;
    None otherwise (callers fall back to the join strategy). This is the
    cap-gated path long-lived owners (Deduper) use so a huge corpus never
    OOMs the driver through an unconditional toPandas."""
    field_cols = [f.name + norm_suffix for f in fields]
    if not fits_broadcast(records, field_cols, broadcast_rows, broadcast_bytes):
        return None
    try:
        return RecordLookup.build(records, id_col, fields, norm_suffix)
    except ValueError:  # duplicate ids — broadcast gather needs a unique index
        return None


def make_lookup_score_udf(
    model: LogisticModel, fields: list[FieldSpec], lookup: RecordLookup
):
    """pandas UDF (id1, id2) -> double match probability, gathering field
    values from the broadcast lookup worker-side."""
    expected = feature_names(fields)
    if model.feature_names and model.feature_names != expected:
        raise ValueError(
            f"model features {model.feature_names} != spec {expected}"
        )
    w = model.weights.copy()
    b = float(model.intercept)
    fields = list(fields)
    bc = lookup.broadcast

    @pandas_udf(DoubleType())
    def _score(id1: pd.Series, id2: pd.Series) -> pd.Series:
        import numpy as np

        lk = bc.value
        p1 = lookup_positions(lk, id1.to_numpy())
        p2 = lookup_positions(lk, id2.to_numpy())
        # pairs referencing ids absent from records score null (the caller
        # filters them) — the same pairs an inner join in the join strategy
        # would drop, so both physical paths keep identical semantics
        ok = (p1 >= 0) & (p2 >= 0)
        left = {
            f.name: pd.Series(lk["cols"][f.name][np.where(ok, p1, 0)])
            for f in fields
        }
        right = {
            f.name: pd.Series(lk["cols"][f.name][np.where(ok, p2, 0)])
            for f in fields
        }
        X = compute_features(left, right, fields)
        s = sigmoid(X @ w + b)
        return pd.Series(np.where(ok, s, np.nan))

    # the scoring kernel is the most expensive expression in the engine;
    # asNondeterministic stops Catalyst pushing score-filters below the
    # exchange and re-evaluating the UDF once per consumer (observed: a
    # where() on the score column planned TWO ArrowEvalPython nodes)
    return _score.asNondeterministic()


def make_score_udf(model: LogisticModel, fields: list[FieldSpec], norm_suffix: str = ""):
    """pandas UDF (l_f1, r_f1, l_f2, r_f2, ...) -> double match probability.

    Column order: interleaved left/right per field, in ``fields`` order. The
    model's feature_names must equal feature_names(fields).
    """
    expected = feature_names(fields)
    if model.feature_names and model.feature_names != expected:
        raise ValueError(
            f"model features {model.feature_names} != spec {expected}"
        )
    w = model.weights.copy()
    b = float(model.intercept)
    fields = list(fields)

    @pandas_udf(DoubleType())
    def _score(*cols: pd.Series) -> pd.Series:
        left = {f.name: cols[2 * i] for i, f in enumerate(fields)}
        right = {f.name: cols[2 * i + 1] for i, f in enumerate(fields)}
        X = compute_features(left, right, fields)
        return pd.Series(sigmoid(X @ w + b))

    # see make_lookup_score_udf: prevent duplicate evaluation via pushdown
    return _score.asNondeterministic()


def score_pairs(
    pairs: DataFrame,
    records: DataFrame,
    model: LogisticModel,
    fields: list[FieldSpec],
    id_col: str,
    norm_suffix: str = "_norm",
    threshold: float | None = None,
    strategy: str = "auto",
    lookup: RecordLookup | None = None,
    broadcast_rows: int = 2_000_000,
    broadcast_bytes: int = 256 * 1024 * 1024,
    repartition_pairs: bool = True,
) -> DataFrame:
    """(id1, id2, score) for every candidate pair; optional threshold filter
    (reference M8: keep score >= similarity_threshold,
    dedupe_script.py:341-342).

    ``strategy``: "broadcast" gathers field values from a :class:`RecordLookup`
    worker-side (pairs carry only ids — see module docstring); "join" ships
    fields through the pair join (the at-scale path — always honored, even
    when a ``lookup`` is passed); "auto" broadcasts iff the record table is
    both <= ``broadcast_rows`` rows AND <= ``broadcast_bytes`` of match-field
    bytes (one combined count+size aggregate over the — typically cached/
    checkpointed — record table; the byte cap is what protects the driver
    from a few million *wide* documents). Pass a prebuilt ``lookup`` to skip
    both the sizing scan and the per-call collect when scoring repeatedly
    against the same records.

    ``repartition_pairs``: spread the UDF stage to 3 tasks/core. AQE's
    byte-based coalescing is tuned for JVM operators; a pandas-UDF stage is
    CPU-bound per row, so a ~100MB pair table would coalesce to 1-2
    partitions and starve the cores; 3 tasks/core also absorbs stragglers.
    Callers whose pair table is already partitioned at >= 3 tasks/core
    (e.g. read back from a partitioned candidates checkpoint) pass False —
    the repartition is then a pure parallelism-independent fixed cost that
    caps strong scaling of the stage. (Deliberately a caller flag, not a
    getNumPartitions() probe: materializing the partition count under AQE
    executes the whole upstream plan as throwaway jobs.)
    """
    par = pairs.sparkSession.sparkContext.defaultParallelism
    if strategy not in ("auto", "join", "broadcast"):
        raise ValueError(f"unknown scoring strategy {strategy!r}")
    if strategy == "join":
        lookup = None
    elif lookup is None:
        if strategy == "broadcast":
            lookup = RecordLookup.build(records, id_col, fields, norm_suffix)
        else:
            lookup = try_build_lookup(
                records, id_col, fields, norm_suffix, broadcast_rows, broadcast_bytes
            )
        if lookup is not None:
            # call-local broadcast: released at the harness' next
            # release_session_storage (a caller-passed lookup is the
            # caller's to destroy)
            track(lookup)
    if lookup is not None:
        slim = pairs.select("id1", "id2")
        if repartition_pairs:
            slim = slim.repartition(par * 3)
        udf = make_lookup_score_udf(model, fields, lookup)
        scored = slim.select(
            "id1", "id2", udf("id1", "id2").alias("score")
        ).where(F.col("score").isNotNull() & ~F.isnan("score"))
    else:
        field_cols = [f.name + norm_suffix for f in fields]
        wide = attach_pair_fields(pairs, records, id_col, field_cols)
        if repartition_pairs:
            wide = wide.repartition(par * 3)
        udf = make_score_udf(model, fields)
        in_cols = []
        for c in field_cols:
            in_cols += [F.col(f"l_{c}"), F.col(f"r_{c}")]
        scored = wide.select("id1", "id2", udf(*in_cols).alias("score"))
    if threshold is not None:
        scored = scored.where(F.col("score") >= F.lit(float(threshold)))
    return scored
