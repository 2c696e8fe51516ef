"""Pairwise feature extraction + match scoring (SURVEY.md §2.6 M1/M7/M8).

The reference scores candidate pairs with dedupe 3.0.3's C comparators and a
regularized logistic regression, fanned out with multiprocessing (call site
/root/reference/backend/dedupe_script.py:360). Spark-first design: a single
Arrow-batched pandas UDF computes the whole field-distance vector AND the
sigmoid in one pass. The LR model is <1 KB: it travels to executors in the
UDF closure (an explicit broadcast of a weight struct would buy nothing).
Without the sigmoid, the same kernels give :func:`feature_pairs`: the
feature rows themselves, which the labeling loop collects once and ranks
on the driver (api.py). Each path calls ``compute_features`` from one
place, so scores and feature rows cannot drift apart.

One contract for every pair kernel in the engine (scoring here, the n-gram
and bag-Jaccard verifies in operators/dedup.py): the ``lookup`` argument
alone picks the physical path.

- **lookup given** (a :class:`RecordLookup`): pairs carry only
  ``(id1, id2)``; :func:`gather_pairs` resolves ids to row positions in the
  broadcast and runs the kernel on the gathered values worker-side.
  Per-pair shuffle + Arrow traffic drops from 2x(all field strings) to two
  ids — on a DRAM-bandwidth-bound box that is the difference between
  scaling and saturating (BENCH.md scaling protocol).
- **lookup None**: field values ship through the pair join (the 100 TB
  path — the shuffle is unavoidable then, and Catalyst/AQE handle join
  strategy and skew).

Both paths keep identical rows: a pair naming an id absent from the records
is dropped (the inner join drops it; the gather masks it out). The size
decision lives in :func:`try_build_lookup` alone — a lookup iff the record
table fits :data:`BROADCAST_ROWS` and :data:`BROADCAST_BYTES` and its ids
are unique — called once by whoever owns the record table and passed down
(``lookup=track(try_build_lookup(...))``; ``track(None)`` is None).

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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

from ..functions.features import (  # noqa: F401  (re-exported public API)
    FieldSpec,
    compute_features,
    feature_names,
    lookup_positions,
)
from ..model import LogisticModel, sigmoid

# Broadcast-lookup size caps (see try_build_lookup). The byte cap is what
# protects the driver from a few million *wide* documents slipping under
# the row cap.
BROADCAST_ROWS = 2_000_000
BROADCAST_BYTES = 256 * 1024 * 1024


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
    """Broadcast (id -> match-field values) table: the lookup path of the
    pair kernels (:func:`gather_pairs`).

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


def fits_broadcast(records: DataFrame, size_cols: list[str]) -> bool:
    """One combined row-count + byte-size aggregate over ``size_cols``,
    checked against :data:`BROADCAST_ROWS` and :data:`BROADCAST_BYTES`.
    Eager (runs a job)."""
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
        int(sizes["n"]) <= BROADCAST_ROWS and int(sizes["nbytes"]) <= BROADCAST_BYTES
    )


def try_build_lookup(
    records: DataFrame,
    id_col: str,
    fields: list[FieldSpec],
    norm_suffix: str = "",
) -> RecordLookup | None:
    """Build a RecordLookup iff the table fits the caps AND ids are unique;
    None otherwise (the pair kernels then take the join path). The one
    place the broadcast-or-join decision is made, so a huge corpus never
    OOMs the driver through an unconditional toPandas."""
    field_cols = [f.name + norm_suffix for f in fields]
    if not fits_broadcast(records, field_cols):
        return None
    try:
        return RecordLookup.build(records, id_col, fields, norm_suffix)
    except ValueError:  # duplicate ids — broadcast gather needs a unique index
        return None


def gather_pairs(
    pairs: DataFrame,
    lookup: RecordLookup,
    kernel,
    return_type,
    name: str,
    repartition: bool = True,
) -> DataFrame:
    """(id1, id2, ``name``): a pair kernel run on values gathered
    worker-side from ``lookup`` — the lookup path of every pair kernel.

    ``kernel(value, p1, p2)`` gets the broadcast value dict and the row
    positions of pairs whose ids are both present, and returns one result
    per pair (None drops the pair). Pairs naming an absent id are dropped
    — the same pairs the inner pair join drops on the join path.
    ``repartition``: see :func:`score_pairs`' ``repartition_pairs``.
    """
    slim = pairs.select("id1", "id2")
    if repartition:
        par = pairs.sparkSession.sparkContext.defaultParallelism
        slim = slim.repartition(par * 3)
    bc = lookup.broadcast

    @pandas_udf(return_type)
    def _gather(id1: pd.Series, id2: pd.Series) -> pd.Series:
        lk = bc.value
        p1 = lookup_positions(lk, id1.to_numpy())
        p2 = lookup_positions(lk, id2.to_numpy())
        ok = (p1 >= 0) & (p2 >= 0)
        if ok.all():
            return pd.Series(kernel(lk, p1, p2))
        sel = np.flatnonzero(ok)
        got = kernel(lk, p1[sel], p2[sel]) if len(sel) else []
        # absent pairs come back null (None, or NaN in a float result)
        out = pd.Series(got, index=sel).reindex(pd.RangeIndex(len(ok)))
        return out.where(ok, None)

    keep = F.col(name).isNotNull()
    if isinstance(return_type, DoubleType):
        keep &= ~F.isnan(name)
    # the kernel is the most expensive expression in its plan;
    # asNondeterministic stops Catalyst pushing filters on its output below
    # the exchange and re-evaluating the UDF once per consumer (observed: a
    # where() on the score column planned TWO ArrowEvalPython nodes)
    return slim.select(
        "id1", "id2", _gather.asNondeterministic()("id1", "id2").alias(name)
    ).where(keep)


def _linear(model: LogisticModel, fields: list[FieldSpec]):
    expected = feature_names(fields)
    if model.feature_names and model.feature_names != expected:
        raise ValueError(
            f"model features {model.feature_names} != spec {expected}"
        )
    return model.weights.copy(), float(model.intercept)


def _join_features(cols: tuple, fields: list[FieldSpec]) -> np.ndarray:
    """The join path's feature matrix: columns interleaved left/right per
    field, in ``fields`` order."""
    left = {f.name: cols[2 * i] for i, f in enumerate(fields)}
    right = {f.name: cols[2 * i + 1] for i, f in enumerate(fields)}
    return compute_features(left, right, fields)


def make_feature_udf(fields: list[FieldSpec]):
    """pandas UDF (l_f1, r_f1, l_f2, r_f2, ...) -> array<double>, the
    ``compute_features`` row of each pair (join path of
    :func:`feature_pairs`)."""
    fields = list(fields)

    @pandas_udf(ArrayType(DoubleType()))
    def _features(*cols: pd.Series) -> pd.Series:
        return pd.Series(list(_join_features(cols, fields)))

    # see gather_pairs: prevent duplicate evaluation via pushdown
    return _features.asNondeterministic()


def make_score_udf(model: LogisticModel, fields: list[FieldSpec]):
    """pandas UDF (l_f1, r_f1, l_f2, r_f2, ...) -> double match probability:
    the sigmoid over :func:`make_feature_udf`'s row.

    Column order: interleaved left/right per field, in ``fields`` order. The
    model's feature_names must equal feature_names(fields).
    """
    w, b = _linear(model, fields)
    fields = list(fields)

    @pandas_udf(DoubleType())
    def _score(*cols: pd.Series) -> pd.Series:
        return pd.Series(sigmoid(_join_features(cols, fields) @ w + b))

    # see gather_pairs: prevent duplicate evaluation via pushdown
    return _score.asNondeterministic()


def _feature_kernel(fields: list[FieldSpec]):
    """:func:`gather_pairs` kernel core: the (n, d) ``compute_features``
    matrix of the gathered pairs."""
    fields = list(fields)

    def kernel(lk: dict, p1: np.ndarray, p2: np.ndarray) -> np.ndarray:
        cols = lk["cols"]
        left = {f.name: pd.Series(cols[f.name][p1]) for f in fields}
        right = {f.name: pd.Series(cols[f.name][p2]) for f in fields}
        return compute_features(left, right, fields)

    return kernel


def _score_kernel(model: LogisticModel, fields: list[FieldSpec]):
    """:func:`gather_pairs` kernel: match probability of each gathered pair,
    the sigmoid over :func:`_feature_kernel`."""
    w, b = _linear(model, fields)
    features = _feature_kernel(fields)

    def kernel(lk: dict, p1: np.ndarray, p2: np.ndarray) -> np.ndarray:
        return sigmoid(features(lk, p1, p2) @ w + b)

    return kernel


def feature_pairs(
    pairs: DataFrame,
    records: DataFrame,
    fields: list[FieldSpec],
    id_col: str,
    norm_suffix: str = "_norm",
    lookup: RecordLookup | None = None,
) -> DataFrame:
    """(id1, id2, features): the ``compute_features`` row of every pair as
    array<double>, in feature_names(fields) order. ``lookup`` picks the
    path exactly as in :func:`score_pairs`; the rows are the ones
    score_pairs would score."""
    if lookup is not None:
        features = _feature_kernel(fields)
        return gather_pairs(
            pairs,
            lookup,
            lambda lk, p1, p2: list(features(lk, p1, p2)),
            ArrayType(DoubleType()),
            "features",
        )
    return _join_pairs(
        pairs, records, fields, id_col, norm_suffix, True, make_feature_udf(fields),
        "features",
    )


def _join_pairs(
    pairs: DataFrame,
    records: DataFrame,
    fields: list[FieldSpec],
    id_col: str,
    norm_suffix: str,
    repartition: bool,
    udf,
    name: str,
) -> DataFrame:
    """(id1, id2, ``name``): a join-path pair UDF over the field values
    shipped through the pair join, interleaved left/right per field."""
    field_cols = [f.name + norm_suffix for f in fields]
    wide = attach_pair_fields(pairs, records, id_col, field_cols)
    if repartition:
        par = pairs.sparkSession.sparkContext.defaultParallelism
        wide = wide.repartition(par * 3)
    in_cols = [F.col(f"{side}_{c}") for c in field_cols for side in ("l", "r")]
    return wide.select("id1", "id2", udf(*in_cols).alias(name))


def score_pairs(
    pairs: DataFrame,
    records: DataFrame,
    model: LogisticModel,
    fields: list[FieldSpec],
    id_col: str,
    norm_suffix: str = "_norm",
    threshold: float | None = None,
    lookup: RecordLookup | None = None,
    repartition_pairs: bool = True,
) -> DataFrame:
    """(id1, id2, score) for every candidate pair; optional threshold filter
    (reference M8: keep score >= similarity_threshold,
    dedupe_script.py:341-342).

    ``lookup`` picks the path (module docstring): given, field values are
    gathered from it worker-side and ``records`` is not read; None, they
    ship through the pair join with ``records``. Owners of a record table
    pass ``try_build_lookup(records, ...)``.

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
    if lookup is not None:
        scored = gather_pairs(
            pairs, lookup, _score_kernel(model, fields), DoubleType(), "score",
            repartition_pairs,
        )
    else:
        scored = _join_pairs(
            pairs, records, fields, id_col, norm_suffix, repartition_pairs,
            make_score_udf(model, fields), "score",
        )
    if threshold is not None:
        scored = scored.where(F.col("score") >= F.lit(float(threshold)))
    return scored
