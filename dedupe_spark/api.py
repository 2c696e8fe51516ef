"""User-facing API mirroring the reference's dedupe-library surface.

The reference drives DedupeIO 3.0.3 through five calls (call sites
/root/reference/backend/dedupe_script.py:290-360): ``Dedupe(fields)`` →
``prepare_training`` → loop(``uncertain_pairs`` → label → ``mark_pairs``)
→ ``train`` → ``partition``. :class:`Deduper` exposes the same method
names with the same contract over Spark DataFrames, so a reference user
can switch by replacing the pandas dict-of-dicts with a DataFrame.

The labeling loop (M3) runs on the driver. The first ``uncertain_pairs``
call after a ``prepare_training`` featurizes the whole candidate pool in
one pandas-UDF Spark job (``operators.scoring.feature_pairs``) and keeps
the ids and the feature matrix; the pool is at most
C(``max_training_rows``, 2) pairs, under 8 MB of float64 at the default
400 rows and four String fields. Every later round masks the labeled
pairs, scores the matrix with the driver-side model and sorts — pure
numpy, no Spark job — so a retrain re-ranks the pool without featurizing
it again. Only ``partition`` scores distributed.

``dedupe_table`` is the one-call batch path for the reference's actual
use case — an all-string tabular file (KNA-style customer master) with
pre-labeled pairs — returning the clusters relation of SURVEY.md A1.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .functions.features import FieldSpec, compute_features, feature_names
from .lifecycle import track
from .model import LogisticModel, fit_logistic
from .normalize import normalize_features
from .operators import blocking as B
from .operators.assemble import assemble_clusters
from .operators.clustering import connected_components, member_confidence
from .operators.scoring import (
    attach_pair_fields,
    feature_pairs,
    score_pairs,
    try_build_lookup,
)
from .training import (
    sample_training_pairs,
    select_predicates,
    uncertain_pairs as _uncertain_top,
)


def default_predicates(fields: list[FieldSpec], norm_suffix: str) -> dict[str, Column]:
    """Simple-predicate library applied to every field (the predicate pool
    dedupe's blocking learner selects from): whole field, first token,
    4-prefix, tokens."""
    preds: dict[str, Column] = {}
    for f in fields:
        c = f.name + norm_suffix
        # predicate names must not contain ':' (the block-key namespace
        # separator generate_blocks uses)
        key = f.name.replace(":", "_")
        preds[f"whole_{key}"] = F.col(c)
        preds[f"tok1_{key}"] = B.first_tokens(c, 1)
        preds[f"pre4_{key}"] = B.prefix(c, 4)
    return preds


class Deduper:
    """Active-learning record deduplicator (reference API shape).

    >>> d = Deduper([FieldSpec("Name 1"), FieldSpec("City")], id_col="Customer")
    >>> d.prepare_training(records_df)
    >>> while labeling:
    ...     pair = d.uncertain_pairs(k=1)       # show to the human
    ...     d.mark_pairs(match=[...], distinct=[...])
    >>> d.train()
    >>> clusters = d.partition(records_df, threshold=0.5)
    """

    def __init__(
        self,
        fields: list[FieldSpec],
        id_col: str = "record_id",
        norm_suffix: str = "_norm",
        max_training_rows: int = 400,
        max_training_pairs: int = 100,
        seed: int = 42,
    ):
        self.fields = list(fields)
        self.id_col = id_col
        self.norm_suffix = norm_suffix
        self.max_training_rows = max_training_rows
        # active-learning budget: total uncertain pairs served. The
        # reference plumbs max_training_pairs=100 through its config
        # (main.py:108) but never enforces it in the labeling loop
        # (dedupe_script.py:295-304 drains until exhaustion); here the
        # budget is real — uncertain_pairs() returns empty once spent, so
        # a driver loop terminates deterministically.
        self.max_training_pairs = max_training_pairs
        self.seed = seed
        self.model: LogisticModel | None = None
        self.predicates: dict[str, Column] | None = None
        self._records: DataFrame | None = None
        self._cand_pairs: DataFrame | None = None
        # the candidate pool on the driver: (id1, id2, key) rows and their
        # feature matrix, collected on the first uncertain_pairs call
        self._pool: tuple[pd.DataFrame, np.ndarray] | None = None
        self._match: list[tuple[str, str]] = []
        self._distinct: list[tuple[str, str]] = []
        self._pairs_served = 0

    def close(self) -> None:
        """Release session resources (the cached record and candidate
        tables, the driver-side pool). Call when the dedup session is done;
        a second call is a no-op, and the object is reusable after a fresh
        prepare_training."""
        for df in (self._records, self._cand_pairs):
            if df is not None:
                df.unpersist()
        self._records = None
        self._cand_pairs = None
        self._pool = None

    # -- M2: sampling ------------------------------------------------------

    def prepare_training(self, records: DataFrame) -> None:
        """Normalize fields and sample candidate training pairs from a
        bounded slice (reference prepare_training, dedupe_script.py:293)."""
        self.close()  # the old tables and pool are stale
        self._records = normalize_features(
            records, [f.name for f in self.fields], self.norm_suffix
        ).cache()
        pool = default_predicates(self.fields, self.norm_suffix)
        self._cand_pairs = sample_training_pairs(
            self._records,
            self.id_col,
            pool,
            max_rows=self.max_training_rows,
            seed=self.seed,
        ).cache()

    # -- M3: active learning ----------------------------------------------

    def uncertain_pairs(self, k: int = 1) -> DataFrame:
        """Most informative unlabeled pairs under the current model
        (|score - 0.5| ascending); before any training, a deterministic
        sample of the candidate pool. Returns empty once the
        ``max_training_pairs`` budget is spent.

        The first call featurizes the pool in one Spark job; every later
        call ranks the cached feature matrix on the driver and runs no
        Spark job (module docstring)."""
        if self._cand_pairs is None:
            raise RuntimeError("call prepare_training first")
        k = min(k, self.max_training_pairs - self._pairs_served)
        if k <= 0:
            return self._cand_pairs.select("id1", "id2").limit(0)
        if self._pool is None:
            self._pool = self._featurize()
        pool, X = self._pool
        labeled = set(self._match) | set(self._distinct)
        live = np.fromiter(
            (p not in labeled for p in zip(pool["id1"], pool["id2"])),
            dtype=bool,
            count=len(pool),
        )
        id1 = pool["id1"].to_numpy()[live]
        id2 = pool["id2"].to_numpy()[live]
        schema = [self._cand_pairs.schema["id1"], self._cand_pairs.schema["id2"]]
        if self.model is None:
            top = np.lexsort((id2, id1, pool["key"].to_numpy()[live]))[:k]
            picked = pd.DataFrame({"id1": id1[top], "id2": id2[top]})
        else:
            score = self.model.predict_proba(X[live])
            top = _uncertain_top(id1, id2, score, k)
            picked = pd.DataFrame(
                {"id1": id1[top], "id2": id2[top], "score": score[top]}
            )
            schema.append(StructField("score", DoubleType()))
        # an Arrow-built local relation: the budget count and the caller's
        # collect run no Spark job, and nothing lands in executor storage
        self._pairs_served += len(picked)
        return self._cand_pairs.sparkSession.createDataFrame(
            picked, StructType(schema)
        )

    def _featurize(self) -> tuple[pd.DataFrame, np.ndarray]:
        """The candidate pool on the driver: its (id1, id2, xxhash64 key)
        rows and their ``compute_features`` matrix, from one pandas-UDF
        Spark job (module docstring). The broadcast lookup the job gathers
        through is dropped as soon as the rows are collected."""
        lookup = try_build_lookup(
            self._records, self.id_col, self.fields, self.norm_suffix
        )
        try:
            pdf = (
                feature_pairs(
                    self._cand_pairs,
                    self._records,
                    self.fields,
                    self.id_col,
                    self.norm_suffix,
                    lookup=lookup,
                )
                .select(
                    "id1", "id2", F.xxhash64("id1", "id2").alias("key"), "features"
                )
                .toPandas()
            )
        finally:
            if lookup is not None:
                lookup.destroy()
        feats = pdf.pop("features")
        if len(feats):
            return pdf, np.stack(feats.to_list())
        return pdf, np.empty((0, len(feature_names(self.fields))))

    # -- M4: label ingestion ----------------------------------------------

    def mark_pairs(
        self,
        match: list[tuple[str, str]] | None = None,
        distinct: list[tuple[str, str]] | None = None,
    ) -> None:
        """Record labeled pairs (reference mark_pairs, dedupe_script.py:336).
        'unsure' labels are simply not passed (page.tsx:253 filters them)."""
        self._match += [tuple(p) for p in (match or [])]
        self._distinct += [tuple(p) for p in (distinct or [])]

    # -- M5: training ------------------------------------------------------

    def train(
        self, l2: float = 0.1, target_recall: float = 0.99, max_predicates: int = 4
    ) -> None:
        """Fit the logistic match model on labeled pairs AND select blocking
        predicates by greedy cover of the labeled matches (the two halves of
        dedupe's train(), dedupe_script.py:337)."""
        if self._records is None:
            raise RuntimeError("call prepare_training first")
        if not self._match or not self._distinct:
            raise ValueError(
                "need both match and distinct labels "
                "(reference UI gates at >=2 of each, page.tsx:368-369)"
            )
        spark = self._records.sparkSession
        # pandas-built (an Arrow local relation): a Python list would pickle
        # its rows through a Python RDD task and start a second worker pool
        rows = pd.DataFrame(self._match + self._distinct, columns=["id1", "id2"])
        rows["label"] = ["y"] * len(self._match) + ["n"] * len(self._distinct)
        lab = spark.createDataFrame(rows, "id1 string, id2 string, label string")
        field_cols = [f.name + self.norm_suffix for f in self.fields]
        wide = attach_pair_fields(
            lab, self._records, self.id_col, field_cols
        ).toPandas()
        left = {
            f.name: wide[f"l_{f.name}{self.norm_suffix}"] for f in self.fields
        }
        right = {
            f.name: wide[f"r_{f.name}{self.norm_suffix}"] for f in self.fields
        }
        X = compute_features(left, right, self.fields)
        y = (wide["label"] == "y").to_numpy(dtype=np.float64)
        self.model = fit_logistic(
            X, y, l2=l2, feature_names=feature_names(self.fields)
        )
        pool = default_predicates(self.fields, self.norm_suffix)
        positives = lab.where("label = 'y'").select("id1", "id2")
        chosen = select_predicates(
            self._records,
            positives,
            self.id_col,
            pool,
            target_recall=target_recall,
            max_predicates=max_predicates,
        )
        self.predicates = {name: pool[name] for name in chosen}

    # -- M6-M10: partition -------------------------------------------------

    def partition(
        self,
        records: DataFrame,
        threshold: float = 0.5,
        max_block: int = 500,
        salt_target: int = 100,
        record_cols: list[str] | None = None,
    ) -> DataFrame:
        """Block → score → threshold → cluster → assemble; global clustering
        (no 1,000-row chunk truncation — SURVEY.md §2.7)."""
        if self.model is None or self.predicates is None:
            raise RuntimeError("call train first")
        recs = normalize_features(
            records, [f.name for f in self.fields], self.norm_suffix
        ).cache()
        blocks = B.generate_blocks(recs, self.id_col, self.predicates)
        cands = B.candidate_pairs(blocks, max_block, salt_target)
        scored = score_pairs(
            cands, recs, self.model, self.fields, self.id_col, self.norm_suffix,
            lookup=track(
                try_build_lookup(recs, self.id_col, self.fields, self.norm_suffix)
            ),
        )
        edges = scored.where(F.col("score") >= F.lit(threshold))
        assign = member_confidence(connected_components(edges), edges)
        cols = record_cols or [f.name for f in self.fields]
        return assemble_clusters(assign, recs, self.id_col, cols)


def dedupe_table(
    records: DataFrame,
    labeled_pairs: DataFrame,
    feature_cols: list[str] | None = None,
    id_col: str = "record_id",
    threshold: float = 0.5,
    field_type: str = "String",
) -> DataFrame:
    """One-call batch dedup of an all-string table (the reference's E2 flow
    with pre-collected labels): every non-meta column becomes a match field
    (detect_fields semantics, dedupe_script.py:156-167)."""
    meta = {id_col, "source_file"}
    cols = feature_cols or [c for c in records.columns if c not in meta]
    fields = [FieldSpec(c, field_type) for c in cols]
    d = Deduper(fields, id_col=id_col)
    d.prepare_training(records)
    match = [
        (r["id1"], r["id2"])
        for r in labeled_pairs.where("label = 'y'").collect()
    ]
    distinct = [
        (r["id1"], r["id2"])
        for r in labeled_pairs.where("label = 'n'").collect()
    ]
    d.mark_pairs(match=match, distinct=distinct)
    d.train()
    return d.partition(
        records,
        threshold=threshold,
        record_cols=cols + (["source_file"] if "source_file" in records.columns else []),
    )
