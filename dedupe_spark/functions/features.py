"""Pairwise feature extraction — LIGHT module (numpy/pandas only).

This is deliberately separate from operators/scoring.py: the scoring pandas
UDF's closure is unpickled in each task, and a Python worker's first task
imports this module's dependency graph. Workers are reused across tasks,
but every new worker still pays that import once, on the critical path of
the first wave of a stage. Keeping pyspark out of that graph cuts worker
cold-start from ~2s (pyspark.sql transitive imports) to ~0.4s (pandas).

Semantics: SURVEY.md §2.6 M1 — field types mirror dedupe variables
(dedupe_script.py:266-286): String -> Jaro-Winkler + normalized
Levenshtein; Text -> token-count cosine; Exact -> 0/1; Price -> normalized
numeric difference; DateTime -> component-cascade date distance;
has_missing -> sentinel-driven indicator column (dedupe_script.py:159-162).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import strings as S

MISSING = "N/A"


@dataclass(frozen=True)
class FieldSpec:
    """Match-field declaration. ``idf`` (Text fields only) switches the
    cosine comparator to corpus-weighted TF-IDF: a bounded {token: idf}
    dict (top-K corpus tokens; others take ``default_idf``) that ships to
    executors inside the scoring UDF closure."""

    name: str
    type: str = "String"  # String | Affine | Text | Exact | Price | DateTime
    has_missing: bool = True
    idf: dict | None = field(default=None, compare=False, hash=False)
    default_idf: float = field(default=1.0, compare=False, hash=False)


def feature_names(fields: list[FieldSpec]) -> list[str]:
    out: list[str] = []
    for f in fields:
        if f.type == "String":
            out += [f"{f.name}_jw", f"{f.name}_lev"]
        elif f.type == "Affine":
            out += [f"{f.name}_ag"]
        elif f.type == "Text":
            out += [f"{f.name}_cos"]
        elif f.type == "Exact":
            out += [f"{f.name}_eq"]
        elif f.type == "Price":
            out += [f"{f.name}_prc"]
        elif f.type == "DateTime":
            out += [f"{f.name}_dt_y", f"{f.name}_dt_d", f"{f.name}_dt_s"]
        else:
            raise ValueError(f"unknown field type {f.type}")
        if f.has_missing:
            out.append(f"{f.name}_missing")
    return out


def compute_features(
    left: dict[str, pd.Series], right: dict[str, pd.Series], fields: list[FieldSpec]
) -> np.ndarray:
    """(n, d) float64 feature matrix in feature_names() order.

    One numpy/pandas pass per batch — no per-row Python at the Spark layer.
    """
    n = len(next(iter(left.values())))
    cols: list[np.ndarray] = []
    for f in fields:
        ls = left[f.name].fillna(MISSING).astype(str)
        rs = right[f.name].fillna(MISSING).astype(str)
        miss = ((ls == MISSING) | (rs == MISSING)).to_numpy(dtype=np.float64)
        present = 1.0 - miss
        if f.type == "String":
            cols.append(S.jw_batch(ls, rs) * present)
            cols.append(S.lev_sim_batch(ls, rs) * present)
        elif f.type == "Affine":
            # dedupe's String comparator: normalized affine-gap *distance*
            # (lower = closer; the LR learns the sign). Sentinel pairs -> 0
            # with the missing indicator carrying the signal.
            d = S.affine_gap_batch_np(
                ls.to_numpy(dtype=object), rs.to_numpy(dtype=object)
            )
            cols.append(d * present)
        elif f.type == "Text":
            if f.idf is not None:
                sim = S.tfidf_cosine_batch_np(
                    ls.to_numpy(dtype=object),
                    rs.to_numpy(dtype=object),
                    f.idf,
                    f.default_idf,
                )
            else:
                sim = S.token_cosine_batch(ls, rs)
            cols.append(sim * present)
        elif f.type == "Exact":
            cols.append((ls == rs).to_numpy(dtype=np.float64) * present)
        elif f.type == "Price":
            a = pd.to_numeric(ls, errors="coerce")
            b = pd.to_numeric(rs, errors="coerce")
            denom = np.maximum(np.abs(a), np.abs(b))
            with np.errstate(divide="ignore", invalid="ignore"):
                d = 1.0 - np.abs(a - b) / denom
            d = np.nan_to_num(d.to_numpy(dtype=np.float64), nan=0.0)
            numeric_miss = (a.isna() | b.isna()).to_numpy(dtype=np.float64)
            miss = np.maximum(miss, numeric_miss)
            cols.append(d * (1.0 - miss))
        elif f.type == "DateTime":
            # component-cascade distance (reference variable map
            # dedupe_script.py:266-286; dedupe's public DateTime variable
            # compares at progressively finer granularity): three bounded
            # distance columns — years (coarse, cap 10y), days (cap 1y),
            # seconds within a day (fine) — the LR weights the cascade.
            # Unparseable values fold into the missing indicator.
            a = pd.to_datetime(ls, errors="coerce", utc=True, format="mixed")
            b = pd.to_datetime(rs, errors="coerce", utc=True, format="mixed")
            parse_miss = (a.isna() | b.isna()).to_numpy(dtype=np.float64)
            miss = np.maximum(miss, parse_miss)
            ok = 1.0 - miss
            secs = np.nan_to_num(
                (a - b).dt.total_seconds().abs().to_numpy(dtype=np.float64),
                nan=0.0,
            )
            cols.append(np.minimum(secs / (365.25 * 86400.0), 10.0) / 10.0 * ok)
            cols.append(np.minimum(secs / 86400.0, 365.0) / 365.0 * ok)
            cols.append(np.minimum(secs, 86400.0) / 86400.0 * ok)
        if f.has_missing:
            cols.append(miss)
    if not cols:
        return np.zeros((n, 0))
    return np.column_stack(cols)


def lookup_positions(lk: dict, ids_np: np.ndarray) -> np.ndarray:
    """id array -> row positions into a RecordLookup's ``cols`` arrays
    (-1 = absent; callers mask). Lives here, not operators/scoring.py,
    for the same cold-start reason as the rest of this module.

    Dense-range lookups (``base``/``n`` in the broadcast value — the
    row-index record_id case, sources/ingest.py P8) resolve arithmetically:
    one subtract + compare over the batch, no per-task pandas hashtable
    rebuild. Everything else goes through the pandas Index hash lookup.
    """
    base = lk.get("base")
    if base is not None:
        if ids_np.dtype.kind not in "iu":
            # A nullable id column materialized by Arrow/pandas arrives as
            # float64 with NaN for nulls; astype("int64") would wrap NaN to
            # INT64_MIN and rely on implementation-defined overflow to miss.
            # Make the miss contractual instead: NaN / non-integral values
            # resolve to -1 explicitly, integral floats resolve normally.
            with np.errstate(invalid="ignore"):
                ok = np.isfinite(ids_np) & (ids_np == np.floor(ids_np))
            p = np.where(ok, ids_np, -1.0).astype("int64") - base
            return np.where(ok & (p >= 0) & (p < lk["n"]), p, -1)
        p = ids_np.astype("int64", copy=False) - base
        return np.where((p >= 0) & (p < lk["n"]), p, -1)
    return lk["ids"].get_indexer(ids_np)
