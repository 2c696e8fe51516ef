"""Staged, checkpointed, resumable record-linkage pipeline (SURVEY.md §3/§7).

``ingest -> normalize -> block -> candidates -> score -> cluster -> assemble``,
each stage a pure DataFrame -> DataFrame function that writes a parquet
checkpoint plus a metrics JSON and can be resumed: a stage whose content key
(hash of the config fields the stage reads + upstream keys, see
``STAGE_CONFIG``) matches an existing COMMITTED checkpoint is read back
instead of recomputed (north rule: "resumable from checkpoint with
per-partition lineage + metrics"). Commits are atomic, Iceberg-style
(VERDICT r3 item 2): the stage writes to a staging directory, fsyncs a
manifest recording key + schema + the data-file list with sizes, and a
POSIX rename publishes the snapshot — a crash at any point leaves either
the previous committed snapshot or an unmanifested orphan that resume
recomputes rather than trusts. A recommit supersedes rather than deletes:
the previous snapshot moves under ``<workdir>/_snapshots/<stage>/<id>``
and stays time-travel readable (``Pipeline.read_snapshot``/``snapshots``)
until ``expire_snapshots`` reclaims it — the Iceberg snapshot-log
semantics that let a 100 TB pipeline diff the effect of a config change
without recomputing either side. This manifest-then-rename protocol is the
pipeline's only checkpoint binding.

The reference's equivalent lifecycle is the monolithic
``find_duplicates_in_files`` control flow
(/root/reference/backend/dedupe_script.py:173-419) — no checkpoints, driver
memory only, clusters truncated at 1,000-row chunk boundaries (§2.7). This
pipeline clusters globally.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lifecycle import track
from .model import LogisticModel, fit_logistic
from .normalize import normalize_features
from .operators import blocking as B
from .operators import clustering as C
from .operators import scoring as SC
from .operators.assemble import assemble_clusters
from .operators.scoring import FieldSpec, compute_features, feature_names

# ---------------------------------------------------------------------------
# Page preparation: derived match fields (the reference matches on all input
# columns; for web pages the match fields are derived from url + text)
# ---------------------------------------------------------------------------

PAGE_FIELDS = [
    FieldSpec("host", "String"),
    FieldSpec("path", "String"),
    FieldSpec("title", "String"),
    FieldSpec("body", "Text"),
]

# dedupe-parity comparator set (SURVEY.md M1): String fields use the
# normalized affine-gap alignment (Gotoh; dedupeio/affinegap public
# weights), Text uses corpus-weighted TF-IDF cosine (idf injected by
# Pipeline.run from the records stage).
PAGE_FIELDS_DEDUPE = [
    FieldSpec("host", "Affine"),
    FieldSpec("path", "Affine"),
    FieldSpec("title", "Affine"),
    FieldSpec("body", "Text"),
]


def fill_text_from_html(pages: DataFrame, mode: str) -> DataFrame:
    """Optional ingest step (PipelineConfig.extract_html): derive ``text``
    from the ``html`` binary column for rows whose text is NULL. Rows that
    ARRIVE with text keep it byte-identical (the input_hint invariant —
    extraction only fills gaps, never overwrites). ``mode``: "off" (no-op),
    "builtin" (regexp tier — whole-stage codegen), "parser" (Arrow-batched
    stdlib HTMLParser — the web-crawl default; numeric charrefs etc.).
    Stateless projection: no shuffle, resume-safe."""
    if mode == "off":
        return pages
    from .functions import htmltext as H

    decoded = F.decode(F.col("html"), "UTF-8")
    if mode == "builtin":
        extracted = H.html_to_text_expr(decoded)
    elif mode == "parser":
        extracted = H.html_to_text_udf()(decoded)
    else:
        raise ValueError(f"extract_html must be off|builtin|parser, got {mode!r}")
    return pages.withColumn(
        "text",
        F.when(
            F.col("text").isNull() & F.col("html").isNotNull(), extracted
        ).otherwise(F.col("text")),
    )


def prepare_pages(pages: DataFrame, spread: bool = True) -> DataFrame:
    """Add derived match fields. NEVER touches ``text`` itself — the
    byte-identity invariant (input_hint) is that text passes through
    unchanged per url; match features live in new columns.

    ``spread`` (default True): repartition to defaultParallelism before the
    pandas-UDF normalize stage — small/singleton inputs scan as 1 partition
    and would serialize it. A caller flag, not a getNumPartitions() probe:
    materializing the partition count under AQE executes the upstream plan
    as throwaway jobs (see scoring.score_pairs). Pass False when the input
    arrives pre-partitioned (a bucketed table, a checkpoint read-back)."""
    if spread:
        pages = pages.repartition(
            pages.sparkSession.sparkContext.defaultParallelism
        )
    df = pages.withColumn(
        "host",
        F.regexp_replace(
            # (?i): the host is lowercased only later, in
            # normalize_features — a case-sensitive strip would give
            # WWW.example.com and www.example.com different block keys
            F.regexp_extract("url", r"^[a-zA-Z]+://([^/]+)", 1),
            r"(?i)^www\.",
            ""
        ),
    )
    df = df.withColumn("path", F.regexp_extract("url", r"^[a-zA-Z]+://[^/]+([^?#]*)", 1))
    df = df.withColumn(
        "title", F.array_join(F.slice(F.split(F.col("text"), r"\s+"), 1, 8), " ")
    )
    df = df.withColumn("body", F.col("text"))
    return normalize_features(df, ["host", "path", "title", "body"])


def page_predicates(
    norm_suffix: str = "_norm", phonetic: bool = False
) -> dict:
    """Blocking predicates for pages: host+first-title-token (cheap,
    JVM-side) and MinHash-LSH bands over the normalized body (catches
    text edits). ``phonetic=True`` adds host + Soundex of the first
    title token (functions/phonetic.py — the predicate-zoo member that
    catches spelling variants exact tokens miss; pure built-in
    expression, no UDF, so it costs one more projected key column)."""
    hostcol = "host" + norm_suffix
    titlecol = "title" + norm_suffix
    bodycol = "body" + norm_suffix
    mh = B.minhash_bands_udf(num_perm=32, bands=8, shingle_k=5)
    preds = {
        "host_t1": F.concat_ws("|", F.col(hostcol), B.first_tokens(titlecol, 1)),
        "host_path8": F.concat_ws(
            "|", F.col(hostcol), F.substring(F.col("path" + norm_suffix), 1, 12)
        ),
        "mh_body": mh(F.col(bodycol)),
    }
    if phonetic:
        from .functions.phonetic import soundex_col

        preds["host_sdx"] = F.concat_ws(
            "|",
            F.col(hostcol),
            soundex_col(B.first_tokens(titlecol, 1)),
        )
    return preds


# ---------------------------------------------------------------------------
# Training (SURVEY.md M2-M5): driver-side LR on a small labeled pair set
# ---------------------------------------------------------------------------


def train_model(
    records: DataFrame,
    labeled_pairs: DataFrame,
    fields: list[FieldSpec],
    id_col: str = "url",
    norm_suffix: str = "_norm",
    l2: float = 0.1,
) -> LogisticModel:
    """Join labels to normalized fields, compute features driver-side, fit LR.

    'u' labels are filtered (reference page.tsx:253). The labeled set is
    small by construction (reference trains on ≤400 rows / ~10²-10³ pairs),
    so a driver-side fit + closure-shipped weights is the right scale split.
    """
    lab = labeled_pairs.where(F.col("label").isin("y", "n")).select(
        F.col("url1").alias("id1"), F.col("url2").alias("id2"), "label"
    )
    field_cols = [f.name + norm_suffix for f in fields]
    # fit in a fixed row order: the fit sums in row order and the model's
    # hash keys scored_pairs, so Spark's row order must not change the key
    wide = (
        SC.attach_pair_fields(lab, records, id_col, field_cols)
        .toPandas()
        .sort_values(["id1", "id2", "label"], ignore_index=True)
    )
    left = {f.name: wide[f"l_{f.name}{norm_suffix}"] for f in fields}
    right = {f.name: wide[f"r_{f.name}{norm_suffix}"] for f in fields}
    X = compute_features(left, right, fields)
    y = (wide["label"] == "y").to_numpy(dtype=np.float64)
    return fit_logistic(X, y, l2=l2, feature_names=feature_names(fields))


# ---------------------------------------------------------------------------
# Checkpointed pipeline
# ---------------------------------------------------------------------------


@dataclass
class PipelineConfig:
    """Pipeline settings. Each field's comment names the checkpointed
    stages whose resume key it is part of (``STAGE_CONFIG``); a field
    keyed by no stage changes what is stored, never what is computed."""

    workdir: str
    # keys cluster_assignments
    threshold: float = 0.5
    # keys blocks (the adaptive ladder's cap) and candidate_pairs (the
    # mega-block guard)
    max_block: int = 500
    # keys candidate_pairs
    salt_target: int = 100
    # keys blocks, scored_pairs and clusters
    id_col: str = "url"
    # keys blocks and scored_pairs
    norm_suffix: str = "_norm"
    # keys scored_pairs
    fields: list[FieldSpec] = field(default_factory=lambda: list(PAGE_FIELDS))
    # keys scored_pairs (through the model it trains)
    l2: float = 0.1
    # "none" -> unweighted token cosine for Text fields; "corpus" -> compute
    # a bounded IDF table from the records stage and weight the cosine.
    # Both key scored_pairs.
    tfidf: str = "none"
    idf_top_k: int = 1 << 18
    # within-component hierarchical refinement (SURVEY M9 optional step):
    # splits weakly-chained components at the threshold's cophenetic cut.
    # Keys cluster_assignments.
    refine: bool = False
    # Iceberg-style snapshot history: how many SUPERSEDED snapshots to
    # retain per stage (the live committed one is never counted). A stage
    # recommit (config change, new input) moves the previous snapshot into
    # <workdir>/_snapshots/<stage>/<snapshot_id> instead of deleting it;
    # read_snapshot() time-travels, expire_snapshots() reclaims space.
    # 0 disables history (previous behavior). NOT part of key_dict — it
    # changes what is kept, never what is computed.
    snapshot_retention: int = 2
    # "off" | "builtin" | "parser": fill NULL text from the html binary
    # column at ingest (fill_text_from_html). Keys records.
    extract_html: str = "off"
    # add the host+Soundex(first title token) blocking predicate — the
    # phonetic predicate-zoo member. Keys blocks.
    phonetic_blocking: bool = False
    # replace the fixed host_t1 predicate with overflow-driven key
    # refinement (blocking.adaptive_block_keys): host|t1 → host|t1|t2 →
    # host|path12, each block settling at the shallowest level fitting
    # max_block — the answer to fixed-key cap collapse under corpus
    # growth (BENCH.md 10× stress). Keys blocks.
    adaptive_blocking: bool = False

    def key_dict(self) -> dict:
        return {
            "threshold": self.threshold,
            "max_block": self.max_block,
            "salt_target": self.salt_target,
            "id_col": self.id_col,
            "norm_suffix": self.norm_suffix,
            "fields": [(f.name, f.type, f.has_missing) for f in self.fields],
            "l2": self.l2,
            "tfidf": self.tfidf,
            "idf_top_k": self.idf_top_k,
            "refine": self.refine,
            "extract_html": self.extract_html,
            "phonetic_blocking": self.phonetic_blocking,
            "adaptive_blocking": self.adaptive_blocking,
        }


# The key_dict fields each checkpointed stage of Pipeline.run reads. A
# stage's resume key hashes only these plus its parents' keys, so a
# threshold-only rerun resumes everything up to scored_pairs. Inputs read
# through another stage come in as that stage's key: scored_pairs and
# clusters take k_rec because they read records directly, and scored_pairs
# takes the trained model's hash. A stage not listed here is keyed on the
# whole key_dict.
STAGE_CONFIG: dict[str, tuple[str, ...]] = {
    "records": ("extract_html",),
    "blocks": (
        "id_col",
        "norm_suffix",
        "phonetic_blocking",
        "adaptive_blocking",
        "max_block",
    ),
    "candidate_pairs": ("max_block", "salt_target"),
    # l2 and the fields also reach the stage through the model
    "scored_pairs": ("fields", "id_col", "norm_suffix", "tfidf", "idf_top_k", "l2"),
    "cluster_assignments": ("threshold", "refine"),
    "clusters": ("id_col",),
}


class Pipeline:
    """Runs the staged pipeline with parquet checkpoints + metrics JSON."""

    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.cfg = config
        os.makedirs(config.workdir, exist_ok=True)
        self.metrics: dict[str, dict] = {}

    # -- checkpoint machinery ------------------------------------------------

    def _stage_key(self, name: str, parents: list[str]) -> str:
        config = self.cfg.key_dict()
        if name in STAGE_CONFIG:
            config = {k: config[k] for k in STAGE_CONFIG[name]}
        payload = json.dumps(
            {"stage": name, "config": config, "parents": parents},
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    MANIFEST = "_dedupe_manifest.json"

    def _read_committed_manifest(self, path: str, key: str) -> dict | None:
        """Return the manifest iff ``path`` holds a COMMITTED checkpoint
        for ``key``.

        The manifest is written (and fsynced) inside the staging directory
        BEFORE the atomic rename that publishes it, so its presence under
        the final path IS the commit marker — an orphan parquet directory
        left by a crash mid-write has no manifest and is recomputed, never
        trusted (VERDICT r3 item 2: the old key-sidecar protocol could
        leave a keyless/stale checkpoint that resume logic misjudged).
        Validation: key equality, plus every data file the snapshot lists
        still present with its recorded size (a partially deleted or
        half-overwritten directory fails closed).
        """
        man = self._read_manifest(path)
        if man is None or man.get("key") != key:
            return None
        return man

    def _read_manifest(self, path: str) -> dict | None:
        """Load + file-validate a snapshot manifest (no key check): every
        data file the snapshot lists must still exist at its recorded
        size, else the directory is not a trustable snapshot."""
        try:
            with open(os.path.join(path, self.MANIFEST)) as fh:
                man = json.load(fh)
        except (OSError, ValueError):
            return None
        for f in man.get("files", []):
            fp = os.path.join(path, f["name"])
            try:
                if os.path.getsize(fp) != f["bytes"]:
                    return None
            except OSError:
                return None
        return man

    # -- snapshot history (Iceberg-style time travel) -------------------------

    def _snap_dir(self, name: str) -> str:
        return os.path.join(self.cfg.workdir, "_snapshots", name)

    def _superseded_ids(self, name: str) -> list[int]:
        try:
            return sorted(
                int(e) for e in os.listdir(self._snap_dir(name)) if e.isdigit()
            )
        except OSError:
            return []

    def _next_snapshot_id(self, name: str) -> int:
        cur = self._read_manifest(os.path.join(self.cfg.workdir, name))
        ids = self._superseded_ids(name)
        if cur is not None:
            ids.append(int(cur.get("snapshot_id", 0)))
        return (max(ids) + 1) if ids else 1

    def snapshots(self, name: str) -> list[dict]:
        """Snapshot log for a stage, ascending by snapshot_id: superseded
        snapshots still on disk plus the live committed one (marked
        ``current``). Each entry carries the manifest's key, committed_at
        and row count — enough to diff a config change's effect without
        recomputing anything."""
        out = []
        for sid in self._superseded_ids(name):
            man = self._read_manifest(os.path.join(self._snap_dir(name), str(sid)))
            if man is not None:
                out.append(self._snap_entry(man, current=False))
        cur = self._read_manifest(os.path.join(self.cfg.workdir, name))
        if cur is not None:
            out.append(self._snap_entry(cur, current=True))
        return sorted(out, key=lambda e: e["snapshot_id"])

    @staticmethod
    def _snap_entry(man: dict, current: bool) -> dict:
        return {
            "snapshot_id": int(man.get("snapshot_id", 0)),
            "committed_at": man.get("committed_at"),
            "key": man.get("key"),
            "rows": man.get("metrics", {}).get("rows"),
            "current": current,
        }

    def read_snapshot(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        """Time-travel read: the stage's table as of ``snapshot_id``
        (default: the live committed snapshot). Raises ``LookupError`` if
        the snapshot was never committed or has been expired."""
        if snapshot_id is None:
            path = os.path.join(self.cfg.workdir, name)
            if self._read_manifest(path) is None:
                raise LookupError(f"stage {name!r} has no committed snapshot")
            return self.spark.read.parquet(path)
        for path in (
            os.path.join(self._snap_dir(name), str(snapshot_id)),
            os.path.join(self.cfg.workdir, name),
        ):
            man = self._read_manifest(path)
            if man is not None and int(man.get("snapshot_id", 0)) == snapshot_id:
                return self.spark.read.parquet(path)
        raise LookupError(
            f"stage {name!r} snapshot {snapshot_id} not found (expired or never committed)"
        )

    def expire_snapshots(self, name: str, keep_last: int | None = None) -> list[int]:
        """Drop the oldest superseded snapshots beyond ``keep_last``
        (default: the config's snapshot_retention). The live committed
        snapshot is never expired. Returns the expired ids."""
        keep = self.cfg.snapshot_retention if keep_last is None else keep_last
        ids = self._superseded_ids(name)
        victims = ids[: max(len(ids) - keep, 0)]
        for sid in victims:
            shutil.rmtree(
                os.path.join(self._snap_dir(name), str(sid)), ignore_errors=True
            )
        return victims

    def compact_stage(
        self, name: str, target_file_bytes: int = 128 << 20
    ) -> dict:
        """Bin-pack a committed stage's small files into ~target-size
        files as a NEW data-identical snapshot — the OPTIMIZE/compaction
        maintenance pass every long-lived table needs (a stage written at
        high parallelism leaves one file per task; at 100 TB the
        downstream scan pays per-file open/footer cost and the
        NameNode/listing pays per-object cost).

        The rewrite is ``coalesce`` (file merge), never a shuffle; the
        manifest keeps the SAME stage key, so resume still matches, and
        the previous snapshot moves into time-travel history exactly like
        a recompute commit. Returns {files_before, files_after,
        bytes_total, snapshot_id}.
        """
        path = os.path.join(self.cfg.workdir, name)
        man = self._read_manifest(path)
        if man is None:
            raise LookupError(f"stage {name!r} has no committed snapshot")
        files_before = len(man["files"])
        bytes_total = sum(f["bytes"] for f in man["files"])
        n_out = max(1, -(-bytes_total // max(1, target_file_bytes)))
        df = self.spark.read.parquet(path)
        tmp = path + f".compact-{uuid.uuid4().hex[:8]}"
        try:
            df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
            manifest = dict(man)
            manifest["snapshot_id"] = self._next_snapshot_id(name)
            manifest["committed_at"] = round(time.time(), 3)
            manifest["compacted"] = True
            # the metrics lineage must describe THIS layout, not the
            # pre-compaction one (same per-partition accounting as a
            # stage commit; row total must be unchanged by construction)
            out = self.spark.read.parquet(tmp)
            prows = {
                str(r["pid"]): int(r["n"])
                for r in out.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count("*").alias("n"))
                .collect()
            }
            m = dict(man.get("metrics") or {})
            m["partitions"] = out.rdd.getNumPartitions()
            m["partition_rows"] = prows
            m["rows"] = sum(prows.values())
            manifest["metrics"] = m
            manifest["files"] = [
                {
                    "name": fn,
                    "bytes": os.path.getsize(os.path.join(tmp, fn)),
                }
                for fn in sorted(os.listdir(tmp))
                if fn.endswith(".parquet")
            ]
            mpath = os.path.join(tmp, self.MANIFEST)
            with open(mpath, "w") as fh:
                json.dump(manifest, fh)
                fh.flush()
                os.fsync(fh.fileno())
            self._fsync_path(tmp)
            # same supersede-swap as a stage commit: previous snapshot
            # stays time-travel readable until expired
            snaps = self._snap_dir(name)
            os.makedirs(snaps, exist_ok=True)
            os.rename(
                path, os.path.join(snaps, str(int(man.get("snapshot_id", 0))))
            )
            os.rename(tmp, path)
            self.expire_snapshots(name)
            self._fsync_path(self.cfg.workdir)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        self.spark.catalog.refreshByPath(path)
        return {
            "files_before": files_before,
            "files_after": len(manifest["files"]),
            "bytes_total": bytes_total,
            "snapshot_id": manifest["snapshot_id"],
        }

    @staticmethod
    def _fsync_path(p: str) -> None:
        try:
            fd = os.open(p, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        except OSError:
            pass

    def _add_stage_metrics(self, name: str, extra: dict) -> None:
        """Store ``extra`` in stage ``name``'s committed metrics, so a
        resume of that checkpoint restores it. A metadata-only commit
        after the data commit (an atomic manifest replace): a crash
        between the two leaves a resumable checkpoint without ``extra``."""
        self.metrics[name] = self.metrics[name] | extra
        path = os.path.join(self.cfg.workdir, name)
        man = self._read_manifest(path)
        man["metrics"] = man["metrics"] | extra
        tmp = os.path.join(path, self.MANIFEST + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(man, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(path, self.MANIFEST))
        self._fsync_path(path)
        with open(path + ".metrics.json", "w") as fh:
            json.dump(man["metrics"], fh)

    def stage(self, name: str, parents: list[str], compute) -> tuple[DataFrame, str]:
        """Read checkpoint if its committed manifest matches, else compute
        and commit atomically (Iceberg-style snapshot semantics on a
        filesystem: write-to-staging-dir, fsync a manifest that records
        key + schema + the data-file list with sizes, then a rename is the
        commit point — a crash at ANY intermediate step leaves either the
        previous committed snapshot or an unmanifested orphan that resume
        recomputes).

        Returns (DataFrame, stage_key). Metrics: rows, partitions, seconds,
        key — recorded in the manifest (authoritative) and mirrored to
        <workdir>/<name>.metrics.json for observability.
        """
        key = self._stage_key(name, parents)
        path = os.path.join(self.cfg.workdir, name)
        mfile = path + ".metrics.json"
        # sweep leftovers from crashed commits (best-effort, never load-
        # bearing: resume correctness comes from the manifest check alone)
        base = os.path.basename(path)
        for entry in os.listdir(self.cfg.workdir):
            if (
                entry.startswith(base + ".inprogress-")
                or entry.startswith(base + ".old-")
                or entry.startswith(base + ".compact-")
            ):
                shutil.rmtree(
                    os.path.join(self.cfg.workdir, entry), ignore_errors=True
                )
        man = self._read_committed_manifest(path, key)
        if man is not None:
            df = self.spark.read.parquet(path)
            self.metrics[name] = man["metrics"] | {"resumed": True}
            return df, key
        t0 = time.time()
        df = compute()
        tmp = path + f".inprogress-{uuid.uuid4().hex[:8]}"
        try:
            df.write.mode("overwrite").parquet(tmp)
            out = self.spark.read.parquet(tmp)
            # per-partition lineage (north_star: "checkpoint every stage
            # ... with per-partition lineage and metrics"): row count per
            # read-back partition of the written checkpoint — one aggregate
            # job, same cost as the plain count it replaces, and it makes
            # skew in a checkpointed stage visible in the metrics instead
            # of only at the next shuffle
            from pyspark.sql import functions as _F

            prows = {
                str(r["pid"]): int(r["n"])
                for r in out.groupBy(_F.spark_partition_id().alias("pid"))
                .agg(_F.count("*").alias("n"))
                .collect()
            }
            m = {
                "stage": name,
                "key": key,
                "rows": sum(prows.values()),
                # scan partition count, INCLUDING empty ones (partition_rows
                # only lists non-empty partitions — spark_partition_id rows
                # can't witness an empty partition); read-back parquet scan,
                # so the .rdd probe is contract-safe here (see _spread)
                "partitions": out.rdd.getNumPartitions(),
                "partition_rows": prows,
                "seconds": round(time.time() - t0, 3),
                "resumed": False,
            }
            manifest = {
                "format_version": 2,
                "snapshot_id": self._next_snapshot_id(name),
                "committed_at": round(time.time(), 3),
                "key": key,
                "schema": out.schema.jsonValue(),
                "files": [
                    {
                        "name": fn,
                        "bytes": os.path.getsize(os.path.join(tmp, fn)),
                    }
                    for fn in sorted(os.listdir(tmp))
                    if fn.endswith(".parquet")
                ],
                "metrics": m,
            }
            mpath = os.path.join(tmp, self.MANIFEST)
            with open(mpath, "w") as fh:
                json.dump(manifest, fh)
                fh.flush()
                os.fsync(fh.fileno())
            self._fsync_path(tmp)
            # commit point: rename the fully-written, manifested staging
            # dir into place. POSIX rename is atomic; the two-rename swap
            # (old out, new in) has one non-atomic seam, and a crash inside
            # it leaves `path` ABSENT — which the manifest check reads as
            # "recompute", never as a trustable checkpoint
            if os.path.exists(path):
                old_man = self._read_manifest(path)
                if old_man is not None and self.cfg.snapshot_retention > 0:
                    # supersede, don't delete: the previous snapshot moves
                    # (one atomic rename) into the history area under its
                    # own snapshot_id — time-travel readable until expired
                    snaps = self._snap_dir(name)
                    os.makedirs(snaps, exist_ok=True)
                    os.rename(
                        path,
                        os.path.join(
                            snaps, str(int(old_man.get("snapshot_id", 0)))
                        ),
                    )
                    os.rename(tmp, path)
                    self.expire_snapshots(name)
                else:
                    old = path + f".old-{uuid.uuid4().hex[:8]}"
                    os.rename(path, old)
                    os.rename(tmp, path)
                    shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(tmp, path)
            self._fsync_path(self.cfg.workdir)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        # observability mirror only — resume never trusts it
        with open(mfile, "w") as fh:
            json.dump(m, fh)
        self.metrics[name] = m
        # the rename swap changed `path`'s contents BEHIND Spark's back
        # (a direct overwrite write would have invalidated the session's
        # FileStatusCache; a filesystem rename does not) — refresh, or a
        # prior read of this path in the same session serves a stale file
        # listing and the next scan dies on FILE_NOT_EXIST
        self.spark.catalog.refreshByPath(path)
        # re-point the returned frame at the committed location (the
        # pre-rename `out` plan still references the staging path)
        return self.spark.read.parquet(path), key

    # -- end-to-end ----------------------------------------------------------

    def run(self, pages: DataFrame, labeled_pairs: DataFrame) -> dict[str, DataFrame]:
        cfg = self.cfg
        records, k_rec = self.stage(
            "records",
            [],
            lambda: prepare_pages(fill_text_from_html(pages, cfg.extract_html)),
        )

        if cfg.tfidf == "corpus":
            import dataclasses

            from .functions.text import compute_idf

            cfg = dataclasses.replace(
                cfg,
                fields=[
                    dataclasses.replace(
                        f,
                        idf=(idf_pair := compute_idf(
                            records, f.name + cfg.norm_suffix, top_k=cfg.idf_top_k
                        ))[0],
                        default_idf=idf_pair[1],
                    )
                    if f.type == "Text"
                    else f
                    for f in cfg.fields
                ],
            )

        model = train_model(
            records, labeled_pairs, cfg.fields, cfg.id_col, cfg.norm_suffix, cfg.l2
        )
        model_key = hashlib.sha256(
            json.dumps(model.to_dict(), sort_keys=True).encode()
        ).hexdigest()[:16]
        with open(os.path.join(cfg.workdir, "model.json"), "w") as fh:
            json.dump(model.to_dict(), fh)

        def _build_blocks():
            preds = page_predicates(
                cfg.norm_suffix, phonetic=cfg.phonetic_blocking
            )
            if not cfg.adaptive_blocking:
                return B.generate_blocks(records, cfg.id_col, preds)
            # adaptive mode: the fixed host_t1 key is replaced by its
            # overflow-refined ladder; the other predicates are unchanged
            del preds["host_t1"]
            host = F.col("host" + cfg.norm_suffix)
            title = "title" + cfg.norm_suffix
            levels = [
                F.concat_ws("|", host, B.first_tokens(title, 1)),
                F.concat_ws("|", host, B.first_tokens(title, 2)),
                F.concat_ws(
                    "|",
                    host,
                    F.substring(F.col("path" + cfg.norm_suffix), 1, 12),
                ),
            ]
            base = B.generate_blocks(records, cfg.id_col, preds)
            adaptive = B.adaptive_block_keys(
                records, cfg.id_col, levels, cap=cfg.max_block
            )
            return base.unionByName(adaptive)

        blocks, k_blk = self.stage("blocks", [k_rec], _build_blocks)
        cands, k_cnd = self.stage(
            "candidate_pairs",
            [k_blk],
            lambda: B.candidate_pairs(blocks, cfg.max_block, cfg.salt_target),
        )
        # no silent caps: record what the mega-block guard discarded. The
        # stats are stored with the checkpoint, so a resume restores them;
        # only a commit that crashed before storing them recomputes them
        dropped = self.metrics["candidate_pairs"].get("blocks_dropped")
        if dropped is None:
            dropped = B.warn_dropped_blocks(
                blocks, cfg.max_block, context="pipeline.candidate_pairs"
            )
            self._add_stage_metrics("candidate_pairs", {"blocks_dropped": dropped})
        self.metrics["blocks_dropped"] = dropped
        scored, k_sco = self.stage(
            "scored_pairs",
            [k_cnd, k_rec, model_key],
            lambda: SC.score_pairs(
                cands, records, model, cfg.fields, cfg.id_col, cfg.norm_suffix,
                lookup=track(
                    SC.try_build_lookup(
                        records, cfg.id_col, cfg.fields, cfg.norm_suffix
                    )
                ),
            ),
        )
        # blocking recall of labeled positives — the guard metric for
        # mega-block capping (SURVEY.md §7 hard part #1)
        from .training import blocking_recall

        positives = labeled_pairs.where(F.col("label") == "y").select(
            F.col("url1").alias("id1"), F.col("url2").alias("id2")
        )
        self.metrics["blocking_recall"] = {
            "labeled_positive_recall": blocking_recall(cands, positives)
        }

        edges = scored.where(F.col("score") >= F.lit(cfg.threshold))

        def _cluster():
            assign = C.connected_components(edges)
            if cfg.refine:
                assign = C.refine_components(assign, edges, cfg.threshold)
            return C.member_confidence(assign, edges)

        assign, k_asn = self.stage("cluster_assignments", [k_sco], _cluster)
        clusters, _ = self.stage(
            "clusters",
            [k_asn, k_rec],
            lambda: assemble_clusters(
                assign,
                records,
                cfg.id_col,
                ["url", "lang"],
            ),
        )
        with open(os.path.join(cfg.workdir, "pipeline.metrics.json"), "w") as fh:
            json.dump(self.metrics, fh, indent=1)
        return {
            "records": records,
            "blocks": blocks,
            "candidate_pairs": cands,
            "scored_pairs": scored,
            "assignments": assign,
            "clusters": clusters,
            "model": model,
        }


# ---------------------------------------------------------------------------
# Evaluation: pairwise F1 vs labeled pairs (BASELINE.json metric)
# ---------------------------------------------------------------------------


def pairwise_f1(assignments: DataFrame, labeled_pairs: DataFrame) -> dict:
    """Predict match iff both urls land in the same cluster; F1 over labels."""
    a1 = assignments.select(
        F.col("record_id").alias("url1"), F.col("cluster_id").alias("c1")
    )
    a2 = assignments.select(
        F.col("record_id").alias("url2"), F.col("cluster_id").alias("c2")
    )
    lab = (
        labeled_pairs.where(F.col("label").isin("y", "n"))
        .join(a1, "url1", "left")
        .join(a2, "url2", "left")
        .withColumn(
            "pred",
            (F.col("c1").isNotNull() & (F.col("c1") == F.col("c2"))).cast("int"),
        )
        .withColumn("actual", (F.col("label") == "y").cast("int"))
    )
    agg = lab.agg(
        F.sum(F.col("pred") * F.col("actual")).alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("actual"))).alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("actual")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = int(agg["tp"] or 0), int(agg["fp"] or 0), int(agg["fn"] or 0)
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": prec, "recall": rec, "f1": f1}


def pages_df(spark: SparkSession, pages_pd: pd.DataFrame) -> DataFrame:
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    return spark.createDataFrame(pages_pd, schema=schema)
