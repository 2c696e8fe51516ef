"""The benchmark workloads. Each drives the engine through its public
functions on inputs generated from the seed, and checks every output it
times.

A workload object generates its inputs in ``__init__`` and runs one full
pass per :meth:`one_pass` call. A pass returns its timings (``run_s``,
``rerun_s`` and the ``rounds`` a user waits on one at a time); output
checks go to the shared :class:`Ledger`. :meth:`measure` makes the passes
of one untraced run and returns the end-to-end figures. With a
:class:`spans.Tracer` attached, a pass records spans around each call into
a layer and fills ``counters``.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import time
from itertools import combinations

from pyspark.sql import functions as F

from dedupe_spark.api import Deduper
from dedupe_spark.fixtures import make_kna_customers, make_labeled_pairs, make_pages
from dedupe_spark.functions.features import FieldSpec
from dedupe_spark.lifecycle import release_session_storage
from dedupe_spark.operators import dedup as D
from dedupe_spark import pipeline as P

# input sizes; the smoke test shrinks them
SIZES = {
    "er_batch": {"n_base": 250},
    "al_session": {"n_base": 60, "seed_labels": 4, "rounds": 4},
}
THRESHOLD, RERUN_THRESHOLD = 0.5, 0.6
# output-check floors, below every value measured on seeds 1-10
F1_FLOOR = {"er_batch": 0.95, "al_session": 0.9, "near_dup": 0.5}
STAGES = (
    "records",
    "blocks",
    "candidate_pairs",
    "scored_pairs",
    "cluster_assignments",
    "clusters",
)


class Ledger:
    """Operations attempted and failed (raised or failed an output check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def pair_set(groups) -> set[tuple[str, str]]:
    """All unordered id pairs within each group."""
    out = set()
    for ids in groups:
        out.update(combinations(sorted(ids), 2))
    return out


def pairwise_f1(got: set, truth: set) -> float:
    tp = len(got & truth)
    if not tp:
        return 0.0
    prec, rec = tp / len(got), tp / len(truth)
    return 2 * prec * rec / (prec + rec)


def membership_digest(groups) -> str:
    """sha256 of the sorted cluster membership."""
    canon = sorted(tuple(sorted(ids)) for ids in groups if len(ids) > 1)
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def clusters_of(assign: dict) -> list[list[str]]:
    by: dict = {}
    for rid, cid in assign.items():
        by.setdefault(cid, []).append(rid)
    return list(by.values())


class Workload:
    name = ""

    def __init__(self, spark, seed: int, tmp: str, ledger: Ledger, size: dict):
        self.spark = spark
        self.seed = seed
        self.tmp = tmp
        self.ledger = ledger
        self.size = size
        self.tracer = None
        self.counters: dict[str, float] = {}
        self.sizes: dict[str, int] = {}
        # first-seen output fingerprints; later passes must match them
        self.reference: dict[str, object] = {}
        self.passes = 0

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def same_as_first(self, key: str, value) -> bool:
        return self.reference.setdefault(key, value) == value

    def one_pass(self, cold: bool = False) -> dict:
        """One pass; a ``cold`` pass is the first in a session, and may do
        less than a warm one (see each workload)."""
        self.passes += 1
        return self._pass(cold)

    def _pass(self, cold: bool) -> dict:
        raise NotImplementedError

    def warm_up(self) -> None:
        """The untimed pass before the timed ones of a traced run."""
        self.one_pass(cold=True)

    def measure(self, seconds: float) -> dict:
        """A cold pass, then warm passes until ``seconds`` have passed
        (at least one); returns the end-to-end figures."""
        cold = self.one_pass(cold=True)
        warm = []
        deadline = time.perf_counter() + seconds
        while not warm or time.perf_counter() < deadline:
            warm.append(self.one_pass())
        return {
            "cold_run_s": cold["run_s"],
            "run_s": statistics.median(p["run_s"] for p in warm),
            "rerun_s": statistics.median(p["rerun_s"] for p in warm),
            "rounds": [r for p in warm for r in p["rounds"]],
            "f1": statistics.median(p["f1"] for p in warm),
            "passes": len(warm),
        }


class ErBatch(Workload):
    """Checkpointed Pipeline.run on a fresh workdir, then a threshold-only
    rerun on the same workdir. A round is one Pipeline.run call after the
    cold one: the warm run and the rerun.

    A traced pass also runs the web-scale dedup calls (exact, MinHash-LSH,
    SimHash) on the same pages, after the timed run; the warm-up of a
    traced run runs them once untraced. Untraced runs skip them: they feed
    only per-layer metrics."""

    name = "er_batch"

    def __init__(self, *a):
        super().__init__(*a)
        pages_pd, truth = make_pages(n_base=self.size["n_base"], seed=self.seed)
        labels_pd = make_labeled_pairs(truth, seed=self.seed + 1)
        self.pages = P.pages_df(self.spark, pages_pd)
        self.labels = self.spark.createDataFrame(labels_pd)
        self.truth = pair_set(
            truth.groupby("true_cluster_id")["url"].apply(list).tolist()
        )
        self.sizes = {"pages": len(pages_pd), "labeled_pairs": len(labels_pd)}

    def _pipeline(self, workdir: str, threshold: float, traced: bool):
        """A Pipeline whose ``stage`` calls, when ``traced``, each run in a
        span."""
        pipe = P.Pipeline(
            self.spark, P.PipelineConfig(workdir=workdir, threshold=threshold)
        )
        if traced:
            stage = pipe.stage

            def traced_stage(name, parents, compute):
                with self.span(f"pipeline.{name}"):
                    return stage(name, parents, compute)

            pipe.stage = traced_stage
        return pipe

    def _assignments(self, out) -> dict:
        return {
            r["record_id"]: r["cluster_id"]
            for r in out["assignments"].select("record_id", "cluster_id").collect()
        }

    def _pass(self, cold: bool) -> dict:
        workdir = os.path.join(self.tmp, f"er-{self.passes}")
        traced = self.tracer is not None
        pipe = self._pipeline(workdir, THRESHOLD, traced)
        if traced:
            train = P.train_model
            P.train_model = self.tracer.wrap("pipeline.train_model", train)
        try:
            t0 = time.perf_counter()
            with self.span("pipeline.run"):
                out = pipe.run(self.pages, self.labels)
                out["clusters"].count()
            run_s = time.perf_counter() - t0
        finally:
            if traced:
                P.train_model = train
        groups = clusters_of(self._assignments(out))
        f1 = pairwise_f1(pair_set(groups), self.truth)
        self.ledger.check(
            f1 >= F1_FLOOR[self.name]
            and self.same_as_first("run", membership_digest(groups)),
            f"er_batch run: f1={f1:.4f} or cluster membership changed",
        )
        self.sizes["candidate_pairs"] = pipe.metrics["candidate_pairs"]["rows"]
        if traced:
            self._count(pipe, out)
            self.near_dup()
        if cold:
            shutil.rmtree(workdir)
            return {"run_s": run_s}

        rerun = self._pipeline(workdir, RERUN_THRESHOLD, False)
        t0 = time.perf_counter()
        out2 = rerun.run(self.pages, self.labels)
        out2["clusters"].count()
        rerun_s = time.perf_counter() - t0
        resumed = sum(bool(rerun.metrics[s].get("resumed")) for s in STAGES)
        self.sizes["resumed_stages"] = resumed
        if traced:
            self.counters["pipeline.resumed_stages"] = resumed
        self.ledger.check(
            self.same_as_first(
                "rerun", membership_digest(clusters_of(self._assignments(out2)))
            ),
            "er_batch rerun: cluster membership changed",
        )
        shutil.rmtree(workdir)
        return {
            "run_s": run_s,
            "rerun_s": rerun_s,
            "rounds": [run_s, rerun_s],
            "f1": f1,
        }

    def warm_up(self) -> None:
        super().warm_up()
        self.near_dup()

    def near_dup(self) -> None:
        """Exact, MinHash-LSH and SimHash near-duplicate detection over the
        pages, each call in its span; the pair counts must not change
        between passes."""
        pages = self.pages.select("url", "text")
        with self.span("dedup.exact_duplicate_groups"):
            exact = D.exact_duplicate_groups(pages, "url").select("ids").collect()
        with self.span("dedup.minhash_lsh_pairs"):
            lookup = D.text_lookup(pages, "url", "text")
            mh = D.minhash_lsh_pairs(
                pages, "url", jaccard_threshold=0.7, verify_lookup=lookup
            )
            mh = {(r["id1"], r["id2"]) for r in mh.select("id1", "id2").collect()}
        with self.span("dedup.simhash_pairs"):
            sh = D.simhash_pairs(pages, "url", max_hamming=6, bands=8, min_shared=2)
            sh = {(r["id1"], r["id2"]) for r in sh.select("id1", "id2").collect()}
        counts = (len(exact), len(mh), len(sh))
        found = pair_set(r["ids"] for r in exact) | mh | sh
        f1 = pairwise_f1(found, self.truth)
        self.ledger.check(
            f1 >= F1_FLOOR["near_dup"] and self.same_as_first("near_dup", counts),
            f"near_dup: f1={f1:.4f} or pair counts {counts} changed",
        )
        self.sizes.update(
            truth_pairs=len(self.truth),
            exact_groups=counts[0],
            minhash_pairs=counts[1],
            simhash_pairs=counts[2],
        )
        if self.tracer is not None:
            self.counters["minhash_recall"] = len(mh & self.truth) / len(self.truth)
            self.counters["simhash_recall"] = len(sh & self.truth) / len(self.truth)
        lookup.destroy()
        release_session_storage(self.spark)

    def _count(self, pipe, out) -> None:
        """Counters of the traced pass; their jobs run outside every span."""
        m = pipe.metrics
        cands = m["candidate_pairs"]["rows"]
        scored_s = sum(
            s["end"] - s["start"]
            for s in self.tracer.spans
            if s["name"] == "pipeline.scored_pairs"
        )
        edges = out["scored_pairs"].where(F.col("score") >= THRESHOLD).count()
        out_bytes = 0
        for s in STAGES:
            with open(os.path.join(pipe.cfg.workdir, s, pipe.MANIFEST)) as fh:
                out_bytes += sum(f["bytes"] for f in json.load(fh)["files"])
        self.counters.update(
            {
                "pipeline.candidate_pairs.rows": cands,
                "pipeline.scored_pairs.pairs_per_s": cands / scored_s,
                "blocking.match_ratio": edges / cands,
                "blocking.dropped_keys": m["blocks_dropped"]["dropped_keys"],
                "pipeline.cluster_assignments.rows": m["cluster_assignments"]["rows"],
                "pipeline.out_mb": out_bytes / 1e6,
            }
        )


class AlSession(Workload):
    """The reference's labeling loop: prepare_training, seeded labels and a
    first train, uncertain_pairs(k=1) rounds answered by an oracle, a
    retrain on the grown label set, then partition. A round is one
    uncertain_pairs call and its collect. A cold pass is a session of one
    round."""

    name = "al_session"
    FIELDS = [
        FieldSpec("Name 1"),
        FieldSpec("City"),
        FieldSpec("Street"),
        FieldSpec("Postal Code"),
    ]

    def __init__(self, *a):
        super().__init__(*a)
        cust = make_kna_customers(n_base=self.size["n_base"], seed=self.seed)
        self.records = self.spark.createDataFrame(cust).withColumn(
            "record_id", F.col("Customer")
        )
        ids = sorted(cust["Customer"])
        groups: dict[int, list[str]] = {}
        for c in ids:
            groups.setdefault(self.entity(c), []).append(c)
        self.truth = pair_set(groups.values())
        # seeded labels, enough of each class that train() runs at once
        rng = random.Random(self.seed)
        matches = rng.sample(sorted(self.truth), self.size["seed_labels"])
        distinct: set[tuple[str, str]] = set()
        while len(distinct) < self.size["seed_labels"]:
            a, b = sorted(rng.sample(ids, 2))
            if self.entity(a) != self.entity(b):
                distinct.add((a, b))
        self.seed_labels = (matches, sorted(distinct))
        self.sizes = {"customers": len(cust), "rounds": self.size["rounds"]}

    @staticmethod
    def entity(customer: str) -> int:
        """Fixture truth: customer 90000+i duplicates 10000+i."""
        c = int(customer)
        return c - 80000 if c >= 90000 else c

    def _pass(self, cold: bool) -> dict:
        n_rounds = 1 if cold else self.size["rounds"]
        d = Deduper(
            self.FIELDS, id_col="record_id", seed=self.seed, max_training_pairs=n_rounds
        )
        rounds = []
        t0 = time.perf_counter()
        with self.span("api.prepare_training"):
            d.prepare_training(self.records)
        match, distinct = self.seed_labels
        d.mark_pairs(match=match, distinct=distinct)
        with self.span("api.train"):
            d.train()
        for r in range(n_rounds):
            t = time.perf_counter()
            with self.span("api.uncertain_pairs"):
                got = d.uncertain_pairs(k=1).collect()
            rounds.append(time.perf_counter() - t)
            if r == 0:
                first_s = time.perf_counter() - t0
            self.ledger.check(len(got) == 1, f"al_session round {r}: {len(got)} pairs")
            pairs = [(p["id1"], p["id2"]) for p in got]
            d.mark_pairs(
                match=[p for p in pairs if self.entity(p[0]) == self.entity(p[1])],
                distinct=[p for p in pairs if self.entity(p[0]) != self.entity(p[1])],
            )
        # the closing refit and the clustering it feeds: what the labeler
        # waits for after the last answer
        t = time.perf_counter()
        with self.span("api.train"):
            d.train()
        with self.span("api.partition"):
            rows = d.partition(self.records, threshold=THRESHOLD)
            rows = rows.select("records").collect()
        run_s = time.perf_counter() - t0
        finish_s = time.perf_counter() - t
        groups = [[m["record_id"] for m in r["records"]] for r in rows]
        f1 = pairwise_f1(pair_set(groups), self.truth)
        self.ledger.check(
            (cold or f1 >= F1_FLOOR[self.name])
            and self.same_as_first(f"run-{n_rounds}", membership_digest(groups)),
            f"al_session partition: f1={f1:.4f} or cluster membership changed",
        )
        # the pool is not exposed by the API; read once for the size record
        self.sizes["pool_pairs"] = d._cand_pairs.count()
        if self.tracer is not None:
            self.counters["api.uncertain_pairs.pool_pairs"] = self.sizes["pool_pairs"]
        d.close()
        release_session_storage(self.spark)
        return {
            "first_s": first_s,
            "run_s": run_s,
            "rerun_s": finish_s,
            # the first round is cold; it counts in first_s instead
            "rounds": rounds[1:],
            "f1": f1,
        }

    def measure(self, seconds: float) -> dict:
        """Labeling sessions until ``seconds`` have passed (at least one).
        ``cold_run_s`` is the first session's wait for its first question:
        prepare_training, the seeded train and the first round."""
        sessions = []
        deadline = time.perf_counter() + seconds
        while not sessions or time.perf_counter() < deadline:
            sessions.append(self.one_pass())
        return {
            "cold_run_s": sessions[0]["first_s"],
            "run_s": statistics.median(p["run_s"] for p in sessions),
            "rerun_s": statistics.median(p["rerun_s"] for p in sessions),
            "rounds": [r for p in sessions for r in p["rounds"]],
            "f1": statistics.median(p["f1"] for p in sessions),
            "passes": len(sessions),
        }


WORKLOADS = {w.name: w for w in (ErBatch, AlSession)}
