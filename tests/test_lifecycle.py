"""Cache/broadcast lifecycle: a query-suite sweep must not accumulate
executor storage (VERDICT r2 item 6)."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JError

from dedupe_spark import lifecycle

SF = "/root/testdata/sf0.001"


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_sweep_releases_all_storage(spark):
    """The heaviest cache users (minhash, simhash, embedding LSH, flagship)
    leave zero persistent RDDs and zero tracked objects once the registry's
    release-at-entry plus a final release have run."""
    from dedupe_spark.queries import QUERIES

    for name in ("minhash_pairs", "simhash_pairs", "embedding_lsh_pairs", "er_clusters"):
        df = QUERIES[name](spark, SF)
        df.count()  # consume fully before the next query (driver contract)
    stats = lifecycle.release_session_storage(spark)
    assert stats["tracked_released"] >= 1
    assert lifecycle.tracked_count() == 0
    assert _persistent_rdd_count(spark) == 0


def test_release_at_entry_frees_previous_query(spark):
    """Running query N+1 releases query N's tracked caches (the registry
    wrapper), so tracked objects never exceed one query's worth."""
    from dedupe_spark.queries import QUERIES

    QUERIES["simhash_pairs"](spark, SF).count()
    assert lifecycle.tracked_count() >= 1
    QUERIES["per_source_counts"](spark, SF).count()
    # the cheap query tracked nothing, and released simhash's cache
    assert lifecycle.tracked_count() == 0
    lifecycle.release_session_storage(spark)


def test_deduper_close_destroys_lookup(spark, monkeypatch):
    """Every broadcast lookup the Deduper builds is destroyed, re-prepare
    releases the old tables and pool, and close() releases the cached
    tables and the driver-side pool; a second close() is a no-op."""
    from pyspark import StorageLevel

    from dedupe_spark.api import Deduper
    from dedupe_spark.functions.features import FieldSpec
    from dedupe_spark.operators.scoring import RecordLookup

    built, destroyed = [], []
    real_build, real_destroy = RecordLookup.build, RecordLookup.destroy

    def build(*a, **kw):
        built.append(real_build(*a, **kw))
        return built[-1]

    def destroy(self):
        destroyed.append(self)
        real_destroy(self)

    monkeypatch.setattr(RecordLookup, "build", staticmethod(build))
    monkeypatch.setattr(RecordLookup, "destroy", destroy)

    df = spark.createDataFrame(
        [("1", "alice smith"), ("2", "alice smyth"), ("3", "bob jones")],
        "record_id string, name string",
    )
    d = Deduper([FieldSpec("name")], max_training_pairs=4)
    d.prepare_training(df)
    d.uncertain_pairs(k=1)
    old = (d._records, d._cand_pairs)
    # re-prepare must not leak the old cached tables, pool or lookup
    d.prepare_training(df)
    assert d._pool is None
    d.uncertain_pairs(k=1)
    assert d._pool is not None
    cached = (d._records, d._cand_pairs)
    d.close()
    d.close()
    assert d._records is None and d._cand_pairs is None and d._pool is None
    for frame in old + cached:
        assert frame.storageLevel == StorageLevel.NONE
    assert len(built) == 2 and [id(x) for x in destroyed] == [id(x) for x in built]
    lifecycle.release_session_storage(spark)


def test_track_none_passes_through():
    """track(None) returns None and tracks nothing, so owners can write
    ``lookup=track(try_build_lookup(...))`` whichever way the caps go."""
    before = lifecycle.tracked_count()
    assert lifecycle.track(None) is None
    assert lifecycle.tracked_count() == before


class _FakeBroadcast:
    def __init__(self, exc=None):
        self.exc = exc

    def destroy(self):
        if self.exc is not None:
            raise self.exc


def test_release_skips_py4j_errors(monkeypatch):
    """A destroy() that fails inside py4j (a destroyed broadcast, a
    released context) is skipped: the object leaves the tracked list, is
    not counted, and the objects after it are still released."""
    monkeypatch.setattr(lifecycle, "_TRACKED", [])
    lifecycle.track(_FakeBroadcast())
    lifecycle.track(_FakeBroadcast(Py4JError("broadcast already destroyed")))
    assert lifecycle.release_tracked() == 1
    assert lifecycle.tracked_count() == 0


def test_release_propagates_other_errors(monkeypatch):
    monkeypatch.setattr(lifecycle, "_TRACKED", [])
    lifecycle.track(_FakeBroadcast(ValueError("not a cleanup failure")))
    with pytest.raises(ValueError):
        lifecycle.release_tracked()
