"""Smoke test of the benchmark itself: tiny inputs, every workload measured
once with the tracer on, in one Spark session with the event log on.
Asserts that every end-to-end and per-layer metric is emitted with its
unit, that every output check passed, and that the Python UDF spans of
each workload saw Spark jobs and plausible Python-worker figures.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

TINY = {
    "er_batch": {"n_base": 80},
    "al_session": {"n_base": 60, "seed_labels": 4, "rounds": 3},
}
# spans of each workload that run a Python UDF
BUSY_SPANS = {
    "er_batch": ("pipeline.scored_pairs", "dedup.minhash_lsh_pairs"),
    "al_session": ("api.uncertain_pairs",),
}


def test_every_metric_emitted(tmp_path):
    run.configure_env(str(tmp_path))
    events = tmp_path / "events"
    events.mkdir()
    spark, setup_s = run.setup(run.event_log_conf(str(events)))
    import spans
    from workloads import WORKLOADS, Ledger

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert want_e2e == run.END_TO_END
    assert set(want_layer) == set(spans.per_layer_names())
    cores = len(os.sched_getaffinity(0))

    done = {}
    try:
        for name, size in TINY.items():
            ledger = Ledger()
            wl = WORKLOADS[name](spark, 1, str(tmp_path), ledger, size)
            wl.tracer = spans.Tracer(spark, name)
            wl.counters["trace.overhead_s"] = 0.0
            metrics, info = run.end_to_end(wl.measure(0), setup_s, run.peak_rss_mb())
            assert {k: v["unit"] for k, v in metrics.items()} == want_e2e
            assert all(v["value"] > 0 for v in metrics.values()), metrics
            assert ledger.failed == 0, ledger.errors
            done[name] = wl
    finally:
        run.stop_spark(spark)

    groups = spans.fold_event_log(str(events))
    for name, wl in done.items():
        layer = {k: v["value"] for k, v in run.per_layer(wl, groups).items()}
        assert {k: v["unit"] for k, v in run.per_layer(wl, groups).items()} == want_layer
        for busy in BUSY_SPANS[name]:
            assert layer[f"{busy}.jobs"] > 0, busy
            # the Python-worker accumulators were found and scaled to
            # seconds and megabytes: nonzero, and no more worker time than
            # the span's wall time on every core
            for field in ("py_boot_s", "py_total_s", "py_mb"):
                assert layer[f"{busy}.{field}"] > 0, (busy, field)
            assert layer[f"{busy}.py_boot_s"] <= layer[f"{busy}.py_total_s"], busy
            assert layer[f"{busy}.py_total_s"] <= layer[f"{busy}.wall_s"] * cores, busy
