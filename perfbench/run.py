"""dedupe_spark benchmark: one workload per run, outputs checked.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) on ``local[<available cores>]`` and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are
the end-to-end ones, measured untraced; with ``--trace 1`` they are the
per-layer ones, from one traced pass and Spark's event log. Without
``--workload`` it runs every workload in turn, each in a fresh process.

The measuring process runs in a session of its own; when it has ended,
every process still in that session (the JVM, Python workers) is stopped
and waited for, so nothing outlives the command. See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# scratch space (temp dirs, traces) stays inside the checkout
WORK = os.path.join(ROOT, ".perfbench")

# set in the measuring process started by supervise()
INNER = "PERFBENCH_INNER"
PR_SET_PDEATHSIG = 1
ALL_WORKLOADS = ("er_batch", "al_session")
END_TO_END = {
    "setup_s": "s",
    "cold_run_s": "s",
    "run_s": "s",
    "rerun_s": "s",
    "round_p50_s": "s",
    "round_tail_s": "s",
    "f1": "ratio",
    "peak_rss_mb": "MB",
}


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(tmp: str) -> None:
    """Size parallelism to the available cores, make the checkout importable
    by the Python workers, and keep Spark's scratch files under ``tmp``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Spark's own default heap. The engine's 24g default grew this process
    # past 7 GB RSS on a 15 GB box; with 4g, peak RSS varied by a quarter
    # between runs as the JVM grew its heap at different moments. An
    # explicit SPARK_DRIVER_MEM still wins.
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *path])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}"])
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def setup(extra_conf: dict | None = None):
    """Imports, session, first trivial job. Returns (spark, seconds since
    process start)."""
    import workloads  # noqa: F401  (imports the engine modules it drives)
    from dedupe_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=extra_conf)
    spark.range(1).count()
    return spark, process_age_s()


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def session_pids(sid: int) -> list[int]:
    """Processes of session ``sid``, zombies included; the session leader
    ``sid`` only while it runs (its parent reaps it)."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state, ppid, pgrp, session, ...
        if int(fields[3]) == sid and not (int(pid) == sid and fields[0] == "Z"):
            pids.append(int(pid))
    return pids


def end_session(sid: int, grace_s: float = 20.0) -> None:
    """Stop every process left in session ``sid`` (SIGTERM, then SIGKILL
    after ``grace_s``) and return once none is left, orphaned zombies
    reaped by init included, or ``grace_s`` after the SIGKILL."""
    deadline = time.monotonic() + grace_s
    while (pids := session_pids(sid)) and time.monotonic() < deadline + grace_s:
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def exit_on_sigterm() -> None:
    """Turn SIGTERM into an exit, so ``finally`` blocks still run."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))


def supervise(argv: list[str]) -> int:
    """Run ``run.py argv`` in a session of its own and, once it has ended
    (or this process is told to stop), stop what it left behind."""
    exit_on_sigterm()
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env={**os.environ, INNER: "1"},
        start_new_session=True,
    )
    try:
        return child.wait()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        if child.poll() is None:
            # stopped early: let it stop its JVM and remove its files first
            child.terminate()
            try:
                child.wait(30)
            except subprocess.TimeoutExpired:
                pass
        end_session(child.pid)
        child.wait()


def effective_conf(spark) -> dict:
    conf = spark.sparkContext.getConf()
    keys = (
        "spark.master",
        "spark.driver.memory",
        "spark.python.worker.reuse",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.shuffle.partitions",
    )
    return {k: conf.get(k) for k in keys}


def peak_rss_mb() -> float:
    """High-water RSS of this process plus the JVMs it launched."""
    me = str(os.getpid())
    pids = [me]
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read().rsplit(")", 1)
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm == "java" and stat[1].split()[1] == me:
            pids.append(pid)
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            kb += next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    return kb / 1024


def tail(samples: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples above it, and that
    percentile; the maximum (p100) when there are 20 samples or fewer."""
    ordered = sorted(samples)
    n = len(ordered)
    if n <= 20:
        return ordered[-1], 100
    return ordered[n - 11], 100 * (n - 10) // n


def end_to_end(fig: dict, setup_s: float, rss: float):
    """The end-to-end metrics of one run, from a workload's ``measure``
    figures, and what they were taken from."""
    rounds = fig["rounds"]
    tail_s, pct = tail(rounds)
    values = {
        "setup_s": setup_s,
        "cold_run_s": fig["cold_run_s"],
        "run_s": fig["run_s"],
        "rerun_s": fig["rerun_s"],
        "round_p50_s": statistics.median(rounds),
        "round_tail_s": tail_s,
        "f1": fig["f1"],
        "peak_rss_mb": rss,
    }
    info = {
        "passes": fig["passes"],
        "rounds": len(rounds),
        "round_tail_percentile": pct,
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}, info


def traced(wl, tracer) -> None:
    """Warm-up, one untraced pass, then one pass with ``tracer`` on."""
    wl.warm_up()
    plain = wl.one_pass()
    wl.tracer = tracer
    with_trace = wl.one_pass()
    wl.counters["trace.overhead_s"] = with_trace["run_s"] - plain["run_s"]


def per_layer(wl, groups: dict) -> dict:
    """The per-layer metrics of ``wl``'s traced pass."""
    values = spans.layer_metrics(wl.tracer.spans, groups) | wl.counters
    return {
        k: {"value": values[k], "unit": spans.unit_of(k)}
        for k in spans.per_layer_names()
    }


def event_log_conf(events: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all", help="a workload, or all of them")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.environ.get(INNER):
        # one fresh process per workload: set-up and the cold pass need one
        flags = ["--seed", str(args.seed), "--seconds", str(args.seconds)]
        flags += ["--trace", str(args.trace)]
        names = ALL_WORKLOADS if args.workload == "all" else [args.workload]
        return max(supervise(["--workload", name, *flags]) for name in names)

    # a killed supervisor can no longer stop this session: stop with it
    exit_on_sigterm()
    ctypes.CDLL(None).prctl(PR_SET_PDEATHSIG, signal.SIGTERM)
    os.makedirs(WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=WORK)
    events = os.path.join(tmp, "events")
    spark = None
    try:
        configure_env(tmp)
        if args.trace:
            os.makedirs(events)
        spark, setup_s = setup(event_log_conf(events) if args.trace else None)
        from workloads import SIZES, WORKLOADS, Ledger

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}: {sorted(WORKLOADS)}")
        ledger = Ledger()
        wl = WORKLOADS[args.workload](
            spark, args.seed, tmp, ledger, SIZES[args.workload]
        )
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "conf": effective_conf(spark),
        }
        if args.trace:
            run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
            traced(wl, spans.Tracer(spark, run_id))
            info["peak_rss_mb"] = peak_rss_mb()
            # stopping the session flushes the event log
            stop_spark(spark)
            spark = None
            metrics = per_layer(wl, spans.fold_event_log(events))
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            wl.tracer.write(os.path.join(WORK, "traces", f"{run_id}.json"))
        else:
            fig = wl.measure(args.seconds)
            rss = peak_rss_mb()
            stop_spark(spark)
            spark = None
            metrics, more = end_to_end(fig, setup_s, rss)
            info.update(more)
        info.update(
            sizes=wl.sizes,
            errors=ledger.errors[:10],
            fail_frac=ledger.failed / max(ledger.attempted, 1),
        )
        print("perfbench-info " + json.dumps(info, sort_keys=True))
        for k, v in metrics.items():
            print(f"{k} {v['value']:.6g} {v['unit']}")
        result = {
            "correct": ledger.failed == 0,
            "attempted": ledger.attempted,
            "failed": ledger.failed,
            "metrics": metrics,
        }
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        if spark is not None:
            # after an error or a signal the session may be unusable; the
            # JVM is stopped either way
            try:
                stop_spark(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
