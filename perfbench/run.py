#!/usr/bin/env python3
"""Repository benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload {ingest,corpus_curation} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The benchmark generates its inputs from
``--seed`` under ``.perfbench/``, starts the engine with
``session.get_session`` on ``local[<cores>]``, sets up (the session plus
an untimed warm-up pass), measures for at least ``--seconds``, checks the
outputs and prints one JSON object as the last stdout line. It only
calls the engine's public functions and reads Spark's own counters.

Workloads (see ``ingest.py`` and ``corpus.py``):

  ingest           open loop: a feeder process drops tick and job files
                   on a schedule while one loop polls every 10 s, each
                   poll a ``pipelines.run_wss_stream`` and then a
                   ``pipelines.run_rest_stream`` drain
  corpus_curation  closed loop, one client: dedup and similarity queries
                   from the registry, then
                   ``pipelines.incremental_quality_refresh``

End-to-end metrics (``--trace 0``), reported by every workload:

  setup_s        get_session through the warm-up pass
  peak_rss_mb    peak summed memory (PSS) of this process, the JVM and
                 the Python workers, from set-up to the end of the
                 measured window (the output checks come after it)
  latency_p50_s  latency of one unit of work: a tick from its scheduled
  latency_p90_s  stamp to its publish (ingest); one corpus operation
                 (corpus_curation)
  round_s        median round trip: a job file from its scheduled drop
                 to the return of the drain that wrote its final state
                 (ingest); one full curation pass (corpus_curation)

``--trace 1`` records spans around every call into the engine and
Spark's stage counters per call, prints the self time per layer, a
per-call table, the tracing overhead against the last untraced run of
the workload, writes the spans to ``.perfbench/<workload>/trace.json``
and reports the per-layer metrics (``base.LAYER_METRICS``).

Host load (a fixed pure-Python canary and the load average, before and
after the run, and the share of CPU time stolen by other guests during
it) is printed on the ``diag`` line: it tells a loaded shared host from
a regression and is not a metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "corpus_curation")


def _pin_environment(work: str) -> None:
    """Pin the engine to this machine and keep every file it writes
    inside the checkout. Must run before pyspark starts the JVM."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # With the engine's 8g default, G1 grows the heap by a different
    # amount in every run and peak memory spreads by about a fifth. A 2g
    # cap keeps the figure steady and stays about twice what G1 commits
    # for either workload, so the cap itself does not set the figure
    # (the ``jvm_heap_mb`` diag line shows committed and live heap).
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine (pandas UDFs, foreachPartition
    # sinks) from the checkout, not from an installed package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the spark-submit launcher included: temp files in the
    # checkout and no hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop_engine(spark, sampler) -> None:
    """Stop Spark, the JVM and every worker it started, and wait for
    each process to end."""
    from pyspark import SparkContext

    import spans as tr

    pids = sampler.seen | tr.descendants(os.getpid())
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    # Python workers outlive the JVM by a moment; wait for them, then
    # kill any that hang (checking the command line first: a pid may
    # have been reused)
    deadline = time.time() + 15
    while pids and time.time() < deadline:
        pids = {p for p in pids if _engine_process(p)}
        if pids:
            time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _engine_process(pid: int) -> bool:
    """True while ``pid`` is a live (not zombie) JVM or PySpark process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            if fh.read().rsplit(b")", 1)[1].split()[0] == b"Z":
                return False
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return b"java" in cmd or b"pyspark" in cmd


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_environment(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    # fail fast, before any output, unless the engine is the checkout's
    import stockanalyses_downloader_spark as engine
    from stockanalyses_downloader_spark.session import get_session
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"engine imported from {engine.__file__}, not {ROOT}")

    import spans as tr
    if args.workload == "ingest":
        from ingest import Ingest as Workload
    else:
        from corpus import CorpusCuration as Workload

    diag = {"host": tr.load_canary(), "cores": os.environ["SPARK_GRAFT_CPUS"]}
    ticks = tr.cpu_ticks()
    tracer = tr.Tracer(bool(args.trace))
    sampler = tr.RssSampler()
    wl = Workload(work, args.seed, tracer, sampler)
    wl.prepare()

    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("get_session", "session", "setup"):
            spark = get_session("perfbench", extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
        wl.layer["session.start_s"] = time.perf_counter() - t0
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        wl.measure(spark, args.seconds)
        # the output checks run in this process: keep their memory out
        sampler.stop()
        diag["jvm_heap_mb"] = tr.jvm_heap_mb(spark)
        wl.check(spark)
    finally:
        sampler.stop()
        wl.close()
        if spark is not None:
            _stop_engine(spark, sampler)

    diag["host_after"] = tr.load_canary()
    diag["host_steal"] = tr.steal_share(ticks, tr.cpu_ticks())
    diag["peak_memory_mb"] = sampler.peak_split_mb
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (sampler.peak_bytes / 2**20, "MB"),
        "latency_p50_s": (tr.quantile(wl.latencies, 0.5), "s"),
        "latency_p90_s": (tr.quantile(wl.latencies, 0.9), "s"),
        "round_s": (statistics.median(wl.round_trips), "s"),
    }
    print("diag " + json.dumps({**diag, **wl.diag}))
    print("end_to_end " + json.dumps({k: round(v, 6) for k, (v, _) in e2e.items()}))
    # the untraced figures of the last run of this workload, kept beside
    # the work directory so a traced run can report its own overhead
    last_untraced = os.path.join(ROOT, ".perfbench", f"{args.workload}-untraced.json")
    if args.trace:
        metrics = wl.layer_metrics()
        _print_trace_report(wl, tracer, metrics)
        _print_overhead(e2e, last_untraced)
        tracer.dump(os.path.join(work, "trace.json"))
    else:
        metrics = e2e
        with open(last_untraced, "w", encoding="utf-8") as fh:
            json.dump({k: v for k, (v, _) in e2e.items()}, fh)
    result = {
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _print_trace_report(wl, tracer, metrics) -> None:
    print("self time per layer (s, whole run incl. setup):")
    for layer, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<12} {s:10.3f}")
    print("per call (measured window, mean per call):")
    for name, row in sorted(wl.per_call().items()):
        print(f"  {name:<40} " + " ".join(
            f"{k}={v:.4g}" for k, v in row.items()))
    print("per layer: " + json.dumps(
        {k: round(v, 6) for k, (v, _) in metrics.items()}))


def _print_overhead(e2e, last_untraced: str) -> None:
    try:
        with open(last_untraced, encoding="utf-8") as fh:
            base = json.load(fh)
    except FileNotFoundError:
        print("tracing overhead: no untraced run of this workload to compare")
        return
    print("tracing overhead vs the last untraced run (traced / untraced - 1):")
    for k, (v, _) in e2e.items():
        if base.get(k):
            print(f"  {k:<14} {v:10.4f} vs {base[k]:10.4f}  {v / base[k] - 1:+.1%}")


if __name__ == "__main__":
    sys.exit(main())
