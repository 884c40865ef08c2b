"""CDC ingest benchmark: one workload, one seed, one JSON result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tail_cow_text --seed 1 --seconds 10 --trace 0

The inputs are generated from ``--seed`` and written to parquet under
``perfbench/.work`` while the JVM starts; the program only reads those
files.  Set-up (table creation, the initial load, the first epoch and
the first reads) runs once, cold, and is ``setup_s``: a run cannot
afford to repeat it.  The timed loop then runs for ``--seconds``, and
the final table state, every lookup and every changes-feed read are
checked against an oracle.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on the
Spark event log, wraps each layer's public calls in spans during the
timed rounds, and prints the per-layer metrics, the tracer's own wall
per round among them.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 1 on
any correctness mismatch and 2 when the program is not in the working
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

_T0 = time.monotonic()


def _log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def end_to_end(w, setup_s: float, live_bytes: int, rows: int) -> dict:
    loop = w.loop
    return {
        "setup_s": (setup_s, "s"),
        "apply_events_per_s": (loop.events / sum(loop.epochs), "1/s"),
        "epoch_p50_s": (statistics.median(loop.epochs), "s"),
        "lookup_p50_s": (statistics.median(loop.lookups), "s"),
        "feed_p50_s": (statistics.median(loop.feeds), "s"),
        "write_bytes_per_event": (loop.bytes_added / loop.events, "bytes"),
        "table_bytes_per_row": (live_bytes / max(rows, 1), "bytes"),
    }


def per_layer(w, layers: dict) -> dict:
    from perfbench import tracing

    loop = w.loop
    reps = loop.reports
    events_in = sum(r.events_in for r in reps)
    winners = sum(r.conflated for r in reps)
    effective = sum(r.inserted + r.updated + r.deleted for r in reps)
    touched = sum(len(r.touched_buckets) for r in reps)
    rewritten = sum(len(r.rewritten_buckets) for r in reps)
    read = sum(loop.files_read)
    in_buckets = sum(loop.files_in_buckets)

    out = dict(layers)
    out.update(
        {
            "cdc.apply.conflate_ratio": (winners / events_in if events_in else 0.0, "ratio"),
            "cdc.apply.effective_ratio": (effective / winners if winners else 0.0, "ratio"),
            "cdc.apply.stale": (
                sum(r.stale for r in reps) / winners if winners else 0.0, "ratio"
            ),
            "lake.merge.rewrite_ratio": (rewritten / touched if touched else 0.0, "ratio"),
            "lake.table.files_live": (w.files_live, "count"),
            "lake.table.commit_meta_bytes": (loop.meta_bytes_per_commit, "bytes"),
            "lake.table.lookup_plan_s": (tracing.median0(loop.lookup_plan), "s"),
            "lake.table.lookup_exec_s": (tracing.median0(loop.lookup_exec), "s"),
            "lake.bloomidx.files_read": (tracing.median0(loop.files_read), "count"),
            "lake.bloomidx.files_in_buckets": (tracing.median0(loop.files_in_buckets), "count"),
            "lake.bloomidx.prune_ratio": (1 - read / in_buckets if in_buckets else 0.0, "ratio"),
            "lake.table.read_changes_s": (tracing.median0(loop.feeds), "s"),
            "streaming.stream_apply.trigger_overhead_s": (tracing.median0(loop.trigger_overhead), "s"),
            "bench.trace_overhead_s": (tracing.median0(loop.trace_overhead), "s"),
        }
    )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "realdeal_spark", "session.py")):
        _log(f"no realdeal_spark package under {root}: run from a checkout's root")
        return 2
    sys.path.insert(0, root)
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(root, "perfbench", ".work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    # Python workers import the program from the checkout; scratch files
    # (shuffle, spill, temp) stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)
    # no hsperfdata files under /tmp from the launcher or driver JVMs
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cores = min(len(os.sched_getaffinity(0)), 4)
    conf = {
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    from realdeal_spark.session import get_spark

    w = WORKLOADS[args.workload](work, args.seed, args.seconds, cores)
    # the inputs are written while the JVM starts; the program reads
    # them only once both are done
    with ThreadPoolExecutor(1) as pool:
        generated = pool.submit(w.generate)
        spark = get_spark(
            app_name=f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=conf
        )
    w.spark = spark
    tracer = None
    try:
        generated.result()
        spark.sparkContext.setLogLevel("ERROR")
        _log("inputs generated, spark started")
        if args.trace:
            tracer = tracing.Tracer(spark)
            tracer.install()
            w.tracer = tracer
        setup_s = w.setup()
        _log(f"set-up: {setup_s:.2f}s")
        w.run()
        if tracer is not None:
            tracer.uninstall()
        _log(
            f"timed loop: {len(w.loop.epochs)} epochs, {len(w.loop.lookups)} lookups, "
            f"{len(w.loop.feeds)} feed reads"
        )
        errors = list(w.loop.errors) + w.check()
        live_bytes, rows = w.table_stats()
        _log("checked")
    finally:
        _stop_spark(spark)
    _log("spark stopped")
    failed = w.loop.failed + (len(errors) - len(w.loop.errors))
    attempted = w.loop.attempted + 1  # the final-state check
    for e in errors:
        _log(f"MISMATCH {e}")

    if args.trace:
        layers = tracing.layer_metrics(
            tracer.spans, tracing.event_log_file(os.path.join(work, "eventlog"))
        )
        metrics = per_layer(w, layers)
    else:
        metrics = end_to_end(w, setup_s, live_bytes, rows)
    for k, (v, u) in metrics.items():
        _log(f"{k} = {v:.6g} {u}")
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
