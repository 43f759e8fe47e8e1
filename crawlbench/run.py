"""Crawl-engine benchmark.

    python3 crawlbench/run.py --workload {frontier_bulk,crawl_dirty} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One run:

1. starts Spark (``local[usable cores]``) while it builds the
   workload's input and oracle from ``--seed``, then commits what the
   workload needs on disk (set-up, reported as ``setup_s``);
2. runs timed passes, whole ones, until ``--seconds`` of pass time is
   measured (so ``--seconds 1`` means one pass), checking each against
   the oracle outside the timed region; after each pass it frees every
   block the pass persisted and requests a JVM GC;
3. with ``--trace 1``, runs one pass only, with spans around each
   layer call (``trace.py``), and reports per-layer metrics instead of
   end-to-end ones.

There is no warm-up pass: on this engine a pass costs 30-60 s, almost
all of it per-job and per-round overhead rather than per-URL work, and
a warm-up pass costs as much as a timed one. The timed pass is the
JVM's first, and its cold-start cost is part of what is measured.

Standard output ends with a ``{"record": ...}`` line (host facts, code
identity, every pass) and then the result line
``{"correct", "attempted", "failed", "metrics"}``. Every file the run
writes lives under ``crawlbench/_work`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from crawlbench import host  # noqa: E402  (stdlib only; the engine loads later)

# JVM heap unless SPARK_DRIVER_MEMORY is set: the inputs need far
# less, and the host's memory is shared
HEAP = "2g"
WORKLOAD_NAMES = ["frontier_bulk", "crawl_dirty"]


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def confine(work: Path) -> None:
    """Point every scratch directory of Spark, the JVMs and the Python
    workers into ``work``, and let the workers import the engine."""
    for d in ("spark-local", "tmp", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata files under /tmp, for the launcher JVM as well
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", HEAP)
    tempfile.tempdir = None


def start_spark(work: Path, trace: bool):
    """Spark through the engine's session factory."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                # Spark 4 compresses event logs with zstd by default
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from python_crawler_spark.session import get_spark

    return get_spark(
        app_name="crawlbench",
        parallelism=len(os.sched_getaffinity(0)),
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    import subprocess

    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def free_pass(spark, keep: set[int]) -> None:
    """Unpersist every RDD persisted since ``keep`` was taken, drop
    cached tables and ask the JVM for a GC."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        if int(rid) not in keep:
            jmap.get(rid).unpersist(True)
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def one_pass(wl, spark, mon, check: bool, tracer=None) -> dict:
    """Run, measure, check and clean up one pass."""
    keep = persistent_ids(spark)
    out = err = None
    cpu0 = mon.window()
    if tracer is not None:
        tracer.install()
    try:
        out = wl.run_pass()
    except Exception:
        err = traceback.format_exc()
    finally:
        if tracer is not None:
            tracer.uninstall()
    cpu, peak = mon.close_window(cpu0)
    t_check = time.time()
    if out is not None and check:
        try:
            err = wl.check(out)
        except Exception:
            err = traceback.format_exc()
    rec = {"error": err, "cpu_s": cpu, "peak_rss_mb": peak[0] / 2**20,
           "peak_jvm_mb": peak[1] / 2**20, "peak_workers_mb": peak[2] / 2**20,
           "check_s": time.time() - t_check}
    if out is not None:
        rec.update(
            wall_s=out.wall_s, urls=out.urls, rounds=out.rounds, resume_s=out.resume_s,
            snapshot_bytes=out.snapshot_bytes, window=list(out.window),
        )
    if err:
        print(f"pass failed: {err}", file=sys.stderr)
    t_free = time.time()
    wl.reset()
    del out
    free_pass(spark, keep)
    rec["free_s"] = time.time() - t_free
    return rec


def end_to_end(ok: list[dict], setup_s: float) -> dict:
    def med(f) -> float:
        return statistics.median(f(p) for p in ok)

    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "urls_per_s": {"value": med(lambda p: p["urls"] / p["wall_s"]), "unit": "1/s"},
        "cpu_s": {"value": med(lambda p: p["cpu_s"]), "unit": "s"},
        "peak_rss_mb": {"value": med(lambda p: p["peak_rss_mb"]), "unit": "MB"},
        "snapshot_bytes_per_url": {
            "value": med(lambda p: p["snapshot_bytes"] / p["urls"]), "unit": "B",
        },
    }


def per_layer(tracer, traced: dict, log_dir: Path) -> dict:
    from crawlbench import trace

    jobs, stages = trace.parse_events(trace.read_event_log(log_dir))
    return trace.layer_metrics(tracer, tuple(traced["window"]), jobs, stages, traced["rounds"])


def measure(args, wl, spark, mon, t_start: float, work: Path) -> tuple[dict, dict]:
    from crawlbench import trace

    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    record["setup"] = wl.setup(spark)
    setup_s = time.time() - t_start
    tracer = trace.Tracer(spark) if args.trace else None
    passes: list[dict] = []
    while True:
        passes.append(one_pass(wl, spark, mon, check=True, tracer=tracer))
        if tracer or passes[-1]["error"] or sum(p["wall_s"] for p in passes) >= args.seconds:
            break
    record.update(passes=passes, setup_s=setup_s)
    ok = [p for p in passes if not p["error"]]
    if not ok:
        metrics = {}
    elif tracer:
        record["missing_spans"] = tracer.missing
        metrics = per_layer(tracer, ok[0], work / "eventlog")
    else:
        metrics = end_to_end(ok, setup_s)
    result = {
        "correct": len(ok) == len(passes),
        "attempted": len(passes),
        "failed": len(passes) - len(ok),
        "metrics": metrics,
    }
    return record, result


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    t_start = host.process_start_epoch()
    if not (ROOT / "python_crawler_spark").is_dir():
        print(f"no engine sources under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / "crawlbench" / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # clean up on TERM too
    confine(work)
    mon = host.TreeMonitor()
    spark = None
    # Spark starts on a thread while the input and oracle are built
    pool = ThreadPoolExecutor(1)
    starting = pool.submit(start_spark, work, bool(args.trace))
    try:
        from crawlbench import workloads

        wl = workloads.WORKLOADS[args.workload](args.seed, work)
        prepared = wl.prepare()
        spark = starting.result()
        record, result = measure(args, wl, spark, mon, t_start, work)
        record["setup"].update(prepared)
        record["host"] = host.facts(spark, ROOT)
    finally:
        pool.shutdown()
        if spark is None and starting.exception() is None:
            spark = starting.result()
        t_stop = time.time()
        if spark is not None:
            stop_spark(spark)
        mon.stop()
        killed = mon.reap()
        shutil.rmtree(work, ignore_errors=True)
        print(f"shutdown {time.time() - t_stop:.1f}s, run {time.time() - t_start:.1f}s",
              file=sys.stderr)
    record["killed_pids"] = killed
    record["processes_seen"] = len(mon.seen)
    if not result["metrics"]:
        print("no pass completed", file=sys.stderr)
        print(json.dumps({"record": record}))
        return 1
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
