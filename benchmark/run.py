"""The repo benchmark: one command, two workloads, every metric printed by
name with its unit.

    python3 benchmark/run.py --workload instance_link --seed 1 --seconds 1 --trace 0

One driver process at ``local[nproc]`` runs a closed loop with one client:
after set-up, iterations run back to back while fewer than ``--seconds``
have passed (at least one); ``--seconds 1`` times exactly the first
iteration in a fresh JVM. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones: set-up time, and the median
iteration time as a multiple of the reference job (reference.py) run at
the start of the same driver. With ``--trace 1`` Spark's event log is on
and the per-layer metrics of the first iteration are reported instead.
Everything the run writes goes under ``.bench_work/`` in the checkout and
is removed at exit.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3  # input generation is repeated; setup_s takes the median


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _start_spark(work: Path, trace: bool):
    from pboh_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # Python workers import the engine from the checkout, and every
    # scratch file of the JVM and the workers stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    # every JVM started from here: no /tmp/hsperfdata files, temp files in tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.hadoop.hadoop.tmp.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        cores=len(os.sched_getaffinity(0)), app_name="pboh_bench", extra_conf=conf
    )


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # a signal cut a JVM call short; the JVM is ended below
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _log(msg: str) -> None:
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _end_to_end(setup_s: float, reference_s: float, passed: list) -> dict:
    return {
        "setup_s": _metric(setup_s, "s"),
        "iteration_rel": _metric(
            statistics.median(it.seconds for it in passed) / reference_s, "x"
        ),
    }


LAYER_UNITS = {"self_s": "s", "driver_s": "s", "exec_s": "s", "tasks": "count",
               "shuffle_mb": "MB", "spill_mb": "MB", "py_mb": "MB"}


def _per_layer(tracer, log, figures: dict) -> dict:
    """Every per-layer metric; a layer or figure the workload does not
    have reads 0."""
    import spantrace
    import workloads

    layers = spantrace.layer_metrics(tracer.spans, log)
    out = {
        f"{layer}.{f}": _metric(layers[layer][f], unit)
        for layer in spantrace.LAYERS for f, unit in LAYER_UNITS.items()
    }
    wall = sum(s.end - s.start for s in tracer.spans if s.parent is None)
    unattributed = layers[spantrace.ROOT_LAYER]["self_s"]
    pairs_s = layers["pairs"]["self_s"]
    scored = figures.get("pairs.scored", 0)
    derived = {
        "pairs.per_s": (scored / pairs_s if pairs_s else 0.0, "1/s"),
        "cluster.jobs": (sum(
            1 for j in log.jobs.values() if j.span is not None and not j.rescan
            and tracer.spans[j.span].layer == "cluster"
        ), "count"),
        "checkpoint.rescan_s": (layers["checkpoint"]["rescan_s"], "s"),
        "checkpoint.stages_skipped": (
            tracer.counts["checkpoint.stages_skipped"], "count"),
        "trace.wall_s": (wall, "s"),
        "trace.unattributed_s": (unattributed, "s"),
        "trace.unattributed_share": (unattributed / wall if wall else 0.0, "ratio"),
    }
    for name, unit in workloads.FIGURES.items():
        out[name] = _metric(float(figures.get(name, 0.0)), unit)
    for name, (value, unit) in derived.items():
        out[name] = _metric(float(value), unit)
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "pboh_spark" / "__init__.py").is_file():
        print(f"no pboh_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import reference
    import workloads
    from spantrace import Tracer, read_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        reference_s = reference.run(spark, work / "reference")
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        gen = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.generate(rep)
            gen.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(gen)
        _log(f"session {session_s:.2f} s, reference job {reference_s:.2f} s, "
             f"input generation {gen}")

        tracer = Tracer(spark.sparkContext) if args.trace else None
        done = []
        start = time.perf_counter()
        while not done or time.perf_counter() - start < args.seconds:
            t = time.perf_counter()
            it = wl.iteration(len(done), tracer if not done else None)
            _log(f"iteration {len(done)}: {it.seconds:.2f} s timed, "
                 f"{time.perf_counter() - t:.2f} s with gates; calls "
                 + json.dumps({k: round(v, 2) for k, v in it.calls.items()}))
            for msg in it.failures:
                print(f"iteration {len(done)}: FAILED {msg}", file=sys.stderr)
            done.append(it)
        passed = [it for it in done if not it.failures]
        if args.trace and passed:
            figures = wl.figures(done[0])
        _stop_spark(spark)
        spark = None

        metrics = {}
        if args.trace and passed:
            (log_file,) = (work / "eventlog").iterdir()
            metrics = _per_layer(tracer, read_event_log(log_file), figures)
            metrics["trace.reference_s"] = _metric(reference_s, "s")
        elif passed:
            metrics = _end_to_end(setup_s, reference_s, passed)
        result = {
            "correct": len(passed) == len(done),
            "attempted": len(done),
            "failed": len(done) - len(passed),
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is using it
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
