#!/usr/bin/env python3
"""crawlspark benchmark: one workload per run, outputs checked.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 1 --trace 0

Run it from the repository root. It builds the workload's inputs from
``--seed``, starts one local Spark process sized to the machine
(``local[N]``, N = usable cores), then repeats the workload's operation
(a whole crawl, or one pass over the corpus operators) from this single
driver thread, each after the previous one finished, until ``--seconds``
have passed; a run always completes at least one operation, and the
first one runs in a fresh JVM. Every output is checked against its
oracle. See ``perfbench/METRICS.md``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics (spans, Spark event log, replayed layers) with
``--trace 1``. The lines before it print the same numbers as a table.
Everything the run writes goes under ``.perfbench_work/`` in the current
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback


def _process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return max(0.0, up - start / os.sysconf("SC_CLK_TCK"))


T_START = time.perf_counter() - _process_age()

SETUP_REPS = 3  # input builds per run; setup_s takes their median
HEAP = "3g"


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["crawl", "corpus"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _prepare_env(root: str, work: str) -> None:
    """Point every temporary and Spark directory into ``work`` and make
    the program importable by Spark's Python workers. Engine debug knobs
    from the caller's environment are dropped so runs stay comparable."""
    for k in [k for k in os.environ if k.startswith("CRAWLSPARK_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["CRAWLSPARK_EXTRA_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def _session(cores: int, work: str, trace: bool):
    from crawlspark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        cores=cores, shuffle_partitions=cores, app="perfbench",
        driver_mem=HEAP, extra_conf=conf,
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from perfbench.rss import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "crawlspark", "engine.py")):
        print("perfbench: run from the repository root (crawlspark/ not "
              "found)", file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench_work")
    work = os.path.join(state, f"run-{os.getpid()}")
    _prepare_env(root, work)
    sys.path.insert(0, root)
    try:
        return _run(args, state, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _per_layer_units(root: str) -> dict:
    """Per-layer metric -> unit, as ``BENCHMARK.json`` lists them; every
    traced run reports all of them, 0 for layers its workload does not
    run."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _run(args, state: str, work: str) -> int:
    from perfbench import corpus, crawl
    from perfbench.rss import PeakRss

    mod = {"crawl": crawl, "corpus": corpus}[args.workload]
    cores = len(os.sched_getaffinity(0))
    data = os.path.join(work, "input")
    cache = os.path.join(state, "oracle")
    input_s = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        mod.build(args.seed, data, cores)
        input_s.append(time.perf_counter() - t)
    spark = _session(cores, work, bool(args.trace))
    try:
        wl = mod.Workload(spark, data, work, cores)
        # process start to ready-to-time, counting one input build
        setup_s = (time.perf_counter() - T_START - sum(input_s)
                   + statistics.median(input_s))
        with PeakRss() as rss:
            outs, errors, spans = _measure(wl, args)
        layers = (
            _replayed_layers(args.workload, spark, wl, outs, spans)
            if args.trace and outs else {}
        )
    finally:
        _stop(spark)
    # the expected outputs are computed (or read from the cache) only
    # now, so no timed section or set-up shares the cores with them
    want = mod.expected(args.seed, data, cache)

    failed = errors * mod.attempts_per_op
    for out in outs:
        bad = wl.failures(out, want)
        if bad:
            print(f"perfbench: output mismatch: {bad}", file=sys.stderr)
        failed += len(bad)
    attempted = (len(outs) + errors) * mod.attempts_per_op
    rate = [wl.work_done(o) / o.wall_s for o in outs] or [0.0]
    for i, o in enumerate(outs):
        print(f"operation {i}: {wl.work_done(o):g} {mod.work_unit} in "
              f"{o.wall_s:.3f} s")
    if args.trace:
        units = _per_layer_units(os.getcwd())
        rows = _per_layer(args.workload, wl, work, outs, input_s, layers,
                          units)
        print("tracing overhead: the untraced work_per_s median of the "
              "same seeds over trace.work_per_s, minus 1 (METRICS.md)")
    else:
        name, value, unit = mod.headline(outs)
        print(f"{name:40s} {value:14.4f} {unit}")
        rows = {
            "work_per_s": (statistics.median(rate), "1/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
        }

    for name, (value, unit) in rows.items():
        print(f"{name:40s} {value:14.4f} {unit}")
    print(f"{'ops_failed_frac':40s} {failed / max(attempted, 1):14.4f} "
          f"(failed {failed} of {attempted} attempted)")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": u} for k, (v, u) in rows.items()
        },
    }))
    return 0 if failed == 0 else 1


def _measure(wl, args):
    """The timed section: a closed loop of one caller, at least one
    operation, until ``args.seconds`` have passed. Returns the outputs,
    the number of operations that raised, and the last op's spans."""
    from perfbench import trace

    outs, errors, spans = [], 0, None
    t0 = time.perf_counter()
    while not (outs or errors) or time.perf_counter() - t0 < args.seconds:
        try:
            if args.trace:
                with trace.Spans() as spans:
                    outs.append(wl.op(spans))
            else:
                outs.append(wl.op())
                wl.release(outs[-1])
        except Exception:
            traceback.print_exc()
            errors += 1
    return outs, errors, spans


def _replayed_layers(workload: str, spark, wl, outs, spans) -> dict:
    """Per-layer numbers that need the live session: spans, checkpoint
    sizes and the replay of the last crawl; per-operator corpus times."""
    from perfbench import corpus, trace

    if workload == "corpus":
        return {
            metric: statistics.median(o.op_s[name] for o in outs)
            for name, metric in corpus.OPERATORS.items()
        }
    last = outs[-1]
    return {
        "engine.rounds": last.rounds,
        **trace.crawl_spans(spans, last, spark),
        **trace.storage_sizes(last.ckpt),
        **trace.replay(spark, wl, last),
    }


def _per_layer(workload: str, wl, work: str, outs, input_s, layers,
               units: dict) -> dict:
    """Every per-layer metric (0 for layers the workload does not run),
    adding the event-log numbers of the timed operations."""
    from perfbench import eventlog

    m = dict.fromkeys(units, 0.0)
    m.update(layers)
    m["synth.input_s"] = statistics.median(input_s)
    # crawl: the last (spanned, replayed) crawl; corpus: every pass
    timed = outs[-1:] if workload == "crawl" else outs
    if timed:
        m["trace.work_per_s"] = statistics.median(
            wl.work_done(o) / o.wall_s for o in timed
        )
        ev = eventlog.summarize(
            os.path.join(work, "events"),
            min(o.t0 for o in timed), max(o.t1 for o in timed),
        )
        n = len(timed)
        if workload == "crawl":
            rounds = max(m["engine.rounds"], 1)
            m["engine.jobs_per_round"] = ev["jobs"] / rounds
            m["engine.driver_gap_s"] = ev["idle_s"] / rounds
        for k in ("task_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
                  "jobs"):
            m[f"session.{k}"] = ev[k] / n
        for g, secs in ev["task_s_by_group"].items():
            key = f"session.task_s.{g}"
            m[key if key in m else "session.task_s.other"] += secs / n
    return {k: (v, units[k]) for k, v in m.items()}


if __name__ == "__main__":
    sys.exit(main())
