"""warcit-spark benchmark: one workload per run, end to end or traced.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see ``BENCHMARK.json`` and ``perfbench/layers.json``):
``ingest_query`` (a ``warcit_run`` then a pass of the query surface) and
``crawl_ccweight`` (one resumed crawl round).

Load model: one closed-loop client (this process) submits one operation
at a time to ``local[<cores>]``.  A run starts the session, generates
and caches the workload's inputs ``SETUP_REPS`` times, warms up once
(``setup_s`` = session start + median generation + warm-up), then
repeats timed operations until ``--seconds`` of timed work have
accumulated (at least the workload's ``min_iters``), checking every
operation's output outside its timed region.  The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is a
separate run with Spark's event log on and spans recorded; it reports
the per-layer metrics and writes the full trace (spans, per-span engine
metrics, crawl replays, per-query seconds, tracing overhead) to
``.perfbench/trace-<workload>-<seed>.json``.  The stderr log of every run
carries the CPU time the host stole from this machine during the run
(``cpu_steal_s``, from ``/proc/stat``), to tell a slow run from a
contended one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def layer_map() -> dict:
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as fh:
        return json.load(fh)["per_layer"]


def cpu_steal_s() -> float | None:
    """Seconds of CPU time stolen by the host so far (all CPUs)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def start_spark(work: str, cores: int, event_dir: str | None):
    from warcit_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark, the JVM and Python workers write inside the run
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_GC_OPTS"] = (
        f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    conf = {
        "spark.driver.memory": "3g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_dir
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain file
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=max(cores, 8),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0,
        work: str | None = None) -> dict:
    """One benchmark run; returns the result object (not printed)."""
    from perfbench import workloads
    from perfbench.trace import Tracer

    if workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}")
    cores = len(os.sched_getaffinity(0))
    work = work or os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_dir = os.path.join(work, "events") if trace else None
    tracer = Tracer(run_id=f"{workload}-{seed}-{os.getpid()}", enabled=trace)
    steal0 = cpu_steal_s()
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores, event_dir)
        session_s = time.perf_counter() - t0
        try:
            wl = workloads.WORKLOADS[workload](
                spark, seed, os.path.join(work, "data"), tracer, scale=scale
            )
            setups = []
            for _ in range(SETUP_REPS):
                with tracer.span("setup"):
                    t0 = time.perf_counter()
                    wl.setup()
                    setups.append(time.perf_counter() - t0)
            with tracer.span("warm_up"):
                t0 = time.perf_counter()
                oks = wl.warm_up()
                warm_s = time.perf_counter() - t0
            attempted, failed = len(oks), oks.count(False)
            timed = 0.0
            iters = 0
            loop_t0 = time.perf_counter()
            with tracer.span("measure") as measure:
                # failed operations add no timed seconds; the wall cap ends
                # a run whose operations keep failing
                while iters < wl.min_iters or (
                    timed < seconds and time.perf_counter() - loop_t0 < 3 * seconds
                ):
                    out = wl.iterate()
                    iters += 1
                    timed += sum(out["walls"])
                    if trace:
                        wl.probe(out)
                    oks = wl.check(out)
                    attempted += len(oks)
                    failed += oks.count(False)
            result = {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "iterations": iters,
                "session_s": session_s,
                "setup_reps_s": setups,
                "warm_up_s": warm_s,
            }
            e2e = wl.end_to_end()
            e2e["setup_s"] = session_s + statistics.median(setups) + warm_s
        finally:
            stop_spark(spark)
        steal1 = cpu_steal_s()
        if steal0 is not None and steal1 is not None:
            result["cpu_steal_s"] = steal1 - steal0
        result["end_to_end"] = e2e
        result["inputs"] = wl.input_desc()
        if trace:
            result["per_layer"] = traced_metrics(workload, wl, tracer, event_dir, cores, measure)
            result["trace_file"] = write_trace(workload, seed, wl, tracer, result)
        else:
            save_untraced(workload, seed, wl)
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def save_untraced(workload: str, seed: int, wl) -> None:
    """Remember this run's operation walls for the traced run's
    overhead figure (traced wall minus untraced wall)."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"untraced-{workload}-{seed}.json"), "w") as fh:
        json.dump({"op_walls": wl.walls}, fh)


def traced_metrics(
    workload: str, wl, tracer, event_dir: str, cores: int, measure
) -> dict[str, float]:
    """Every per-layer metric: the workload's own, plus engine metrics
    over its timed operations (jobs attributed by submission time).

    A layer the workload bypasses did no work and prints 0; that is
    allowed only where ``layers.json`` names this workload as the
    layer's bypass, so a workload that forgets its own metric fails the
    run instead of printing 0."""
    from perfbench.trace import attribute, engine_metrics, read_event_log, span_jobs

    names = [m["name"] for m in spec()["per_layer"]]
    metrics = wl.per_layer()
    spans = tracer.spans
    by_span = attribute(read_event_log(event_dir), spans)
    measure_id = next(i for i, s in enumerate(spans) if s is measure)
    children = [i for i, s in enumerate(spans) if s.parent == measure_id]
    ops = [i for i in children if spans[i].name == wl.op_span]
    op_jobs = [j for i in ops for j in span_jobs(tracer, by_span, i)]
    metrics.update(engine_metrics(op_jobs, sum(spans[i].seconds for i in ops), cores))
    if wl.op_span == "plans.crawl.crawl_round":
        metrics["plans.crawl.jobs_per_round"] = len(op_jobs) / len(ops)
    unknown = set(metrics) - set(names)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    layers = layer_map()
    for name in names:
        if name not in metrics:
            if workload not in layers.get(name, {}).get("bypass", []):
                raise RuntimeError(f"{workload} did not produce its metric {name}")
            metrics[name] = 0.0
    below = {measure_id}
    for i, s in enumerate(spans):  # spans are recorded parent first
        if s.parent in below:
            below.add(i)
    below.discard(measure_id)
    wl.span_table = [
        {"span": i, "name": spans[i].name, "parent": spans[i].parent,
         "seconds": spans[i].seconds,
         **engine_metrics(span_jobs(tracer, by_span, i), spans[i].seconds, cores)}
        for i in sorted(below)
    ]
    return metrics


def write_trace(workload: str, seed: int, wl, tracer, result: dict) -> str:
    untraced = os.path.join(OUT, f"untraced-{workload}-{seed}.json")
    overhead = None
    if os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["op_walls"]
        traced = statistics.median(wl.walls)
        overhead = {
            "traced_op_median_s": traced,
            "untraced_op_median_s": statistics.median(base),
            "overhead_s": traced - statistics.median(base),
        }
    path = os.path.join(OUT, f"trace-{workload}-{seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": workload,
                "seed": seed,
                "tracing_overhead": overhead,
                "per_layer": result["per_layer"],
                "spans": tracer.to_json(),
                "span_engine_metrics": wl.span_table,
                "replays": getattr(wl, "replays", []),
                "per_query": wl.per_query() if hasattr(wl, "per_query") else [],
                "inputs": result["inputs"],
            },
            fh,
            indent=1,
        )
    return path


def result_line(result: dict, trace: bool) -> dict:
    """The contract's last stdout line: every metric BENCHMARK.json names
    for this mode, with its unit."""
    s = spec()
    if trace:
        units = {m["name"]: m["unit"] for m in s["per_layer"]}
        values = result["per_layer"]
    else:
        units = {m["name"]: m["unit"] for m in s["end_to_end"]}
        values = result["end_to_end"]
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"workload did not produce {sorted(missing)}")
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import warcit_spark  # noqa: F401  the program under test
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    log(json.dumps({k: v for k, v in result.items() if k not in ("per_layer",)}))
    print(json.dumps(result_line(result, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
