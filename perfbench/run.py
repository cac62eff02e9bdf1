#!/usr/bin/env python3
"""The repo benchmark: one seeded batch workload per invocation.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Batch and closed loop: one Python process submits one job at a time to a
``local[<cores>]`` SparkSession. The input is generated from ``--seed``
(cached on disk, never timed) and the program only reads the stored copy.

``--trace 0`` warms up with one untimed iteration on the input's first
file, asserts that the executed plans hold the workload's Python operators,
then repeats the job for ``--seconds`` and reports the end-to-end metrics
of BENCHMARK.json. ``--trace 1`` warms up the same way, runs one plain
iteration, then the same work split into one span per layer, and reports
the per-layer metrics from the spans and the Spark event log. Both modes check the outputs; the last stdout line is the
JSON result. Workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# set explicitly rather than inherited: the session factory's default heap
DRIVER_MEMORY = "12g"
RECORDED_CONF = ("spark.master", "spark.sql.shuffle.partitions",
                 "spark.driver.memory",
                 "spark.sql.execution.arrow.maxRecordsPerBatch",
                 "spark.sql.adaptive.enabled", "spark.eventLog.enabled")


def process_age_s() -> float:
    """Seconds since this process was created (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class GuardError(RuntimeError):
    """The executed plans lack the workload's Python operators."""


def log(msg: str) -> None:
    print(f"perfbench [{process_age_s():6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def start_session(cores: int, event_log_dir: str | None):
    """The session a user's job gets (the factory's defaults on
    ``local[<cores>]``), plus one Python-worker job."""
    from final_ocr_spark.session import get_spark

    conf = {}
    if event_log_dir:
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
                # one file per application (Spark 4 rolls by default)
                "spark.eventLog.rolling.enabled": "false"}
    spark = get_spark(master=f"local[{cores}]", extra_conf=conf)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.parallelize(range(sc.defaultParallelism), sc.defaultParallelism) \
        .map(abs).sum()
    return spark


def session_config(spark) -> dict:
    core = spark.sparkContext.getConf()
    return {k: core.get(k) or spark.conf.get(k, None) for k in RECORDED_CONF}


def stop_session() -> None:
    """Stop Spark, end the JVM and wait until no descendant is left."""
    from pyspark import SparkContext

    from procmon import reap_descendants

    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        SparkContext._gateway = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
        reap_descendants(os.getpid())


def warmup_input(inp: dict) -> dict:
    """The input's first file: the same job on an eighth of the data."""
    first = sorted(os.listdir(inp["path"]))[0]
    return {**inp, "path": os.path.join(inp["path"], first)}


def timed_run(spark, wl, inp: dict, seconds: float, seed: int):
    from procmon import PeakRss, cpu_seconds, cpu_snapshot
    from tracing import last_execution_id, missing_python_nodes
    from workloads import fresh_dir

    pid = os.getpid()
    first = last_execution_id(spark)
    wl.run(spark, warmup_input(inp),
           fresh_dir(os.path.join(WORK, "out", wl.name, "warmup")))
    log("warmup done")
    missing = missing_python_nodes(spark, first, wl.python_nodes)
    if missing:
        raise GuardError(f"executed-work guard: no {missing} in the executed "
                         f"plans of {wl.name}; refusing to time it")
    first = last_execution_id(spark)
    rates, digests, cpu = [], set(), 0.0
    with PeakRss(pid) as rss:
        t_start = time.perf_counter()
        while len(rates) < wl.min_iterations or \
                time.perf_counter() - t_start < seconds:
            out = fresh_dir(os.path.join(WORK, "out", wl.name, "timed"))
            before = cpu_snapshot(pid)
            # peak RSS of the first timed iteration: later ones only grow
            # the JVM heap by GC timing, and their number varies with speed
            first_iteration = not rates
            if first_iteration:
                rss.active = True
                rss.sample()
            t0 = time.perf_counter()
            wl.run(spark, inp, out)
            wall = time.perf_counter() - t0
            if first_iteration:
                rss.sample()
                rss.active = False
            cpu += cpu_seconds(before, cpu_snapshot(pid))
            rates.append(inp["items"] / wall)
            digests.add(wl.digest(out))
    log(f"timed {len(rates)} iteration(s)")
    errors = wl.check(inp, out)
    log("checks done")
    missing = missing_python_nodes(spark, first, wl.python_nodes)
    if missing:
        errors.append(f"executed-work guard: no {missing} in the timed plans")
    if len(digests) > 1:
        errors.append("timed iterations wrote different outputs")
    errors += same_digest_as_before(inp, min(digests))
    print(f"{wl.name} seed={seed} items={inp['items']} iterations={len(rates)} "
          f"docs_per_s={[round(r, 2) for r in rates]}")
    metrics = {"docs_per_s": statistics.median(rates),
               "cpu_s_per_kdoc": cpu / (inp["items"] * len(rates)) * 1000.0,
               "peak_rss_mb": rss.peak / 1e6}
    return metrics, len(rates), (len(rates) if errors else 0), errors


def same_digest_as_before(inp: dict, digest: str) -> list[str]:
    """The output digest of an input is recorded on first sight and must
    repeat on every later run in this checkout."""
    path = os.path.join(WORK, "digests", os.path.basename(inp["dir"]) + ".txt")
    if os.path.exists(path):
        with open(path) as f:
            if f.read().strip() != digest:
                return [f"output digest for this input changed: {path}"]
        return []
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(digest + "\n")
    return []


def traced_run(spark, wl, inp: dict, seed: int, event_log_dir: str):
    from tracing import EventLog, Tracer, read_event_log
    from workloads import fresh_dir

    tr = Tracer(spark.sparkContext)
    out_e2e = fresh_dir(os.path.join(WORK, "out", wl.name, "e2e"))
    wl.run(spark, warmup_input(inp),
           fresh_dir(os.path.join(WORK, "out", wl.name, "warmup")))
    log("warmup done")
    with tr.span("e2e"):
        wl.run(spark, inp, out_e2e)
    e2e_wall = tr.duration("e2e")
    out_layers = fresh_dir(os.path.join(WORK, "out", wl.name, "layers"))
    with tr.span("trace"):
        metrics = wl.trace(spark, inp, out_layers, tr)
    metrics["trace.overhead_s"] = tr.duration("trace") - e2e_wall
    log("layers done")
    metrics.update(wl.kernels(inp, tr))
    errors = wl.check(inp, out_e2e)
    if wl.digest(out_layers) != wl.digest(out_e2e):
        errors.append("the layer-by-layer run wrote a different output than "
                      "the workload's own job")
    app_id = spark.sparkContext.applicationId
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    tr.dump(os.path.join(WORK, "trace", f"{wl.name}-s{seed}.json"))
    stop_session()

    ev = EventLog(read_event_log(event_log_dir, app_id))
    spark_totals = ev.task_totals("e2e")
    metrics["spark.jobs"] = ev.jobs.get("e2e", 0)
    metrics["sources.bytes_read_mb"] = ev.sql_metric(
        "sources.scan", "Scan", "size of files read")
    for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
              "peak_execution_mem_mb"):
        metrics[f"spark.{k}"] = spark_totals.get(k, 0.0)
    self_t = tr.self_times()
    for span in wl.layer_spans:
        name = SPAN_METRIC.get(span, f"{span}_s")
        if name:
            metrics.setdefault(name, self_t.get(span, 0.0))
    metrics["pipeline.jobs"] = ev.jobs.get("e2e", 0)
    metrics["pipeline.stages"] = ev.stages.get("e2e", 0)
    # job wall minus the layer spans: barriers and re-execution
    metrics["pipeline.overhead_s"] = e2e_wall - sum(
        self_t.get(s, 0.0) for s in wl.layer_spans)
    metrics.update(wl.event_metrics(ev))
    print(f"{wl.name} seed={seed} traced: e2e_wall={e2e_wall:.3f}s "
          f"traced_wall={tr.duration('trace'):.3f}s")
    return metrics, 1, (1 if errors else 0), errors


# span -> per-layer metric where it is not "<span>_s" (None: no metric)
SPAN_METRIC = {"extract_pages.extract": "extract_pages.busy_s",
               "pipeline.select": None}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "final_ocr_spark")):
        print("perfbench: final_ocr_spark/ not found next to perfbench/; run "
              "from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = bench["per_layer"] if args.trace else bench["end_to_end"]
    units = {m["name"]: m["unit"] for m in listed}

    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # keep every file Spark, the JVM and Python write inside the checkout
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    event_log_dir = None
    if args.trace:
        event_log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(event_log_dir, exist_ok=True)

    # a TERM still runs the finally below, which ends the JVM and workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    failure = False
    try:
        spark = start_session(cores, event_log_dir)
        setup_s = process_age_s()
        log("session ready")
        config = session_config(spark)
        inp = wl.prepare(WORK, args.seed)
        log("input ready")
        print("config " + json.dumps(
            {**config, "cores": cores, "input_digest": inp["digest"],
             "items": inp["items"]}, sort_keys=True))
        if args.trace:
            metrics, attempted, failed, errors = traced_run(
                spark, wl, inp, args.seed, event_log_dir)
        else:
            metrics, attempted, failed, errors = timed_run(
                spark, wl, inp, args.seconds, args.seed)
            metrics["setup_s"] = setup_s
    except Exception:
        traceback.print_exc()
        failure = True
    finally:
        stop_session()
    log("stopped")
    if failure:
        return 1

    extra = set(metrics) - set(units)
    if extra:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(extra)}")
    for e in errors:
        print(f"CHECK FAILED: {e}")
    print(json.dumps({
        "correct": not errors and not failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(metrics.get(name, 0.0)),
                           "unit": units[name]} for name in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
