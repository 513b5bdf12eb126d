#!/usr/bin/env python3
"""Repository benchmark: crawl bytes in, extracted and curated text
out, measured end to end and layer by layer.

    python3 perfbench/run.py --workload crawl_warc --seed 1 \\
        --seconds 1 --trace 0

Run from the repository root.  Workloads (see perfbench/README.md):
extract_pages, crawl_warc.  One driver process runs Spark at
local[N], N = min(4, cores).  The run sets up the session SETUPS
times (setup_s is their median), generates its inputs from --seed,
runs the workload's untimed warm-up passes, then timed passes until
--seconds have passed and at least the workload's min_passes have
run (docs_per_s is from their median), and checks the output.  On every way out it stops Spark and
the JVM and waits until every process they started has ended.

--trace 0 prints the end-to-end metrics; --trace 1 enables the Spark
event log, benchmark-side spans and the layer probes, and prints the
per-layer metrics.  Every metric is printed by name and unit, and the
last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}.  The full run record
(input shape, box load, output digest, spans) is written to
.perfbench_out/.  Exit status: 0 when the output checks pass, 1 when
they fail, 2 when the program under test is not present.
"""

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REQUIRED = ("bench.py", "jobs/crawl_job.py", "jobs/curate_job.py",
            "packages_sgml_spark/spark/extract.py",
            "packages_sgml_spark/core/_cspeed.c",
            "tools/check_correctness.py")
SETUPS = 3
DRIVER_MEMORY = "2g"
MB = 1 << 20

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "setup.session_s": "s", "setup.ship_s": "s",
    "setup.cspeed_build_s": "s", "setup.worker_warm_s": "s",
    "setup.first_s": "s",
    "parser.setup_us_per_doc": "us", "parser.us_per_kb": "us/KB",
    "parser.doc_us_p50": "us", "parser.doc_us_p99": "us",
    "parser.warnings_per_doc": "count",
    "warc.decode_mb_per_s": "MB/s", "warc.records": "count",
    "warc.record_errors": "count",
    "extract.s": "s", "extract.arrow_floor_s": "s",
    "extract.status_ok": "count", "extract.status_too_large": "count",
    "extract.status_error": "count",
    "python.data_sent_bytes": "bytes",
    "python.data_received_bytes": "bytes",
    "python.bytes_returned_per_byte_sent": "ratio",
    "python.boot_ms": "ms", "python.init_ms": "ms",
    "python.total_ms": "ms",
    "warc_pages.s": "s",
    "sink.text_write_s": "s", "sink.metrics_write_s": "s",
    "sink.archives_write_s": "s", "sink.output_bytes": "bytes",
    "quality.s": "s", "quality.pass_count": "count",
    "curate.decisions_s": "s", "curate.clean_s": "s",
    "curate.shards_s": "s", "curate.metrics_s": "s",
    "curate.docs_per_s": "docs/s", "curate.docs_kept": "count",
    "curate.docs_out": "count", "curate.tokens_after": "count",
    "spark.plan_s": "s", "spark.other_actions_s": "s",
    "driver.glue_s": "s",
    "stage.executor_run_s": "s", "stage.cpu_s": "s", "stage.gc_s": "s",
    "stage.shuffle_read_bytes": "bytes",
    "stage.shuffle_write_bytes": "bytes", "stage.task_skew": "ratio",
    "stage.task_failures": "count", "cpu_busy_frac": "ratio",
    "row_error_frac": "ratio", "row_too_large_frac": "ratio",
    "rss.jvm_peak_mb": "MB", "rss.workers_peak_mb": "MB",
    "trace.iter_s": "s", "trace.span_coverage": "ratio",
    "trace.iterations": "count", "cpu.ms_per_doc": "ms",
    "box.loadavg_1m": "load", "box.cpu_probe_frac": "ratio",
    "box.steal_frac": "ratio",
}
# bench.py's HEADLINE queries, timed by the extract_pages probe; the
# benchmark's tests check this list against bench.HEADLINE
HEADLINE = (
    "extract_text", "extract_title", "element_histogram",
    "pricing_summary", "top_customers", "events_hourly",
    "top_event_per_user", "lang_id", "quality", "token_count",
    "fingerprint", "dedup_exact", "minhash_lsh_pairs", "simhash",
    "knn_cosine", "knn_lsh")
PER_LAYER.update(("query.%s_s" % q, "s") for q in HEADLINE)

WARM_HTML = ("<!DOCTYPE html><html><head><title>warm</title></head>"
             "<body><p>worker warm-up page &amp; text</p></body></html>")


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def build_cspeed(cache_dir):
    """Compile _cspeed.c into a fresh cache dir (the per-run build
    every worker then loads)."""
    os.environ["SGML_CSPEED_DIR"] = cache_dir
    mod = sys.modules.get("packages_sgml_spark.core.cspeed")
    if mod is None:
        from packages_sgml_spark.core import cspeed  # builds on import
        if cspeed.MOD is None:
            raise RuntimeError("cspeed build failed")
    else:
        # the module builds only when first imported
        mod._build_and_load()


def setup_once(k, work, trace):
    """Session start, package ship, _cspeed.c build, worker warm-up.
    Returns (spark, {part: seconds})."""
    from packages_sgml_spark.spark.session import get_spark

    n = cpus()
    cs_dir = os.path.join(work, "cspeed-%d" % k)
    conf = {"spark.executorEnv.SGML_CSPEED_DIR": cs_dir,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        # one plain JSON-lines file per application
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(
            work, "eventlog")
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench-%d" % k, cpus=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from packages_sgml_spark.spark import queries
    # ensure_workers remembers shipped contexts by id(), which a new
    # context may reuse after stop(): forget it so every set-up ships
    queries._PYFILE_SENT.pop(id(spark.sparkContext), None)
    queries.ensure_workers(spark)
    t2 = time.perf_counter()
    build_cspeed(cs_dir)
    t3 = time.perf_counter()
    from pyspark.sql import functions as F
    from packages_sgml_spark.spark.extract import extract
    warm = spark.range(0, 2 * n, 1, 2 * n).select(
        F.concat(F.lit("warm://"), F.col("id").cast("string"))
        .alias("url"), F.encode(F.lit(WARM_HTML), "utf-8").alias("html"))
    extract(warm, nodes=False, repartition=0) \
        .write.format("noop").mode("overwrite").save()
    t4 = time.perf_counter()
    return spark, {"setup.session_s": t1 - t0, "setup.ship_s": t2 - t1,
                   "setup.cspeed_build_s": t3 - t2,
                   "setup.worker_warm_s": t4 - t3, "total": t4 - t0}


def jvm_proc():
    """The Popen of the JVM that pyspark launched, or None."""
    from pyspark import SparkContext
    return getattr(SparkContext._gateway, "proc", None)


def stop_spark(reaper):
    """Stop Spark and the JVM it runs in, and wait until the JVM and
    every process it or this process started have ended."""
    from pyspark import SparkContext

    gw, proc = SparkContext._gateway, jvm_proc()
    if proc is not None:
        reaper.note(proc.pid)
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:                    # noqa: BLE001
            traceback.print_exc()
    if gw is not None:
        if proc is not None:
            reaper.note(proc.pid)
        try:
            gw.shutdown()
        except Exception:                    # noqa: BLE001
            pass                             # the JVM side may be gone
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin reaches end of file
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reaper.note(os.getpid(), with_root=False)
    killed = reaper.wait()
    if killed:
        print("perfbench: killed %d processes left running: %s"
              % (len(killed), killed), file=sys.stderr)


def expected_digest(workload, size, seed):
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f).get(workload, {}).get(size, {}).get(str(seed))


def layer_metrics(wl, tracer, groups, probes, times, setups, rss, box0):
    """Per-layer metrics of a traced run (every PER_LAYER name)."""
    import layers

    n_it = len(times)
    m = {k: 0.0 for k in PER_LAYER}
    for k in ("setup.session_s", "setup.ship_s", "setup.cspeed_build_s",
              "setup.worker_warm_s"):
        m[k] = statistics.median(s[k] for s in setups)
    m["setup.first_s"] = setups[0]["total"]
    self_t, wall = tracer.self_times("iteration")
    covered = 0.0
    for name, sec in self_t.items():
        kind = name.split(":")[0]
        if kind == "call":
            key = "spark.plan_s"
        elif kind in layers.ACTION_KINDS:
            key = wl.span_metrics.get(name, "spark.other_actions_s")
        else:
            continue
        covered += sec
        m[key] += sec / n_it
    m["driver.glue_s"] = (wall - covered) / n_it
    m["trace.span_coverage"] = covered / wall
    m["trace.iter_s"] = statistics.median(times)
    m["trace.iterations"] = n_it
    timed = {g: v for g, v in groups.items()
             if g is not None and not g.startswith("probe:")}
    stage_tasks = {}
    for g in timed.values():
        m["stage.executor_run_s"] += g["run_ms"] / 1e3 / n_it
        m["stage.cpu_s"] += g["cpu_ns"] / 1e9 / n_it
        m["stage.gc_s"] += g["gc_ms"] / 1e3 / n_it
        m["stage.shuffle_read_bytes"] += g["shuffle_read"] / n_it
        m["stage.shuffle_write_bytes"] += g["shuffle_write"] / n_it
        m["stage.task_failures"] += g["failures"]
        for key, v in g["python"].items():
            m[key] += v / n_it
        for sid, ts in g["stage_tasks"].items():
            stage_tasks.setdefault(sid, []).extend(ts)
    m["stage.task_skew"] = layers.task_skew(stage_tasks)
    m["python.bytes_returned_per_byte_sent"] = (
        m["python.data_received_bytes"] /
        max(m["python.data_sent_bytes"], 1))
    c = wl.counts
    m["extract.status_ok"] = c.get("ok", 0)
    m["extract.status_too_large"] = c.get("too_large", 0)
    m["extract.status_error"] = c.get("error", 0)
    m["quality.pass_count"] = c.get("quality_pass") or 0
    m["sink.output_bytes"] = c.get("output_bytes", 0)
    m["rss.jvm_peak_mb"] = rss.peak_root / MB
    m["rss.workers_peak_mb"] = rss.peak_children / MB
    m["box.loadavg_1m"] = box0["loadavg_1m"] or 0.0
    m["box.cpu_probe_frac"] = box0["cpu_probe_frac"]
    m.update(probes)
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for smoke tests")
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in REQUIRED
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        print("perfbench: run from the repository root; missing %s"
              % ", ".join(missing), file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root, os.path.join(root, "jobs"),
                    os.path.join(root, "tools")]
    import layers
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print("perfbench: unknown workload %r (have %s)"
              % (args.workload, ", ".join(WORKLOADS)), file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", "%s-%d-%d" % (
        args.workload, args.seed, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_a: sys.exit(143))
    reaper = layers.Reaper()
    try:
        return run(args, root, work, reaper)
    finally:
        stop_spark(reaper)
        shutil.rmtree(work, ignore_errors=True)


def run(args, root, work, reaper):
    import tempfile
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    import bench
    import layers
    from workloads import WORKLOADS

    box0 = bench._box_load()
    setups = []
    for k in range(SETUPS):
        spark, parts = setup_once(k, work, args.trace)
        setups.append(parts)
        if k < SETUPS - 1:
            reaper.note(jvm_proc().pid)
            spark.stop()
    setup_s = statistics.median(s["total"] for s in setups)

    tracer = layers.Tracer(bool(args.trace), "%s-%d" % (args.workload,
                                                        args.seed))
    wl = WORKLOADS[args.workload](spark, work, args.seed, args.size,
                                  tracer)
    phases = {}
    t_phase = time.perf_counter()
    shape = wl.prepare()
    phases["prepare_s"] = time.perf_counter() - t_phase
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    times, problems, failed_job = [], [], False
    busy = cpu_s = steal = 0.0

    def cpu_now():
        """CPU seconds of the JVM + worker tree and of this (driver)
        thread; the sampler thread is not counted."""
        return layers.tree_cpu_seconds(jvm_pid) + time.thread_time()

    with layers.RssSampler(jvm_pid) as rss:
        try:
            t_phase = time.perf_counter()
            for i in range(wl.warmup_passes):     # untimed
                wl.iterate(i)
                wl.between(i)
            phases["warmup_s"] = time.perf_counter() - t_phase
            actions = (layers.traced_actions(tracer, spark, wl.layer_calls)
                       if args.trace else contextlib.nullcontext())
            with actions:
                if args.trace:
                    # jobs outside any traced action still count as
                    # timed work in the event log
                    spark.sparkContext.setJobGroup("iteration",
                                                   "iteration")
                steal0, ticks0 = layers.host_cpu_ticks()
                t_start = time.perf_counter()
                i = wl.warmup_passes
                while len(times) < wl.min_passes or \
                        time.perf_counter() - t_start < args.seconds:
                    # settled heap before each pass (bench.py's rule)
                    spark._jvm.System.gc()
                    c0 = cpu_now()
                    t0 = time.perf_counter()
                    with tracer.span("iteration"):
                        wl.iterate(i)
                    times.append(time.perf_counter() - t0)
                    cpu_s += cpu_now() - c0
                    wl.between(i)
                    i += 1
                busy = cpu_s / (sum(times) * cpus())
                steal1, ticks1 = layers.host_cpu_ticks()
                steal = (steal1 - steal0) / max(ticks1 - ticks0, 1)
                spark.sparkContext.setLocalProperty("spark.jobGroup.id",
                                                    None)
        except Exception:                    # noqa: BLE001
            traceback.print_exc()
            failed_job = True
            problems.append("a pass raised; see stderr")
    box1 = bench._box_load()

    digest, probes = None, {}
    if not failed_job:
        try:
            t_phase = time.perf_counter()
            found, digest = wl.check()
            phases["check_s"] = time.perf_counter() - t_phase
            problems.extend(found)
            want = expected_digest(args.workload, args.size, args.seed)
            if want is not None and want != digest:
                problems.append("output digest %s, expected %s"
                                % (digest, want))
            if args.trace:
                t_phase = time.perf_counter()
                probes, found = wl.probes()
                problems.extend(found)
                phases["probes_s"] = time.perf_counter() - t_phase
        except Exception:                    # noqa: BLE001
            traceback.print_exc()
            problems.append("output check raised; see stderr")
    stop_spark(reaper)

    n_it = max(len(times), 1)
    attempted = wl.n_docs * n_it
    failed = attempted if failed_job else \
        wl.counts.get("error", 0) * n_it
    med = statistics.median(times) if times else float("nan")
    if args.trace:
        groups = layers.read_event_log(os.path.join(work, "eventlog"))
        metrics = layer_metrics(wl, tracer, groups, probes, times, setups,
                                rss, box0)
        metrics["cpu_busy_frac"] = busy
        metrics["cpu.ms_per_doc"] = cpu_s * 1e3 / attempted
        metrics["box.steal_frac"] = steal
        metrics["row_error_frac"] = failed / attempted
        metrics["row_too_large_frac"] = \
            wl.counts.get("too_large", 0) / max(wl.n_docs, 1)
        units = PER_LAYER
    else:
        metrics = {"setup_s": setup_s,
                   "docs_per_s": wl.n_docs / med,
                   "peak_rss_mb": rss.peak_total / MB}
        units = END_TO_END

    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    record = {"workload": args.workload, "seed": args.seed,
              "size": args.size, "cpus": cpus(), "shape": shape,
              "pass_s": times, "phases": phases, "setups": setups,
              "digest": digest, "problems": problems, "counts": wl.counts,
              "box_load_before": box0, "box_load_after": box1,
              "steal_frac": steal, "cpu_s": cpu_s,
              "metrics": metrics}
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.dump(os.path.join(out_dir, stem + ".spans.json"))

    print("workload %s seed %d: %d passes, median %.3f s, input %s"
          % (args.workload, args.seed, len(times), med,
             json.dumps(shape, sort_keys=True)))
    print("box load before %s after %s" % (box0, box1))
    for name in units:
        print("%-36s %16.6g %s" % (name, metrics[name], units[name]))
    for p in problems:
        print("CHECK FAILED: " + p)
    correct = not problems
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
