"""Benchmark-side instruments: spans, the /proc memory sampler, the
Spark event-log summary and the in-process layer probes.

Nothing here changes the program under test.  Spans wrap calls the
benchmark makes into the program (and, in a traced run, the Spark
actions those calls trigger); the event log is Spark's own, enabled
only in a traced run; the probes call the parser and WARC reader
directly on a sample of the workload's input.
"""

import contextlib
import glob
import json
import os
import signal
import statistics
import threading
import time

# ------------------------------------------------------------------
# spans
# ------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id).  Disabled
    tracers hand out no-op spans, so the untraced run pays nothing
    but the `with` statement."""

    def __init__(self, enabled, run_id):
        self.enabled = enabled
        self.run_id = run_id
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, root_name):
        """{span name: total self time} over the subtrees rooted at
        spans called ``root_name``, and the summed root duration.
        Self time = duration minus the part covered by children."""
        kids = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out, total = {}, 0.0

        def walk(s):
            dur = s["end"] - s["start"]
            child = sum(c["end"] - c["start"] for c in kids.get(s["id"], ()))
            out[s["name"]] = out.get(s["name"], 0.0) + dur - child
            for c in kids.get(s["id"], ()):
                walk(c)

        for s in self.spans:
            if s["name"] == root_name:
                total += s["end"] - s["start"]
                walk(s)
        return out, total

    def dump(self, path):
        with open(path, "w") as f:
            json.dump(self.spans, f)


ACTION_KINDS = ("write", "read", "count", "collect", "checkpoint",
                "create")


@contextlib.contextmanager
def traced_actions(tracer, spark, calls=(), prefix=""):
    """Trace a job from outside while it runs.

    - Spark actions (writes, reads, counts, collects, eager
      checkpoints, createDataFrame) get spans named by kind and sink,
      each run under a Spark job group of the same name so event-log
      stages map back to the span;
    - each (module, function) in ``calls`` — the program's public
      layer entry points the job calls — gets a span
      ``call:<module>.<function>``; its self time is driver-side plan
      building.
    Span and job-group names start with ``prefix``.  The originals
    are restored on exit."""
    import importlib

    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    sc = spark.sparkContext
    saved = []

    def sink_name(args, kwargs):
        path = kwargs.get("path") or (args[0] if args else None)
        if isinstance(path, (list, tuple)) and path:
            path = path[0]
        if not isinstance(path, str):
            return "noop"
        return os.path.basename(path.rstrip("/")) or "root"

    def patch(owner, attr, wrapped):
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapped)

    def action(cls, attr, kind, named):
        orig = getattr(cls, attr)

        def wrapped(self, *args, **kwargs):
            name = prefix + kind + (
                ":" + sink_name(args, kwargs) if named else "")
            prev = sc.getLocalProperty("spark.jobGroup.id")
            with tracer.span(name):
                sc.setJobGroup(name, name)
                try:
                    return orig(self, *args, **kwargs)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", prev)

        patch(cls, attr, wrapped)

    def call(mod_name, fn_name):
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, fn_name)
        name = "%scall:%s.%s" % (prefix, mod_name.rsplit(".", 1)[-1],
                                 fn_name)

        def wrapped(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        patch(mod, fn_name, wrapped)

    action(DataFrameWriter, "parquet", "write", True)
    action(DataFrameWriter, "save", "write", True)
    action(DataFrameReader, "parquet", "read", True)
    action(DataFrameReader, "load", "read", True)
    action(DataFrame, "count", "count", False)
    action(DataFrame, "collect", "collect", False)
    action(DataFrame, "localCheckpoint", "checkpoint", False)
    action(DataFrame, "checkpoint", "checkpoint", False)
    action(SparkSession, "createDataFrame", "create", False)
    for mod_name, fn_name in calls:
        call(mod_name, fn_name)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# ------------------------------------------------------------------
# /proc memory sampler
# ------------------------------------------------------------------

def _children_map():
    kids = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % d) as f:
                st = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: ppid is the 2nd field after ')'
        ppid = int(st.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid):
    """Proportional set size: resident pages, with pages shared by
    several processes (forked Python workers) split between them, so
    a tree's sum counts each page once."""
    try:
        with open("/proc/%d/smaps_rollup" % pid) as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _cpu_seconds(pid):
    """utime + stime of the process and its reaped children."""
    try:
        with open("/proc/%d/stat" % pid) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _TICKS


_TICKS = os.sysconf("SC_CLK_TCK")


def tree_pids(root):
    """``root`` and all its descendants."""
    kids = _children_map()
    tree, todo = [root], list(kids.get(root, ()))
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(kids.get(p, ()))
    return tree


def _start_ticks(pid):
    """Start time of ``pid`` (to tell a process from a later one that
    reuses its pid), or None once it has ended."""
    try:
        with open("/proc/%d/stat" % pid) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    if fields[0] in ("Z", "X"):          # zombie: ended, not yet reaped
        return None
    return int(fields[19])


class Reaper:
    """Remembers every process seen in a tree, and at the end waits
    until each has ended, killing those that outlive ``grace``
    seconds."""

    def __init__(self):
        self.seen = {}

    def note(self, root, with_root=True):
        for p in tree_pids(root)[0 if with_root else 1:]:
            start = _start_ticks(p)
            if start is not None:
                self.seen.setdefault(p, start)

    def alive(self):
        return [p for p, s in self.seen.items() if _start_ticks(p) == s]

    def wait(self, grace=30.0):
        """Returns the pids that had to be killed."""
        deadline = time.monotonic() + grace
        while self.alive() and time.monotonic() < deadline:
            time.sleep(0.1)
        killed = self.alive()
        for p in killed:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        deadline = time.monotonic() + 10
        while self.alive() and time.monotonic() < deadline:
            time.sleep(0.1)
        return killed


def tree_cpu_seconds(root):
    return sum(_cpu_seconds(p) for p in tree_pids(root))


def host_cpu_ticks():
    """(steal, total) ticks of the whole machine from /proc/stat: on a
    virtual machine, steal is time the hypervisor ran someone else
    while this machine had work."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class RssSampler:
    """Samples the memory of a process tree (the JVM and its Python
    workers) every ``interval`` seconds in a thread, as proportional
    set size; keeps the peak of the tree total, of the root alone and
    of its descendants."""

    def __init__(self, root_pid, interval=0.5):
        self.root = root_pid
        self.interval = interval
        self.peak_total = 0
        self.peak_root = 0
        self.peak_children = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self):
        pids = tree_pids(self.root)
        root = _pss_bytes(self.root)
        rest = sum(_pss_bytes(p) for p in pids[1:])
        self.peak_root = max(self.peak_root, root)
        self.peak_children = max(self.peak_children, rest)
        self.peak_total = max(self.peak_total, root + rest)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ------------------------------------------------------------------
# Spark event log
# ------------------------------------------------------------------

PYTHON_METRICS = {
    "data sent to Python workers": "python.data_sent_bytes",
    "data returned from Python workers": "python.data_received_bytes",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
}


def read_event_log(log_dir):
    """Parse the newest application event log under ``log_dir`` (the
    session the workload ran in) into per-job-group stage and task
    totals."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if not paths:
        raise FileNotFoundError("no Spark event log in %s" % log_dir)
    job_group, stage_job, tasks = {}, {}, []
    with open(max(paths, key=os.path.getmtime)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job_group[ev["Job ID"]] = props.get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    groups = {}
    for ev in tasks:
        group = job_group.get(stage_job.get(ev["Stage ID"]))
        g = groups.setdefault(group, {
            "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_read": 0,
            "shuffle_write": 0, "failures": 0, "stage_tasks": {},
            "python": {v: 0 for v in PYTHON_METRICS.values()}})
        reason = (ev.get("Task End Reason") or {}).get("Reason")
        if reason != "Success":
            g["failures"] += 1
        m = ev.get("Task Metrics") or {}
        run = m.get("Executor Run Time", 0)
        g["run_ms"] += run
        g["cpu_ns"] += m.get("Executor CPU Time", 0)
        g["gc_ms"] += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        g["shuffle_read"] += (sr.get("Remote Bytes Read", 0) +
                              sr.get("Local Bytes Read", 0))
        g["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}) \
            .get("Shuffle Bytes Written", 0)
        g["stage_tasks"].setdefault(ev["Stage ID"], []).append(run)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
            key = PYTHON_METRICS.get(acc.get("Name"))
            if key and acc.get("Update") is not None:
                g["python"][key] += int(acc["Update"])
    return groups


def task_skew(stage_tasks):
    """max/median task run time of the stage with the most total task
    time (the stage that sets the wall time); 1.0 if no stage has
    several tasks."""
    multi = [ts for ts in stage_tasks.values() if len(ts) > 1]
    if not multi:
        return 1.0
    heavy = max(multi, key=sum)
    return max(heavy) / max(statistics.median(heavy), 1)


# ------------------------------------------------------------------
# in-process probes (single thread, in the driver)
# ------------------------------------------------------------------

MINIMAL_DOC = (b"<!DOCTYPE html><html><head><title>t</title></head>"
               b"<body></body></html>")


def parser_probe(htmls, reps=200):
    """Per-document parse cost of the extract operator's text-only
    path (extract._parse_one, the function its batch loop calls per
    row) on ``htmls``, plus the fixed setup cost on a minimal DOCTYPE
    document."""
    from packages_sgml_spark.spark.extract import _parse_one

    setup = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _parse_one(MINIMAL_DOC, "html5", False, False)
        setup.append(time.perf_counter() - t0)
    per_doc, warnings, nbytes = [], 0, 0
    for h in htmls:
        t0 = time.perf_counter()
        _text, _dj, _nodes, errs = _parse_one(h, "html5", False, False)
        per_doc.append(time.perf_counter() - t0)
        warnings += len(errs)
        nbytes += len(h)
    per_doc.sort()
    return {
        "parser.setup_us_per_doc": statistics.median(setup) * 1e6,
        "parser.us_per_kb": sum(per_doc) * 1e6 / max(nbytes / 1024, 1e-9),
        "parser.doc_us_p50": statistics.median(per_doc) * 1e6,
        "parser.doc_us_p99":
            per_doc[min(len(per_doc) - 1, int(len(per_doc) * 0.99))] * 1e6,
        "parser.warnings_per_doc": warnings / max(len(htmls), 1),
    }


def warc_probe(paths):
    """Decode every record of the archives in-process (core.warc):
    compressed MB/s, records and malformed-content errors."""
    from packages_sgml_spark.core.warc import iter_warc_records

    n, errors, nbytes, dt = 0, [], 0, 0.0
    for p in paths:
        with open(p, "rb") as f:
            data = f.read()
        nbytes += len(data)
        t0 = time.perf_counter()
        for _rec in iter_warc_records(data, errors):
            n += 1
        dt += time.perf_counter() - t0
    return {"warc.decode_mb_per_s": nbytes / 1e6 / max(dt, 1e-9),
            "warc.records": n, "warc.record_errors": len(errors)}
