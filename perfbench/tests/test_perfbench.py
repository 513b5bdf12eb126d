"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q

The smoke and corruption tests start Spark in subprocesses (this
process never starts a JVM); together they take a few minutes on 4
cores.
"""

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT, os.path.join(ROOT, "jobs")]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _run_bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


# ------------------------------------------------------------ generators

def test_warc_corpus_is_deterministic(tmp_path):
    a = gen.warc_docs(5, "tiny")
    assert a == gen.warc_docs(5, "tiny")
    assert a != gen.warc_docs(6, "tiny")
    gen.write_warc_archives(str(tmp_path / "a"), 5, "tiny")
    gen.write_warc_archives(str(tmp_path / "b"), 5, "tiny")
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == \
            (tmp_path / "b" / n).read_bytes()


def test_warc_corpus_has_quality_passes_and_mixes():
    docs = gen.warc_docs(1, "full")
    ok = [d for d in docs if d["status"] == 200]
    assert sum(d["kind"] == "prose" for d in ok) > 0
    assert {d["charset"] for d in docs} == {c for c, _w in gen.CHARSET_MIX}
    assert {d["status"] for d in docs} == {s for s, _w in gen.STATUS_MIX}


def test_curate_corpus_is_deterministic(tmp_path):
    import pyarrow.parquet as pq
    s1, e1 = gen.curate_corpus(str(tmp_path / "a.parquet"), 3, "tiny")
    s2, e2 = gen.curate_corpus(str(tmp_path / "b.parquet"), 3, "tiny")
    assert (s1, e1) == (s2, e2)
    assert pq.read_table(tmp_path / "a.parquet").equals(
        pq.read_table(tmp_path / "b.parquet"))
    _s3, e3 = gen.curate_corpus(str(tmp_path / "c.parquet"), 4, "tiny")
    assert e3 != e1


def test_headline_tables_are_deterministic(tmp_path):
    s1 = gen.headline_tables(str(tmp_path / "a"), 2, "tiny")
    s2 = gen.headline_tables(str(tmp_path / "b"), 2, "tiny")
    gen.headline_tables(str(tmp_path / "c"), 3, "tiny")
    assert s1 == s2
    for t in gen.HEADLINE_TABLES:
        a = (tmp_path / "a" / (t + ".parquet")).read_bytes()
        assert a == (tmp_path / "b" / (t + ".parquet")).read_bytes()
        assert a != (tmp_path / "c" / (t + ".parquet")).read_bytes()


# ------------------------------------------------------------ metric names

def test_metric_names_and_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert per == run.PER_LAYER
    for name in list(e2e) + list(per) + [w["name"]
                                         for w in spec["workloads"]]:
        assert NAME.match(name), name
    for span_map in (w.span_metrics for w in workloads.WORKLOADS.values()):
        assert set(span_map.values()) <= set(run.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} == \
        set(workloads.WORKLOADS)


def test_query_metrics_follow_bench_headline():
    import bench
    assert run.HEADLINE == tuple(bench.HEADLINE)


def test_self_times():
    t = layers.Tracer(True, "r")
    with t.span("iteration"):
        with t.span("write:text"):
            pass
        with t.span("count"):
            pass
    self_t, wall = t.self_times("iteration")
    assert set(self_t) == {"iteration", "write:text", "count"}
    assert abs(sum(self_t.values()) - wall) < 1e-9


# ------------------------------------------------------------ smoke runs

@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_smoke_run(workload):
    # the run's check compares its output digest with expected.json,
    # written by another process, so this also shows the JVM-side
    # page generator (gen.pages_df) gives the same pages per seed
    p = _run_bench("--workload", workload, "--seed", "0", "--seconds",
                   "1", "--trace", "0", "--size", "tiny")
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert set(res["metrics"]) == set(run.END_TO_END)
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_traced_run_reports_every_layer(workload):
    p = _run_bench("--workload", workload, "--seed", "0",
                   "--seconds", "1", "--trace", "1", "--size", "tiny")
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == set(run.PER_LAYER)
    assert 0 < m["trace.span_coverage"] <= 1
    assert m["python.data_sent_bytes"] > 0
    if workload == "crawl_warc":
        assert m["warc.records"] > 0 and m["quality.pass_count"] > 0
        assert m["curate.docs_out"] > 0 and m["curate.docs_per_s"] > 0
    else:
        assert m["extract.status_too_large"] == gen.OVERSIZE_PAGES
        assert all(m["query.%s_s" % q] > 0 for q in run.HEADLINE)


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run_bench("--workload", "crawl_warc", "--seed", "0",
                   "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ------------------------------------------------------------ corruption

@pytest.mark.parametrize("workload",
                         sorted(set(workloads.WORKLOADS) | {"curate_corpus"}))
def test_corrupted_output_fails_check(workload):
    # a subprocess, so this test process never starts a JVM
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "tests", "corrupt.py"),
         workload], cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    assert p.stdout.strip().splitlines()[-1] == "CAUGHT"
