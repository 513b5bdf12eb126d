"""Corrupt a workload's output and show that its check catches it.

    python3 perfbench/tests/corrupt.py extract_pages
    python3 perfbench/tests/corrupt.py crawl_warc
    python3 perfbench/tests/corrupt.py curate_corpus

Run from the repository root.  Runs one tiny pass of the workload
(curate_corpus: the curation pass the crawl_warc traced run probes),
asserts its check passes, tampers with the output and asserts the
check then fails.  Prints CAUGHT and exits 0 when it does.  The
benchmark's tests call this in a subprocess, so their own process
never starts a JVM.
"""

import os
import shutil
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT, os.path.join(ROOT, "jobs")]

import layers  # noqa: E402
import workloads  # noqa: E402


def _ran(cls, spark, work):
    wl = cls(spark, work, 0, "tiny", layers.Tracer(False, "t"))
    wl.prepare()
    wl.iterate(0)
    problems, _digest = wl.check()
    assert problems == [], problems
    return wl


def corrupt_extract(spark, work):
    from pyspark.sql import functions as F
    wl = _ran(workloads.ExtractPages, spark, work)
    clean = wl.output
    rows = clean().collect()
    victim = wl.check_sample({r[0]: (r[1], r[2]) for r in rows})[0]
    wl.output = lambda: clean().withColumn(
        "md5(text_extracted)",
        F.when(F.col("url") == victim, F.md5(F.lit("tampered")))
        .otherwise(F.col("md5(text_extracted)")))
    problems, _digest = wl.check()
    assert any("driver-parse" in p for p in problems), problems
    wl.output = lambda: clean().withColumn(
        "status", F.when(F.col("url") == victim, F.lit("error"))
        .otherwise(F.col("status")))
    problems, _digest = wl.check()
    assert any("status" in p for p in problems), problems


def corrupt_crawl(spark, work):
    from pyspark.sql import functions as F
    wl = _ran(workloads.CrawlWarc, spark, work)
    text = os.path.join(wl._out(0), "text")
    victim = wl.check_sample()[0]["url"]
    bad = spark.read.parquet(text).withColumn(
        "text_extracted",
        F.when(F.col("url") == victim, F.lit("tampered"))
        .otherwise(F.col("text_extracted")))
    bad.write.mode("overwrite").parquet(text + "-bad")
    shutil.rmtree(text)
    os.rename(text + "-bad", text)
    problems, _digest = wl.check()
    assert problems, "a tampered text row must fail the crawl check"


def corrupt_curate(spark, work):
    wl = _ran(workloads.CurateCorpus, spark, work)
    kept = wl.summary["docs_kept"]
    wl.summary = dict(wl.summary, docs_kept=kept + 1)
    problems, _digest = wl.check()
    assert any("docs_kept" in p for p in problems), problems
    shards = os.path.join(wl._out(0), "shards")
    spark.read.parquet(shards).limit(1).write.mode("append") \
        .partitionBy("shard").parquet(shards)
    wl.summary = dict(wl.summary, docs_kept=kept)
    problems, _digest = wl.check()
    assert any("shards" in p for p in problems), problems


CASES = {"extract_pages": corrupt_extract, "crawl_warc": corrupt_crawl,
         "curate_corpus": corrupt_curate}


def main(name):
    from packages_sgml_spark.spark.queries import ensure_workers
    from packages_sgml_spark.spark.session import get_spark
    from run import stop_spark

    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="corrupt-", dir=base)
    try:
        spark = get_spark(app="perfbench-corrupt", cpus=2, extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local")})
        spark.sparkContext.setLogLevel("ERROR")
        ensure_workers(spark)
        try:
            CASES[name](spark, work)
        finally:
            stop_spark(layers.Reaper())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("CAUGHT")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
