#!/usr/bin/env python3
"""Recompute perfbench/expected.json: the output digest of each
workload for seeds 1-10 (full size) and seed 0 (tiny size).

    python3 perfbench/expected.py

Run from the repository root.  The digests come from the extract
operator's batch loop run in this process, without Spark's extract:
crawl_warc parses the 200-status pages the generator planted,
extract_pages parses every page of the generated DataFrame (built
by Spark, collected here).  A run's check compares its output digest
with these.
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

SEEDS = {"full": list(range(1, 11)), "tiny": [0]}


def crawl_digest(seed, size):
    import gen
    from workloads import _digest, _driver_parse
    docs = [d for d in gen.warc_docs(seed, size) if d["status"] == 200]
    got = _driver_parse([d["url"] for d in docs],
                        [d["html"].encode("utf-8") for d in docs])
    return _digest((u, s, m) for u, (s, m) in got.items())


def pages_digest(spark, seed, size):
    import gen
    from workloads import _digest, _driver_parse
    df, _planted = gen.pages_df(spark, seed, size)
    rows = df.collect()
    got = _driver_parse([r[0] for r in rows], [bytes(r[1]) for r in rows])
    return _digest((u, s, m) for u, (s, m) in got.items())


def main():
    import layers
    from packages_sgml_spark.spark.session import get_spark
    from run import DRIVER_MEMORY, stop_spark

    out = {"crawl_warc": {}, "extract_pages": {}}
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    spark = get_spark(app="perfbench-expected", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for size, seeds in SEEDS.items():
            out["crawl_warc"][size] = {
                str(s): crawl_digest(s, size) for s in seeds}
            out["extract_pages"][size] = {
                str(s): pages_digest(spark, s, size) for s in seeds}
            print(size, "done", file=sys.stderr)
    finally:
        stop_spark(layers.Reaper())
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
