"""The benchmark workloads.

Each workload generates its inputs from the seed (``prepare``), runs
one pass over them per ``iterate`` call through the program's public
entry points, and checks the last pass's output outside the timed
region (``check``).  In a traced run ``probes`` adds the per-layer
numbers that need a call of their own.
"""

import argparse
import hashlib
import os
import random
import shutil
import time

import gen
import layers
from bench import _force


def _digest(rows):
    """Order-independent digest of (url, status, md5(text)) rows."""
    h = hashlib.sha256()
    for r in sorted("%s\t%s\t%s" % tuple(r) for r in rows):
        h.update(r.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _md5(text):
    return None if text is None else hashlib.md5(
        text.encode("utf-8")).hexdigest()


def _driver_parse(urls, htmls):
    """The extract operator's own batch loop, run in the driver
    without Spark: {url: (status, md5(text))}."""
    import pandas as pd
    from packages_sgml_spark.spark.extract import extract_batch_iter

    pdf = pd.DataFrame({"url": urls, "html": htmls})
    out = next(extract_batch_iter(iter([pdf]), "html5", False, False))
    return {u: (s, _md5(t)) for u, s, t in
            zip(out["url"], out["status"], out["text_extracted"])}


def _status_counts(statuses):
    """ok / too_large / error row counts; every status other than ok,
    too_large and empty is an error."""
    out = {"ok": 0, "too_large": 0, "error": 0}
    for s in statuses:
        key = s if s in ("ok", "too_large") else "error"
        if s != "empty":
            out[key] += 1
    return out


def _timed(tracer, name, fn):
    """Run ``fn`` under a span of that name; return its wall
    seconds."""
    t0 = time.perf_counter()
    with tracer.span(name):
        fn()
    return time.perf_counter() - t0


def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(path) for f in fs)


def arrow_floor(pages):
    """Passthrough mapInPandas over the same (url, html) columns and
    partitioning as extract(): ships every page to a Python worker
    and returns (url, byte length) — the Arrow round trip with no
    parse, the floor under extract.s."""
    from pyspark.sql import functions as F
    from packages_sgml_spark.spark.util import spread

    def passthrough(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({"url": pdf["url"],
                                "n": pdf["html"].map(len)})

    src = spread(pages.select("url", "html"), F.xxhash64("url"))
    _force(src.mapInPandas(passthrough, "url string, n long"))


def headline_probe(spark, root, seed, size, tracer):
    """bench.py's HEADLINE queries (spark.queries, spark.similarity)
    over seeded tables: each query runs once untimed and collected,
    then once timed to a noop sink on a settled heap.  The collected
    rows must equal the query's DuckDB oracle (row count and the
    order-insensitive value hash of tools/check_correctness.py).
    Returns ({query.<name>_s: seconds}, problems)."""
    import bench
    import check_correctness
    import duckdb
    from packages_sgml_spark.spark.oracles import ORACLES
    from packages_sgml_spark.spark.queries import QUERIES

    gen.headline_tables(root, seed, size)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in gen.HEADLINE_TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(root, t + ".parquet")))
    res, problems = {}, []
    for name in bench.HEADLINE:
        df = QUERIES[name](spark, root)
        rows = [tuple(r) for r in df.collect()]
        spark._jvm.System.gc()
        res["query.%s_s" % name] = _timed(tracer, "probe:query:" + name,
                                          lambda: _force(df))
        cur = con.execute(ORACLES[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if (len(rows) != len(orows) or sorted(df.columns) != sorted(ocols)
                or check_correctness.table_hash(df.columns, rows) !=
                check_correctness.table_hash(ocols, orows)):
            problems.append("query %s: %d rows, oracle %d rows, values "
                            "differ" % (name, len(rows), len(orows)))
    con.close()
    return res, problems


class Workload:
    """One workload: inputs from ``seed``, a pass per ``iterate``."""

    name = None
    # action-span name -> per-layer metric (self seconds per pass)
    span_metrics = {}
    # the program's public functions a pass calls, traced as layers
    layer_calls = ()
    # untimed passes before the timed ones
    warmup_passes = 0
    # timed passes a run makes even when --seconds is up: a run in a
    # slow period of the machine still takes a median over several
    min_passes = 1

    def __init__(self, spark, work, seed, size, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.n_docs = 0
        self.counts = {}

    def between(self, i):
        """Untimed clean-up after pass ``i``."""


class ExtractPages(Workload):
    name = "extract_pages"
    # only the first pass after set-up is slower (JVM JIT, worker
    # caches): 3.7 s, then 2.8-3.3 s (README.md, "Warm-up")
    warmup_passes = 1
    min_passes = 3
    span_metrics = {"write:noop": "extract.s"}
    layer_calls = (("packages_sgml_spark.spark.extract", "extract"),)

    def prepare(self):
        from pyspark.sql import functions as F
        df, self.planted = gen.pages_df(self.spark, self.seed, self.size)
        self.pages = df.cache()
        st = self.pages.select(
            F.count("*").alias("n"), F.sum(F.length("html")).alias("b"),
            F.max(F.length("html")).alias("mx")).collect()[0]
        self.n_docs = st.n
        return {"pages": st.n, "html_bytes": st.b,
                "max_page_bytes": st.mx,
                "partitions": self.pages.rdd.getNumPartitions(),
                "planted": self.planted}

    def iterate(self, i):
        from packages_sgml_spark.spark.extract import extract
        with self.tracer.span("extract"):
            _force(extract(self.pages, nodes=False))
        self.last = i

    def output(self):
        """The checked output: (url, status, md5(text)) of one more
        extract over the cached pages."""
        from pyspark.sql import functions as F
        from packages_sgml_spark.spark.extract import extract
        return extract(self.pages, nodes=False).select(
            "url", "status", F.md5("text_extracted"))

    def check_sample(self, urls):
        """The seeded 32 ok pages, the first empty and the first
        oversize page: the rows the check parses in the driver."""
        by = {}
        for u in sorted(urls):
            by.setdefault(urls[u][0], []).append(u)
        rng = random.Random(self.seed)
        ok = by.get("ok", [])
        return (rng.sample(ok, min(32, len(ok))) +
                by.get("empty", [])[:1] + by.get("too_large", [])[:1])

    def check(self):
        from pyspark.sql import functions as F
        rows = self.output().collect()
        got = {r[0]: (r[1], r[2]) for r in rows}
        problems = []
        statuses = [s for s, _m in got.values()]
        counts = {k: statuses.count(k) for k in ("ok", "too_large",
                                                 "empty")}
        if len(rows) != self.n_docs or len(got) != len(rows) or \
                counts != self.planted:
            problems.append("extract: %d rows, %d urls, status %s; "
                            "planted %d pages, %s" % (
                                len(rows), len(got), counts,
                                self.n_docs, self.planted))
        sample = self.check_sample(got)
        pick = (self.pages.where(F.col("url").isin(sample))
                .select("url", "html").collect())
        want = _driver_parse([r[0] for r in pick],
                             [bytes(r[1]) for r in pick])
        bad = [u for u in sample if want.get(u) != got.get(u)]
        if bad:
            problems.append("driver-parse mismatch on %d of %d sampled "
                            "pages" % (len(bad), len(sample)))
        self.counts = _status_counts(statuses)
        return problems, _digest((u, s, m) for u, (s, m) in got.items())

    def probes(self):
        from pyspark.sql import functions as F
        # 200 pages in a seeded hash order, so every shape is sampled
        sample = (self.pages.where("length(html) between 1 and 1000000")
                  .orderBy(F.xxhash64("url", F.lit(self.seed)))
                  .select("html").limit(200).collect())
        htmls = [bytes(r[0]) for r in sample]
        res, problems = headline_probe(
            self.spark, os.path.join(self.work, "headline"), self.seed,
            self.size, self.tracer)
        res["extract.arrow_floor_s"] = _timed(
            self.tracer, "probe:arrow_floor",
            lambda: arrow_floor(self.pages))
        res.update(layers.parser_probe(htmls))
        return res, problems


class CrawlWarc(Workload):
    name = "crawl_warc"
    # the first pass after set-up takes twice a warm one (JIT
    # warm-up); one untimed pass (~14 s) is what the run budget
    # carries (README.md, "Warm-up")
    warmup_passes = 1
    min_passes = 2
    span_metrics = {"write:text": "sink.text_write_s",
                    "write:metrics": "sink.metrics_write_s",
                    "write:quality": "quality.s",
                    "write:archives": "sink.archives_write_s"}
    layer_calls = tuple(
        ("packages_sgml_spark.spark." + m, f) for m, f in (
            ("warc", "warc_todo_paths"), ("warc", "warc_pages"),
            ("warc", "read_warc"), ("extract", "extract"),
            ("checkpoint", "read_parquet_or_none"),
            ("checkpoint", "resume_filter"),
            ("checkpoint", "with_lineage"),
            ("checkpoint", "partition_metrics"),
            ("textops", "quality_features")))

    def prepare(self):
        self.warc_dir = os.path.join(self.work, "warc")
        self.kept, shape = gen.write_warc_archives(
            self.warc_dir, self.seed, self.size)
        self.n_docs = shape["responses"]
        self.shape = shape
        return shape

    def _out(self, i):
        return os.path.join(self.work, "crawl-out-%d" % i)

    def iterate(self, i):
        import crawl_job
        args = argparse.Namespace(
            input=self.warc_dir, output=self._out(i), run_id="it%d" % i,
            dialect="html5", text_format="plain", statuses="200",
            repartition="auto", wet=False, quality=True)
        with self.tracer.span("crawl_job.run"):
            self.summary = crawl_job.run(self.spark, args)
        self.last = i

    def between(self, i):
        if i > 0:
            shutil.rmtree(self._out(i - 1), ignore_errors=True)

    def check(self):
        from pyspark.sql import functions as F
        out = self._out(self.last)
        problems = []
        want_sum = {"docs_new": self.shape["docs_200"],
                    "docs_pass_quality": self.shape["prose_200"]}
        for k, v in want_sum.items():
            if self.summary.get(k) != v:
                problems.append("%s=%s, planted %s"
                                % (k, self.summary.get(k), v))
        rows = (self.spark.read.parquet(out + "/text")
                .select("url", "status", F.md5("text_extracted"))
                .collect())
        got = {r[0]: (r[1], r[2]) for r in rows}
        self.counts = _status_counts(s for s, _m in got.values())
        if (len(rows) != len(got) or set(got) !=
                {d["url"] for d in self.kept} or
                self.counts["ok"] != len(self.kept)):
            problems.append("text sink: %d rows, %d urls, status %s; "
                            "planted %d docs" % (len(rows), len(got),
                                                 self.counts,
                                                 len(self.kept)))
        sample = self.check_sample()
        want = _driver_parse([d["url"] for d in sample],
                             [d["html"].encode("utf-8") for d in sample])
        bad = [u for u in want if want[u] != got.get(u)]
        if bad:
            problems.append("driver-parse mismatch on %d of %d sampled "
                            "pages" % (len(bad), len(want)))
        self.counts["quality_pass"] = self.summary.get("docs_pass_quality")
        self.counts["output_bytes"] = _dir_bytes(out)
        return problems, _digest((u, s, m) for u, (s, m) in got.items())

    def check_sample(self):
        """The seeded 32 pages the check parses in the driver."""
        rng = random.Random(self.seed)
        return rng.sample(self.kept, min(32, len(self.kept)))

    def probes(self):
        from packages_sgml_spark.spark.extract import extract
        from packages_sgml_spark.spark.warc import warc_pages

        pages = warc_pages(self.spark, self.warc_dir).cache()
        res = {"warc_pages.s": _timed(self.tracer, "probe:warc_pages",
                                      pages.count),
               "extract.s": _timed(
                   self.tracer, "probe:extract",
                   lambda: _force(extract(pages, nodes=False))),
               "extract.arrow_floor_s": _timed(
                   self.tracer, "probe:arrow_floor",
                   lambda: arrow_floor(pages))}
        pages.unpersist()
        paths = sorted(os.path.join(self.warc_dir, f)
                       for f in os.listdir(self.warc_dir))
        res.update(layers.warc_probe(paths))
        rng = random.Random(self.seed)
        sample = rng.sample(self.kept, min(200, len(self.kept)))
        res.update(layers.parser_probe(
            [d["html"].encode("utf-8") for d in sample]))
        curate, problems = curate_probe(
            self.spark, os.path.join(self.work, "curate"), self.seed,
            self.size, self.tracer)
        res.update(curate)
        return res, problems


def curate_probe(spark, work, seed, size, tracer):
    """curate_job --strip-spans on the seeded curation corpus
    (CurateCorpus): one untimed pass, then one pass traced as the
    curate layers, its output checked like a workload's.  Returns
    ({curate.*: value}, problems)."""
    wl = CurateCorpus(spark, work, seed, size, tracer)
    os.makedirs(work, exist_ok=True)
    wl.prepare()
    wl.iterate(0)
    spark._jvm.System.gc()
    with layers.traced_actions(tracer, spark, wl.layer_calls,
                               prefix="probe:"):
        t0 = time.perf_counter()
        with tracer.span("probe:curate"):
            wl.iterate(1)
        dt = time.perf_counter() - t0
    self_t, _wall = tracer.self_times("probe:curate")
    res = {metric: self_t.get("probe:" + span, 0.0)
           for span, metric in wl.span_metrics.items()}
    problems, _digest = wl.check()
    res.update({"curate.docs_per_s": wl.n_docs / dt,
                "curate.docs_kept": wl.counts["docs_kept"] or 0,
                "curate.docs_out": wl.counts["docs_out"] or 0,
                "curate.tokens_after": wl.counts["tokens_after"] or 0})
    return res, problems


class CurateCorpus(Workload):
    """The curation pass the crawl_warc traced run probes (not a timed
    workload: see README.md)."""
    name = "curate_corpus"
    span_metrics = {"write:decisions": "curate.decisions_s",
                    "write:clean": "curate.clean_s",
                    "write:shards": "curate.shards_s",
                    "write:metrics": "curate.metrics_s"}
    layer_calls = tuple(
        ("packages_sgml_spark.spark." + m, f) for m, f in (
            ("checkpoint", "read_parquet_or_none"),
            ("datafilters", "corpus_keep"), ("dedup", "dedup_keep"),
            ("textops", "quality_features"),
            ("datafilters", "dedup_spans"),
            ("datafilters", "shard_assign")))

    def prepare(self):
        self.path = os.path.join(self.work, "corpus.parquet")
        shape, self.expected = gen.curate_corpus(self.path, self.seed,
                                                 self.size)
        self.n_docs = shape["docs"]
        return shape

    def _out(self, i):
        return os.path.join(self.work, "curate-out-%d" % i)

    def iterate(self, i):
        import curate_job
        args = argparse.Namespace(
            input=self.path, output=self._out(i), run_id="it%d" % i,
            id_col="doc_id", text_col="text", strip_spans=True, ngram=8,
            min_kept_words=5, n_shards=8)
        with self.tracer.span("curate_job.run"):
            self.summary = curate_job.run(self.spark, args)
        self.last = i

    def between(self, i):
        if i > 0:
            shutil.rmtree(self._out(i - 1), ignore_errors=True)

    def check(self):
        from pyspark.sql import functions as F
        out = self._out(self.last)
        problems = ["funnel %s=%s, planted %s" % (k, self.summary.get(k), v)
                    for k, v in self.expected.items()
                    if self.summary.get(k) != v]
        corpus = self.spark.read.parquet(self.path)
        bp = gen._boilerplate_text()
        decisions = self.spark.read.parquet(out + "/decisions")
        n_rep = (decisions.join(corpus.where(F.col("text") == bp),
                                "doc_id")
                 .where("keep = 1").count())
        if n_rep != 1:
            problems.append("boilerplate cluster kept %d representatives"
                            % n_rep)
        clean = self.spark.read.parquet(out + "/clean")
        footer = " ".join(gen.FOOTER.split())
        with_footer = clean.where(F.instr("text", footer) > 0).count()
        if with_footer:
            problems.append("footer left in %d survivors" % with_footer)
        shards = self.spark.read.parquet(out + "/shards")
        per_doc = shards.groupBy("doc_id").count()
        st = per_doc.agg(F.count("*").alias("docs"),
                         F.max("count").alias("mx")).collect()[0]
        per_shard = shards.groupBy("shard").agg(
            F.count("*").alias("n"), F.max("shard_pos").alias("mx"),
            F.countDistinct("shard_pos").alias("nd")).collect()
        if (st.docs != self.expected["docs_out"] or st.mx != 1 or
                any(r.n != r.mx or r.n != r.nd for r in per_shard)):
            problems.append("shards: %d docs (max %s copies), ranks "
                            "not contiguous in some shard"
                            % (st.docs, st.mx))
        rows = (clean.select(F.col("doc_id").cast("string"),
                             F.lit("ok"), F.md5("text")).collect())
        self.counts = {"docs_kept": self.summary.get("docs_kept"),
                       "docs_out": self.summary.get("docs_out"),
                       "tokens_after":
                           self.summary.get("tokens_after_strip"),
                       "output_bytes": _dir_bytes(out)}
        return problems, _digest(rows)

    def probes(self):
        # no HTML in this workload: the parser probe runs on the
        # corpus text wrapped in the docs_as_pages template, so the
        # parser rows exist on every workload and read as "unused"
        import pyarrow.parquet as pq
        texts = pq.read_table(self.path, columns=["text"]) \
            .column("text").to_pylist()[:200]
        htmls = [("<html><head><title>Doc</title></head><body><p>%s"
                  "</p></body></html>" % t.replace("&", "&amp;")
                  .replace("<", "&lt;")).encode("utf-8") for t in texts]
        res, problems = headline_probe(
            self.spark, os.path.join(self.work, "headline"), self.seed,
            self.size, self.tracer)
        res.update(layers.parser_probe(htmls))
        return res, problems


WORKLOADS = {w.name: w for w in (ExtractPages, CrawlWarc)}
