"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed
gives byte-identical inputs, and the program under test only ever
sees the generated files or DataFrames.  Each returns a ``shape``
dict (counts, bytes, mix) that the run record keeps beside the
metrics, plus the planted facts the output checks compare against.
"""

import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Per-workload input sizes.  "full" is what the timed runs use;
# "tiny" is the smoke-test size (same shapes, a fraction of the rows).
SIZES = {
    "full": {"pages": 8000, "archives": 4, "warc_docs": 8000,
             "corpus_docs": 3000, "hl_docs": 2000, "hl_orders": 7500},
    "tiny": {"pages": 200, "archives": 2, "warc_docs": 120,
             "corpus_docs": 200, "hl_docs": 200, "hl_orders": 600},
}

# ------------------------------------------------------------------
# extract_pages: synthetic crawl pages in bench.py's four shapes
# ------------------------------------------------------------------

# the shapes of bench.py's parse measurements, as synthetic_pages
# keyword sets: repeated link targets, unique quoted links, unique
# unquoted links, unique links with <br>/<img> EMPTY elements
PAGE_SHAPES = (
    ("repeated", {}),
    ("unique", {"unique_links": True}),
    ("unquoted", {"unique_links": True, "unquoted_links": True}),
    ("empties", {"unique_links": True, "empty_tags": True}),
)
PAGE_SCALE = 12          # paragraphs x 1..7: 2-15 KB pages
LARGE_SHARE = 0.01       # the size tail: 8x the paragraphs (~40-120 KB)
EMPTY_SHARE = 0.005      # zero-byte bodies (status "empty")
OVERSIZE_PAGES = 2       # over MAX_HTML_BYTES (status "too_large")


def pages_df(spark, seed, size="full"):
    """The extract_pages input as a DataFrame (url, html): PAGE_SHAPES
    in equal parts, a LARGE_SHARE tail of big pages, EMPTY_SHARE empty
    bodies and OVERSIZE_PAGES pages just over MAX_HTML_BYTES.  Built
    JVM-side by the program's synthetic_pages with seed-derived
    seeds, so the same (seed, size) gives the same rows.  Returns
    (df, planted) with the planted status counts."""
    from pyspark.sql import functions as F
    from packages_sgml_spark.spark.extract import MAX_HTML_BYTES
    from packages_sgml_spark.spark.pages import synthetic_pages

    n = SIZES[size]["pages"]
    n_large = max(1, int(n * LARGE_SHARE))
    n_empty = max(1, int(n * EMPTY_SHARE))
    n_shape = (n - n_large - n_empty - OVERSIZE_PAGES) // len(PAGE_SHAPES)
    parts = []

    def tagged(df, tag):
        return df.select(F.concat("url", F.lit("?" + tag)).alias("url"),
                         "html")

    for k, (name, kw) in enumerate(PAGE_SHAPES):
        parts.append(tagged(synthetic_pages(
            spark, n_shape, seed=seed * 1009 + k, scale=PAGE_SCALE, **kw),
            name))
    parts.append(tagged(synthetic_pages(
        spark, n_large, seed=seed * 1009 + 7, scale=8 * PAGE_SCALE,
        unique_links=True), "large"))
    parts.append(spark.range(n_empty).select(
        F.concat(F.lit("https://empty.example.org/%d/" % seed),
                 F.col("id").cast("string")).alias("url"),
        F.encode(F.lit(""), "utf-8").alias("html")))
    filler = ("<p>oversize filler paragraph %d with <b>markup</b> and "
              "a <a href=\"/x\">link</a>.</p>" % seed)
    reps = MAX_HTML_BYTES // len(filler) + 64
    parts.append(spark.range(OVERSIZE_PAGES).select(
        F.concat(F.lit("https://huge.example.org/%d/" % seed),
                 F.col("id").cast("string")).alias("url"),
        F.encode(F.concat(F.lit("<!DOCTYPE html><html><body>"),
                          F.repeat(F.lit(filler), reps),
                          F.lit("</body></html>")), "utf-8")
        .alias("html")))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    planted = {"ok": n_shape * len(PAGE_SHAPES) + n_large,
               "too_large": OVERSIZE_PAGES, "empty": n_empty}
    return df, planted

# ------------------------------------------------------------------
# crawl_warc: gzip WARC archives of small prose / thin pages
# ------------------------------------------------------------------

STOPWORDS = ("the", "and", "that", "with", "have", "this", "from",
             "they", "be", "of", "to", "in", "is", "was", "for", "on")
# 8000 content words: syllable products, all alphabetic, 4-9 letters
_SYL = ("ka", "lo", "mi", "ren", "tor", "va", "sel", "du", "pan", "ge",
        "ris", "mo", "tal", "be", "cor", "ni", "fa", "lum", "ste", "qua")
VOCAB = sorted({a + b + c for a in _SYL for b in _SYL for c in _SYL
                if 4 <= len(a + b + c) <= 9})
# non-ASCII words per declared charset: each is representable in
# that charset, so the page bytes transcode back losslessly
CHARSET_WORDS = {
    "utf-8": ("naïve", "Zürich", "façade", "東京"),
    "iso-8859-1": ("café", "über", "niño", "crème"),
    "windows-1252": ("“quoted”", "café", "don’t", "—dash"),
}
# Declared charsets.  Common Crawl's published crawl statistics
# (cc-crawl-statistics, "charsets") put UTF-8 above 90% of its HTML
# captures; the rest is split here between two legacy Latin charsets
# so the transcode path still carries work.
CHARSET_MIX = (("utf-8", 0.92), ("iso-8859-1", 0.04),
               ("windows-1252", 0.04))
# HTTP statuses.  Common Crawl stores non-200 captures in separate
# crawldiagnostics WARCs, so its content archives are all 200.  The
# 3% of 404/301/500 is a deliberate stress choice, kept small so
# docs_per_s stays nearly all parsed pages: it gives the job's
# status filter work and lets the check see that only 200s reach
# the text sink.
STATUS_MIX = ((200, 0.97), (404, 0.01), (301, 0.01), (500, 0.01))
# Prose vs thin pages: a design choice, not a measured web share.
# 60% prose gives both outcomes of the Gopher/C4 quality filter
# real work (the old scale_crawl corpus passed 0 of 14,400).
PROSE_SHARE = 0.6


def _pick(rng, mix):
    x, acc = rng.random(), 0.0
    for v, w in mix:
        acc += w
        if x < acc:
            return v
    return mix[-1][0]


def _sentence(rng, n_words, extra=None):
    words = []
    for j in range(n_words):
        words.append(STOPWORDS[rng.randrange(len(STOPWORDS))]
                     if j % 3 == 1 else VOCAB[rng.randrange(len(VOCAB))])
    if extra:
        words.insert(rng.randrange(1, n_words), extra)
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def prose_page(rng, doc_id, charset):
    """Article page: 4-6 paragraphs of sentences with stopwords and
    terminal punctuation — passes Gopher and C4."""
    special = CHARSET_WORDS[charset]
    # the lead sentence guarantees Gopher's two-stopword minimum
    paras = ["<p>This is the account of %s and %s.</p>"
             % (VOCAB[rng.randrange(len(VOCAB))],
                VOCAB[rng.randrange(len(VOCAB))])]
    for k in range(rng.randint(4, 6)):
        sents = [_sentence(rng, rng.randint(8, 14),
                           special[rng.randrange(len(special))]
                           if k == 0 and s == 0 else None)
                 for s in range(rng.randint(2, 3))]
        paras.append("<p>%s</p>" % " ".join(sents))
    return ("<!DOCTYPE html>\n<html><head><meta charset=\"%s\">\n"
            "<title>Article %d</title></head>\n<body>\n<h1>Article %d"
            "</h1>\n%s\n</body></html>"
            % (charset, doc_id, doc_id, "\n".join(paras)))


def thin_page(rng, doc_id, charset):
    """Navigation page: short link items and a script block — fails
    Gopher (too few words) and C4 (no punctuated lines, a brace)."""
    items = "".join(
        "<li><a href=\"/n/%d/%d\">%s %s</a>" % (
            doc_id, j, VOCAB[rng.randrange(len(VOCAB))],
            CHARSET_WORDS[charset][j % 4] if j == 0 else "")
        for j in range(rng.randint(6, 14)))
    return ("<!DOCTYPE html>\n<html><head><meta charset=\"%s\">\n"
            "<title>Index %d</title>\n<script>var cfg = {page: %d};"
            "</script></head>\n<body><ul>%s</ul></body></html>"
            % (charset, doc_id, doc_id, items))


def warc_docs(seed, size="full"):
    """The crawl corpus as plain records: one dict per response
    (url, status, charset, kind, html_utf8).  Deterministic in
    (seed, size)."""
    rng = random.Random(seed * 7919 + 17)
    docs = []
    for i in range(SIZES[size]["warc_docs"]):
        charset = _pick(rng, CHARSET_MIX)
        status = _pick(rng, STATUS_MIX)
        kind = "prose" if rng.random() < PROSE_SHARE else "thin"
        html = (prose_page if kind == "prose" else thin_page)(
            rng, i, charset)
        docs.append({"url": "https://site%d.example.com/a/%d"
                            % (rng.randrange(300), i),
                     "status": status, "charset": charset,
                     "kind": kind, "html": html})
    return docs


def write_warc_archives(root, seed, size="full"):
    """Write the crawl corpus as member-per-record .warc.gz archives
    under ``root``.  Returns (docs, shape); docs carry the expected
    (url, html_utf8) of every record that reaches the text sink."""
    from packages_sgml_spark.core.warc import (build_record,
                                               build_response_record,
                                               write_warc)
    docs = warc_docs(seed, size)
    n_arch = SIZES[size]["archives"]
    os.makedirs(root, exist_ok=True)
    reasons = {200: "OK", 404: "Not Found", 301: "Moved Permanently",
               500: "Internal Server Error"}
    total = 0
    for a in range(n_arch):
        recs = [build_record("warcinfo", b"software: perfbench\r\n",
                             date="2026-01-01T00:00:00Z",
                             content_type="application/warc-fields")]
        for d in docs[a::n_arch]:
            payload = d["html"].encode(d["charset"])
            if d["status"] == 301:
                payload = b""
            recs.append(build_response_record(
                d["url"], "2026-01-01T00:00:00Z", payload,
                http_content_type="text/html; charset=%s" % d["charset"],
                status=d["status"], reason=reasons[d["status"]]))
        path = os.path.join(root, "crawl-%03d.warc.gz" % a)
        with open(path, "wb") as f:
            write_warc(f, recs)
        total += os.path.getsize(path)
    kept = [d for d in docs if d["status"] == 200]
    shape = {"archives": n_arch, "records": len(docs) + n_arch,
             "responses": len(docs), "docs_200": len(kept),
             "prose_200": sum(d["kind"] == "prose" for d in kept),
             "archive_bytes": total,
             "payload_bytes_200": sum(len(d["html"].encode("utf-8"))
                                      for d in kept),
             "charsets": {c: sum(d["charset"] == c for d in docs)
                          for c, _w in CHARSET_MIX},
             "statuses": {str(s): sum(d["status"] == s for d in docs)
                          for s, _w in STATUS_MIX}}
    return kept, shape


# ------------------------------------------------------------------
# curate_corpus: boilerplate cluster + shared footer
# ------------------------------------------------------------------

# 15 words; its eight 8-grams occur in every non-boilerplate doc, so
# dedup_spans cuts all 15 from every survivor that carries it
FOOTER = ("all rights reserved contact the site owner today for more "
          "information about this page .")
FOOTER_WORDS = len(FOOTER.split())
BOILERPLATE_SHARE = 0.3


def _boilerplate_text():
    lines = ["the %s and %s of this page is kept for the archive ."
             % (VOCAB[i], VOCAB[i + 7]) for i in range(6)]
    return "\n".join(lines)


def curate_corpus(path, seed, size="full"):
    """Write the curation corpus parquet (doc_id, source, text).

    Planted structure (the checks compare the funnel against it):
    - BOILERPLATE_SHARE of docs are byte-identical (one dedup
      cluster; exactly one representative survives);
    - every other doc is 5-9 lines of 12 uniformly drawn words with a
      stopword every third word and a terminal period (passes Gopher
      and C4; no accidental 8-gram shared with another doc), a line
      ending in a doc-unique token, then the shared FOOTER line.  The
      unique token keeps every 8-gram that straddles the footer's
      edge unique, so exactly the FOOTER_WORDS footer words are cut.
    Returns (shape, expected_funnel)."""
    rng = random.Random(seed * 104729 + 3)
    n = SIZES[size]["corpus_docs"]
    n_bp = int(n * BOILERPLATE_SHARE)
    bp_ids = set(rng.sample(range(n), n_bp))
    bp = _boilerplate_text()
    ids, sources, texts = [], [], []
    tokens_kept = len(bp.split())        # the one representative
    for i in range(n):
        if i in bp_ids:
            text = bp
        else:
            lines = []
            for li in range(rng.randint(5, 9)):
                ws = [STOPWORDS[rng.randrange(16)] if j % 3 == 0
                      else VOCAB[rng.randrange(len(VOCAB))]
                      for j in range(12)]
                if li == 0:
                    ws[0], ws[3] = "the", "and"
                lines.append(" ".join(ws) + " .")
            lines.append("filed under ref%d" % i)
            text = "\n".join(lines + [FOOTER])
            tokens_kept += len(text.split())
        ids.append(i)
        sources.append("host%d" % (0 if rng.random() < 0.6
                                   else rng.randrange(1, 200)))
        texts.append(text)
    table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "source": sources, "text": texts})
    pq.write_table(table, path)
    kept = n - n_bp + 1
    expected = {"docs_in": n, "pass_dedup": kept, "pass_gopher": n,
                "pass_c4": n, "docs_kept": kept, "docs_out": kept,
                "tokens_before_strip": tokens_kept,
                "tokens_after_strip":
                    tokens_kept - FOOTER_WORDS * (kept - 1)}
    shape = {"docs": n, "boilerplate_docs": n_bp,
             "text_bytes": sum(len(t.encode()) for t in texts),
             "files": 1}
    return shape, expected


# ------------------------------------------------------------------
# headline tables: the inputs of bench.py's HEADLINE queries
# ------------------------------------------------------------------

# the tables the HEADLINE queries read, with the testdata schema
# (TESTDATA.md); value ranges follow the testdata, so the decimal
# casts in queries.py hold
HEADLINE_TABLES = ("customer", "orders", "lineitem", "events",
                   "documents", "embeddings")
_DOC_WORDS = ("the", "and", "of", "der", "und", "die", "le", "et", "la",
              "el", "y", "los", "spark", "query", "table", "scan", "join",
              "merge", "sort", "hash", "window", "batch", "stream", "row",
              "column", "vector", "filter", "order", "part", "line",
              "customer", "value", "key", "data", "fast", "slow", "big",
              "small", "agg", "group")
_LANGS = ("en", "de", "fr", "es", "zh")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMB_DIM = 64
NEAR_DUP_SHARE = 0.1     # documents that copy another with one word changed
EXACT_DUP_SHARE = 0.02   # documents that copy another verbatim


def _ts(rng, start, days):
    return start + datetime.timedelta(
        microseconds=rng.randrange(days * 86400 * 10**6))


def headline_tables(root, seed, size="full"):
    """Write the HEADLINE queries' tables as <root>/<table>.parquet.

    Planted structure: NEAR_DUP_SHARE of the documents copy an
    earlier one with one word changed and EXACT_DUP_SHARE copy one
    verbatim, so the dedup and similarity queries find pairs; the
    embeddings are unit vectors around ten label centroids.
    Returns shape (rows per table)."""
    rng = random.Random(seed * 15485863 + 11)
    cfg = SIZES[size]
    n_docs, n_orders = cfg["hl_docs"], cfg["hl_orders"]
    n_cust = max(n_orders // 10, 20)
    os.makedirs(root, exist_ok=True)
    ts0 = datetime.datetime(1995, 1, 1)
    cols = {}

    cols["customer"] = {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)],
                                pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2)
                      for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n_cust)]}

    cols["orders"] = {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust)
                               for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2)
                         for _ in range(n_orders)],
        "o_orderdate": pa.array([_ts(rng, ts0, 2400)
                                 for _ in range(n_orders)],
                                pa.timestamp("us")),
        "o_orderpriority": [rng.choice(_PRIORITIES)
                            for _ in range(n_orders)]}

    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey",
                          "l_linenumber", "l_quantity", "l_extendedprice",
                          "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for o in range(n_orders):
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_orders // 4 + 1))
            li["l_suppkey"].append(rng.randrange(n_cust // 10 + 1))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(
                round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(_ts(rng, ts0, 2500))
    for k in ("l_orderkey", "l_partkey", "l_suppkey"):
        li[k] = pa.array(li[k], pa.int64())
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    cols["lineitem"] = li

    n_ev = n_orders
    n_users = max(n_ev // 60, 10)
    cols["events"] = {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([_ts(rng, datetime.datetime(2024, 1, 1), 30)
                        for _ in range(n_ev)], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_ev)],
                            pa.int64()),
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n_ev)],
        "value": [round(rng.uniform(0, 330), 2) for _ in range(n_ev)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n_ev)]}

    texts = []
    for i in range(n_docs):
        x = rng.random()
        if i and x < EXACT_DUP_SHARE:
            text = texts[rng.randrange(i)]
        elif i and x < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[rng.randrange(i)].split(" ")
            words[rng.randrange(len(words))] = "edit%d" % i
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(_DOC_WORDS)
                            for _ in range(rng.randint(20, 90)))
        texts.append(text)
    cols["documents"] = {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": ["src%d" % rng.randrange(20) for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}

    cents = [[rng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(10)]
    embs, labels = [], []
    for _ in range(n_docs):
        lab = rng.randrange(10)
        v = [c + rng.gauss(0, 0.6) for c in cents[lab]]
        norm = sum(x * x for x in v) ** 0.5
        embs.append([x / norm for x in v])
        labels.append(lab)
    cols["embeddings"] = {
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(embs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}

    for name in HEADLINE_TABLES:
        pq.write_table(pa.table(cols[name]),
                       os.path.join(root, name + ".parquet"))
    return {name: len(next(iter(cols[name].values())))
            for name in HEADLINE_TABLES}
