"""Seeded input generators for the benchmark.

`star(dir, seed)` writes the star-schema tables the registry ops read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), one parquet file each. Compared with the engine's
sf0.01 test data files: every column name and Arrow type is the same
(the three timestamp columns, events.ts, o_orderdate and l_shipdate, are
microsecond timestamps there and here, although FIXTURES.md lists them as
ns and ms); row counts are the same except documents and embeddings,
which have 1,000 rows against 500; the ranges of the date and event-time
columns, the means of l_quantity, l_discount and events.value, the
number of event users and the document lengths agree within a few
percent. Text, names and JSON props are drawn from small vocabularies
and are not the test data's.

`wiki(seed, pages)` builds a Wikipedia-shaped HTML corpus whose page bodies
are drawn from a generated documents table, with a planted link graph,
planted categories and last-edited dates, and script/style/head noise
that text extraction must drop. It returns the corpus and its planted
truth; nothing here depends on the engine.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the star tables (the engine's sf0.01 sizes) and of the
# corpus tables.
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "users": 150,
         "documents": 1000, "embeddings": 1000}

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _dates(rng, start, days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def documents(rng, n, dup_frac=0.05):
    """(doc_id, text, lang, source, n_chars) with planted near-duplicates:
    a `dup_frac` share of docs copy another doc's text and append " dup"."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, o = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[o:o + ln]))
        o += ln
    dups = rng.choice(n, int(n * dup_frac), replace=False)
    origin = rng.integers(0, n, len(dups))
    for d, s in zip(dups, origin):
        if s != d:
            texts[d] = texts[s] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def star(dir, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(dir, exist_ok=True)
    s = SIZES
    _write(dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = s["customer"]
    _write(dir, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n).tolist()})
    n = s["supplier"]
    _write(dir, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = s["part"]
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    _write(dir, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"],
                             n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10.0, 1)})
    n = s["orders"]
    _write(dir, "orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, s["customer"], n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _dates(rng, "1995-01-01", 2404, n),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n).tolist()})
    n = s["lineitem"]
    _write(dir, "lineitem", {
        "l_orderkey": rng.integers(0, s["orders"], n),
        "l_partkey": rng.integers(0, s["part"], n),
        "l_suppkey": rng.integers(0, s["supplier"], n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": _dates(rng, "1995-01-02", 2498, n)})
    n = s["events"]
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    _write(dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, s["users"], n),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n).tolist(),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    _write(dir, "documents", documents(rng, s["documents"]))
    n = s["embeddings"]
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(dir, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


WIKI = "https://en.wikipedia.org/wiki/"
CATEGORIES = [f"Category {c}" for c in
              "Alpha Beta Gamma Delta Epsilon Zeta Eta Theta Iota Kappa Lambda Mu".split()]
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]


def title(seed, i):
    return f"Page_{seed}_{i}"


OUT_DEGREE = 3     # random out-links per page
UNREACHABLE = 0.1  # share of pages in the tail nothing reachable links to


def wiki(seed, pages):
    """Corpus of `pages` pages plus the planted truth.

    Page i is titled `Page_<seed>_<i>`. Page 0 is the crawl seed. Links:
    each page links OUT_DEGREE random pages, plus a tree edge that makes
    every page except the planted unreachable tail reachable from page 0;
    pages in the tail link into the reachable part but nothing reachable
    links to them. Every page also carries an external link and a
    fragment variant of an internal link, which the crawler must
    filter and normalize. Returns (web, truth): web is a list of
    (url, html); truth holds per-page title, body, categories, lastmod
    date and out-links.
    """
    rng = np.random.default_rng(seed)
    docs = documents(rng, pages, dup_frac=0.0)
    n_reach = pages - int(pages * UNREACHABLE)
    titles = [title(seed, i) for i in range(pages)]
    links = [set() for _ in range(pages)]
    for i in range(1, n_reach):  # tree edge parent -> i, parent < i
        links[int(rng.integers(0, i))].add(i)
    for i in range(pages):
        for t in rng.integers(0, n_reach, OUT_DEGREE):
            if t != i:
                links[i].add(int(t))
    for i in range(n_reach, pages):  # the tail links into the reachable part only
        links[i].add(int(rng.integers(0, n_reach)))
    for i in range(pages):  # every page links somewhere (its variant link needs a target)
        if not links[i]:
            links[i].add(1 if i == 0 else 0)
    cats, dates, web = [], [], []
    for i in range(pages):
        k = int(rng.integers(0, 4))  # 0..3 categories; 0 = no catlinks list
        cs = sorted(set(rng.choice(CATEGORIES, k, replace=False).tolist())) if k else []
        cats.append(cs)
        d = dt.date(2020, 1, 1) + dt.timedelta(days=int(rng.integers(0, 1800)))
        dates.append(d)
        body = docs["text"][i]
        anchors = " ".join(
            f'<a href="/wiki/{titles[t]}">{titles[t]}</a>' for t in sorted(links[i]))
        variant = sorted(links[i])[0]
        catlinks = ("<div id=\"mw-normal-catlinks\"><ul>" +
                    "".join(f'<li><a href="/wiki/{category_path(c)}">{c}</a></li>' for c in cs) +
                    "</ul></div>") if cs else ""
        html = (
            f"<html><head><title>{titles[i]}</title>"
            f"<meta charset=\"utf-8\"><style>.noise{{color:red}} stylenoise{i}</style>"
            f"<script>var scriptnoise{i} = 1;</script></head><body>"
            f"<p>{body}</p>"
            f"<p>{anchors} <a href=\"{WIKI}{titles[variant]}#section\">see</a> "
            f"<a href=\"https://example.org/elsewhere/{i}\">out</a></p>"
            f"<noscript>noscriptnoise{i}</noscript>{catlinks}"
            f"<ul><li id=\"footer-info-lastmod\">This page was last edited on "
            f"{d.day} {MONTHS[d.month - 1]} {d.year}, at 10:11 (UTC).</li></ul>"
            f"</body></html>")
        web.append((WIKI + titles[i], html))
    truth = {"titles": titles, "bodies": docs["text"], "links": [sorted(l) for l in links],
             "categories": cats, "dates": dates, "n_reach": n_reach}
    return web, truth


def category_path(name):
    return "Category:" + name.replace(" ", "_")


def bfs_depths(links, start, max_depth):
    """{page index: BFS depth} for pages within `max_depth` hops of `start`."""
    depth, frontier = {start: 0}, [start]
    for d in range(1, max_depth + 1):
        nxt = []
        for u in frontier:
            for v in links[u]:
                if v not in depth:
                    depth[v] = d
                    nxt.append(v)
        frontier = nxt
    return depth
