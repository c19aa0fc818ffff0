"""Correctness checks of a run's last pass, computed apart from the engine.

Each check reads what the runner wrote under <work>/out and returns a list
of problems (empty when the outputs are right):

- star-sql and similarity oracle ops: DuckDB runs the op's oracle SQL over
  the same parquet inputs; rows are compared with the helpers of
  tools/oracle_check.py (sorted columns, row count, sorted rows, then row
  order);
- similarity property ops, whose oracles are quadratic: every reported
  near-duplicate pair is re-verified from the documents, every planted
  near-duplicate pair must be reported, and cluster labels must partition
  the docs into connected sets that no verified pair crosses;
- wiki-etl: the generator's planted truth (crawl reach, pages,
  categories, bridge, distribution, Derby tables, converted text, moved
  files, ledger).
"""
import json
import os
import sys
from collections import Counter

import duckdb

import gen

# The repository's oracle check is the reference for how a registry op's
# rows are compared with its DuckDB oracle; its helpers are used as they are.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from oracle_check import TABLES, canon, eq  # noqa: E402

# registry ops checked by property instead of oracle
PROPERTY_OPS = {"q33_minhash_lsh_dup", "q72_dup_clusters"}
NEAR_DUP_J = 0.8


def _rows(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def compare(got, want):
    """None if the (cols, rows) results agree, else the first difference;
    the comparison of tools/oracle_check.py (sorted columns, row count,
    sorted rows, then row order)."""
    gr, gc = canon(got[1], got[0])
    wr, wc = canon(want[1], want[0])
    if gc != wc:
        return f"columns {gc} != oracle {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != oracle {len(wr)}"
    for g, w in zip(sorted(map(repr, gr)), sorted(map(repr, wr))):
        if g != w:
            return f"row {g} != oracle {w}"
    for i, (g, w) in enumerate(zip(gr, wr)):
        if not all(eq(x, y) for x, y in zip(g, w)):
            return f"row order differs at {i}: {g} vs oracle {w}"
    return None


def star_connection(data):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def check_oracle_ops(ops, data, out):
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = star_connection(data)
    problems = []
    for op in ops:
        if op in PROPERTY_OPS:
            continue
        if op not in oracle:
            problems.append(f"{op}: no oracle SQL")
            continue
        got = _rows(con, f"SELECT * FROM '{out}/{op}/*.parquet'")
        diff = compare(got, _rows(con, oracle[op]))
        if diff:
            problems.append(f"{op}: {diff}")
    return problems


def shingles(text):
    toks = text.lower().split(" ")
    if len(toks) < 3:
        return None
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def planted_pairs(texts):
    """Pairs (a < b) the generator planted, equal texts or one text equal
    to the other plus " dup", that clear the threshold when recomputed."""
    by_text = {}
    for i, t in texts.items():
        by_text.setdefault(t, []).append(i)
    pairs = set()
    for i, t in texts.items():
        for j in by_text.get(t, []) + by_text.get(t[:-4] if t.endswith(" dup") else None, []):
            if i != j:
                pairs.add((min(i, j), max(i, j)))
    return {(a, b) for a, b in pairs
            if jaccard(shingles(texts[a]), shingles(texts[b])) >= NEAR_DUP_J}


def check_near_dup_pairs(rows, texts):
    """q33: (id_a, id_b, jaccard) rows."""
    problems, seen = [], set()
    sh = {}
    for a, b, j in rows:
        if not a < b:
            problems.append(f"q33: pair ({a}, {b}) not ordered id_a < id_b")
            continue
        for d in (a, b):
            if d not in sh:
                sh[d] = shingles(texts[d]) if d in texts else None
        if sh[a] is None or sh[b] is None:
            problems.append(f"q33: pair ({a}, {b}) names a doc without shingles")
            continue
        true_j = jaccard(sh[a], sh[b])
        if true_j < NEAR_DUP_J or abs(true_j - j) > 1e-12:
            problems.append(f"q33: pair ({a}, {b}) reports J={j}, recomputed {true_j}")
        if (a, b) in seen:
            problems.append(f"q33: pair ({a}, {b}) reported twice")
        seen.add((a, b))
    missing = planted_pairs(texts) - seen
    if missing:
        problems.append(f"q33: {len(missing)} planted near-dup pairs missing, e.g. {sorted(missing)[:3]}")
    return problems


def check_clusters(rows, texts):
    """q72: (cluster_id, n_docs, members 'a|b|c') rows."""
    problems, owner = [], {}
    for cid, n, members in rows:
        ids = [int(x) for x in members.split("|")]
        if len(ids) != n or n < 2 or cid != min(ids):
            problems.append(f"q72: cluster {cid} has n_docs={n}, members {ids[:5]}")
        for d in ids:
            if d in owner:
                problems.append(f"q72: doc {d} in clusters {owner[d]} and {cid}")
            owner[d] = cid
        # the cluster must be connected by verified near-dup pairs
        sh = {d: shingles(texts[d]) for d in ids if d in texts}
        if len(sh) != len(ids) or any(s is None for s in sh.values()):
            problems.append(f"q72: cluster {cid} names unknown docs")
            continue
        reached, stack = {ids[0]}, [ids[0]]
        while stack:
            u = stack.pop()
            for v in ids:
                if v not in reached and jaccard(sh[u], sh[v]) >= NEAR_DUP_J:
                    reached.add(v)
                    stack.append(v)
        if len(reached) != len(ids):
            problems.append(f"q72: cluster {cid} is not connected by near-dup pairs")
    for a, b in planted_pairs(texts):
        if owner.get(a) is None or owner.get(a) != owner.get(b):
            problems.append(f"q72: planted pair ({a}, {b}) split across clusters")
            break
    return problems


def check_registry(ops, data, out):
    """A failed op writes no output; it is reported, the others checked."""
    problems = [f"{op}: no output" for op in ops if not os.path.isdir(os.path.join(out, op))]
    ops = [op for op in ops if os.path.isdir(os.path.join(out, op))]
    problems += check_oracle_ops(ops, data, out)
    if PROPERTY_OPS & set(ops):
        con = duckdb.connect()
        texts = dict(con.execute(f"SELECT doc_id, text FROM '{data}/documents.parquet'").fetchall())
        if "q33_minhash_lsh_dup" in ops:
            _, rows = _rows(con, f"SELECT id_a, id_b, jaccard FROM '{out}/q33_minhash_lsh_dup/*.parquet'")
            problems += check_near_dup_pairs(rows, texts)
        if "q72_dup_clusters" in ops:
            _, rows = _rows(con, f"SELECT cluster_id, n_docs, members FROM '{out}/q72_dup_clusters/*.parquet'")
            problems += check_clusters(rows, texts)
    return problems


def wiki_truth(seed, cfg):
    web, truth = gen.wiki(seed, cfg["pages"])
    titles = truth["titles"]
    url = {i: gen.WIKI + t for i, t in enumerate(titles)}
    depth = gen.bfs_depths(truth["links"], 0, cfg["max_depth"])
    # fetched pages (depth < max_depth) also enqueue their category links
    crawl = {url[i]: d for i, d in depth.items()}
    for i, d in depth.items():
        if d < cfg["max_depth"]:
            for c in truth["categories"][i]:
                cu = gen.WIKI + gen.category_path(c)
                crawl[cu] = min(crawl.get(cu, d + 1), d + 1)
    pages = sorted(depth)
    return {
        "crawl": crawl,
        "pages": pages,
        "url": url,
        "file": {i: f"en.wikipedia.org_wiki_{titles[i]}" for i in pages},
        "html": {i: web[i][1] for i in pages},
        "truth": truth,
    }


def check_wiki(seed, cfg, out):
    t = wiki_truth(seed, cfg)
    tr = t["truth"]
    con = duckdb.connect()
    problems = []
    got = dict(con.execute(f"SELECT url, depth FROM '{out}/crawl/*.parquet'").fetchall())
    if got != t["crawl"]:
        extra = sorted(set(got) - set(t["crawl"]))[:3]
        missing = sorted(set(t["crawl"]) - set(got))[:3]
        wrong = sorted(u for u in set(got) & set(t["crawl"]) if got[u] != t["crawl"][u])[:3]
        problems.append(f"crawl: extra {extra}, missing {missing}, wrong depth {wrong}")

    files = {t["file"][i]: i for i in t["pages"]}
    pages = con.execute(
        f"SELECT id, file_name, word_count, last_edited_date FROM '{out}/jdbc_pages/*.parquet'").fetchall()
    page_id = {}
    for pid, fname, wc, date in pages:
        i = files.get(fname)
        if i is None:
            problems.append(f"jdbc pages: unexpected file_name {fname}")
            continue
        page_id[pid] = i
        if wc != len(t["html"][i].split(" ")):
            problems.append(f"jdbc pages: {fname} word_count {wc} != {len(t['html'][i].split(' '))}")
        if date != tr["dates"][i]:
            problems.append(f"jdbc pages: {fname} last_edited_date {date} != {tr['dates'][i]}")
    if len(page_id) != len(pages) or set(page_id.values()) != set(t["pages"]):
        problems.append(f"jdbc pages: {len(pages)} rows for {len(t['pages'])} planted pages")

    cats = dict(con.execute(f"SELECT id, name FROM '{out}/jdbc_categories/*.parquet'").fetchall())
    want_pairs = {(i, c) for i in t["pages"] for c in tr["categories"][i]}
    if set(cats.values()) != {c for _, c in want_pairs} or len(cats) != len(set(cats.values())):
        problems.append(f"jdbc categories: {sorted(cats.values())}")
    bridge = con.execute(
        f"SELECT page_id, category_id FROM '{out}/jdbc_page_categories/*.parquet'").fetchall()
    got_pairs = {(page_id.get(p), cats.get(c)) for p, c in bridge}
    if got_pairs != want_pairs or len(bridge) != len(want_pairs):
        problems.append(f"jdbc page_categories: {len(bridge)} rows, "
                        f"{len(got_pairs ^ want_pairs)} pairs differ from planted")

    counts = Counter(c for _, c in want_pairs)
    want_dist = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    got_dist = con.execute(f"SELECT name, n_pages FROM '{out}/distribution/*.parquet'").fetchall()
    if got_dist != want_dist:
        problems.append(f"distribution: {got_dist[:3]} != planted {want_dist[:3]}")

    with open(os.path.join(out, "wiki_dirs.json")) as f:
        dirs = json.load(f)
    conv = con.execute(
        f"SELECT file_name, extracted_text FROM '{dirs['converted']}/*.parquet'").fetchall()
    seen = set()
    for fname, text in conv:
        i = files.get(fname)
        if i is None or fname in seen:
            problems.append(f"converted: unexpected or repeated row {fname}")
            continue
        seen.add(fname)
        noise = [w for w in ("scriptnoise", "stylenoise", "noscriptnoise", ".noise") if w in text]
        if tr["bodies"][i] not in text or noise or f" {tr['titles'][i]} " in f" {text} ":
            problems.append(f"converted: {fname} lacks its body or keeps head/script/style text {noise}")
    if seen != set(files):
        problems.append(f"converted: {len(seen)} pages for {len(files)} planted")

    left = [f for f in os.listdir(dirs["html"]) if f.endswith(".html")]
    done = {f[:-5] for f in os.listdir(dirs["done"]) if f.endswith(".html")}
    if left or done != set(files):
        problems.append(f"mark: {len(left)} files not moved, {len(done)} of {len(files)} in done")
    ledger = con.execute(f"SELECT url FROM '{dirs['ledger']}/*.parquet'").fetchall()
    if sorted(u for u, in ledger) != sorted(t["url"][i] for i in t["pages"]):
        problems.append(f"ledger: {len(ledger)} rows for {len(t['pages'])} pages")
    return problems


def check(workload, seed, data, work, cfg):
    out = os.path.join(work, "out")
    if workload in ("star-sql", "similarity"):
        return check_registry(cfg["ops"], data, out)
    if workload == "wiki-etl":
        return check_wiki(seed, cfg, out)
    raise ValueError(workload)
