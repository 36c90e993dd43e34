"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the registered queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the schemas and value distributions of the project's TPC-H-like test
data, scaled by `sf` (sf=0.1: 600,000 lineitem rows, 5,000 documents,
2,000 embeddings). The same (sf, seed, copies) always gives byte-identical
files.

`copies` > 1 applies the GenScale scheme (graft/GenScale.scala) to the
documents and embeddings: the base corpus is replicated with doc_id/vec_id
strides, every copy after the first gets a " v<k>" text suffix, and copied
vectors get GenScale's deterministic +-0.003 perturbation. Replicated
tables are written as `copies` files, like GenScale's output.
"""
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
COLORS = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                   "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
GENERATOR_VERSION = 1


def _days(rng, n, lo, hi):
    """n midnight timestamps uniform over the days [lo, hi]."""
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(int) + 1
    return (lo_d + rng.integers(0, span, n)).astype("datetime64[us]")


def _cents(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path, files=1):
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _documents(rng, n):
    n_words = rng.integers(10, 101, n)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]
    # planted near-duplicates (5 %): another document's text plus " dup";
    # and a few exact duplicates (0.2 %)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        texts[i] = texts[rng.integers(0, n)]
    ids = np.arange(n, dtype=np.int64)
    return ids, texts, LANGS[rng.choice(len(LANGS), n, p=LANG_P)], \
        np.array([f"src{i % 20}" for i in range(n)])


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), rng.integers(0, 10, n).astype(np.int32)


def generate(out, sf, seed, copies=1):
    """Write every table under `out` (replacing it) and return row counts."""
    rng = np.random.default_rng(seed)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_evt = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)
    rows = {}

    def put(name, cols, files=1):
        t = pa.table(cols)
        rows[name] = t.num_rows
        _write(t, os.path.join(tmp, f"{name}.parquet"), files)

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    put("part", {
        "p_partkey": pk,
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PTYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt)) + t0
    put("events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15000 * sf)), n_evt),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    ids, texts, langs, sources = _documents(rng, n_doc)
    vecs, labels = _embeddings(rng, n_emb)
    if copies > 1:
        ids = np.concatenate([ids + c * n_doc for c in range(copies)])
        texts = texts + [f"{t} v{i % copies}"
                         for c in range(1, copies)
                         for i, t in zip(range(c * n_doc, (c + 1) * n_doc),
                                         texts)]
        langs, sources = np.tile(langs, copies), np.tile(sources, copies)
        vid = np.arange(n_emb * copies, dtype=np.int64)
        pos = np.arange(vecs.shape[1], dtype=np.int64)
        delta = ((vid[:, None] * 31 + pos[None, :]) % 7 - 3).astype(np.float32)
        delta[:n_emb] = 0.0
        vecs = np.tile(vecs, (copies, 1)) + delta / np.float32(1000.0)
        labels = np.tile(labels, copies)
    n_files = copies if copies > 1 else 1
    put("documents", {
        "doc_id": ids, "text": texts, "lang": langs, "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        n_files)
    put("embeddings", {
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels}, n_files)

    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return rows


def content_hash(root):
    """SHA-256 over every file's relative path and bytes under `root`."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure(out, sf, seed, copies=1, expect=None):
    """Reuse `out` while its manifest and content hash match; else regenerate.

    Returns (manifest, generation seconds; 0.0 on reuse). `expect` maps
    table names to the row counts generation must produce.
    """
    key = {"version": GENERATOR_VERSION, "sf": sf, "seed": seed,
           "copies": copies}
    mpath = out + ".manifest.json"
    manifest, gen_s = None, 0.0
    try:
        with open(mpath) as fh:
            manifest = json.load(fh)
        if manifest["key"] != key or manifest["sha256"] != content_hash(out):
            manifest = None
    except (OSError, ValueError, KeyError):
        manifest = None
    if manifest is None:
        t0 = time.perf_counter()
        rows = generate(out, sf, seed, copies)
        gen_s = time.perf_counter() - t0
        manifest = {"key": key, "rows": rows, "sha256": content_hash(out)}
        with open(mpath, "w") as fh:
            json.dump(manifest, fh)
    for name, n in (expect or {}).items():
        if manifest["rows"][name] != n:
            raise RuntimeError(f"{name}: {manifest['rows'][name]} rows, "
                               f"expected {n}")
    return manifest, gen_s
