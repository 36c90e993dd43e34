"""Output check for one run: every query result against its DuckDB oracle.

Spark's results are parquet directories under `check_dir/<query>`, written
by the runner's untimed output pass next to `oracle_sql.json` (the
queries' `SparkEntry.oracleSql` entries). The compare rules are those of
tools/check_oracle.py: column names as a set, rows as a multiset, exact
cell equality.

Three curation queries are checked by a property instead: the native
q47_minhash_pairs has no oracle (its xxhash64 signatures cannot be replayed
by DuckDB), and the oracles of q93_minhash_portable and
q154_minhash_dedup_portable take minutes on the replicated corpus. Pair
lists are checked for exact precision and for recall on the planted
replicas (`minhash_pairs`); the component dedup is recomputed from the
run's own checked pair list (`dedup_by_components`).
"""
import glob
import json
import os
import time

import duckdb

from gen import TABLES


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          kind="mergesort", na_position="first")


def _cell(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
        return tuple(_cell(x) for x in v)
    return v


def _rows(df):
    rows = [[_cell(v) for v in r] for r in _canon(df).itertuples(index=False)]
    rows.sort(key=repr)
    return rows


def compare(con, q, sql):
    """Compares Spark's result view `q` with the oracle SQL's result.

    Column names must match as sets. Rows are compared as multisets inside
    DuckDB (EXCEPT ALL both ways), which is exact for every cell type; only
    when that finds a difference, or the two sides' types do not unify, is
    the pandas path of tools/check_oracle.py used to decide.
    """
    con.execute(f"CREATE OR REPLACE TEMP VIEW oracle_result AS {sql}")
    cols = [r[0] for r in con.execute(f"DESCRIBE {q}").fetchall()]
    ocols = [r[0] for r in con.execute("DESCRIBE oracle_result").fetchall()]
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} vs {sorted(ocols)}"
    sel = ", ".join(f'"{c}"' for c in sorted(cols))
    n, m = (con.execute(f"SELECT count(*) FROM {v}").fetchone()[0]
            for v in (q, "oracle_result"))
    if n != m:
        return f"rows {n} vs {m}"
    try:
        diff = con.execute(f"""SELECT
            (SELECT count(*) FROM (SELECT {sel} FROM {q} EXCEPT ALL
                                   SELECT {sel} FROM oracle_result)) +
            (SELECT count(*) FROM (SELECT {sel} FROM oracle_result EXCEPT ALL
                                   SELECT {sel} FROM {q}))""").fetchone()[0]
        if diff == 0:
            return None
    except duckdb.Error:
        pass
    a = con.execute(f"SELECT * FROM {q}").fetchdf()
    b = con.execute("SELECT * FROM oracle_result").fetchdf()
    return None if _rows(a) == _rows(b) else "value mismatch"


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _shingle_sets(con):
    """doc_id -> set of word-3-shingles (Kernels.shingles' definition)."""
    out = {}
    for doc_id, text in con.execute("SELECT doc_id, text FROM documents").fetchall():
        w = text.split()
        out[doc_id] = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)} \
            if len(w) >= 3 else {" ".join(w)}
    return out


def _jaccard(a, b):
    return len(a & b) / len(a | b)


def minhash_pairs(con, q, shingles, copies):
    """Checks a minhash near-duplicate pair list (threshold 0.7).

    Precision is exact: every reported pair must have a word-3-shingle
    Jaccard of at least 0.7, reported to 4 places. Recall is checked on the
    planted GenScale replicas (doc i and its copies i + k * stride): at
    least 90 % of those with Jaccard >= 0.9 must be reported, where LSH
    with 8 bands of 4 rows misses a pair with probability < 0.001.
    Returns (failure reason or None, reported pair set).
    """
    rows = con.execute(f"SELECT id_a, id_b, jaccard FROM {q}").fetchall()
    pairs = set()
    for a, b, j in rows:
        if a not in shingles or b not in shingles:
            return f"pair ({a}, {b}) names an unknown document", pairs
        exact = _jaccard(shingles[a], shingles[b])
        if exact < 0.7 - 1e-9 or abs(exact - j) > 1e-4:
            return f"pair ({a}, {b}) reports {j}, exact {exact:.4f}", pairs
        pairs.add((min(a, b), max(a, b)))
    stride = len(shingles) // copies
    want = [(i + x * stride, i + y * stride) for i in range(stride)
            for x in range(copies) for y in range(x + 1, copies)]
    want = [p for p in want if _jaccard(shingles[p[0]], shingles[p[1]]) >= 0.9]
    if not want:
        return "no planted replica pair reaches Jaccard 0.9", pairs
    hit = sum(p in pairs for p in want) / len(want)
    if hit < 0.9:
        return f"recall {hit:.3f} of {len(want)} planted pairs", pairs
    return None, pairs


def dedup_by_components(con, q, pairs):
    """Checks a min-id-per-component dedup of `documents` over `pairs`."""
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x
    for a, b in sorted(pairs):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    losers = {x for x in parent if find(x) != x}
    want = {r for r in con.execute(
        "SELECT doc_id, lang, source FROM documents").fetchall()
        if r[0] not in losers}
    got = con.execute(f"SELECT doc_id, lang, source FROM {q}").fetchall()
    if len(got) != len(set(got)) or set(got) != want:
        return f"{len(got)} rows, expected {len(want)} component survivors"
    return None


def check(data_dir, check_dir, queries, properties, copies, timings=None):
    """Returns {query: failure reason} for every query that fails.

    `properties` names the queries checked by a property instead of their
    oracle: ("pairs",) for a minhash pair list, ("dedup", pair_query) for
    a component dedup over that pair list. `timings`, when given, receives
    each query's check seconds.
    """
    con = connect(data_dir)
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    failed = {}
    for q in queries:
        files = glob.glob(os.path.join(check_dir, q, "*.parquet"))
        if not files:
            failed[q] = "no output"
            continue
        con.execute(f"CREATE OR REPLACE VIEW {q} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(check_dir, q, '*.parquet')}')")
    shingles, pair_sets = None, {}
    # oracle-checked queries first, then pair lists, then what uses them
    order = sorted(queries, key=lambda q: (q not in oracle,
                                           properties.get(q, ("",))[0] == "dedup"))
    for q in order:
        if q in failed:
            continue
        t0 = time.perf_counter()
        try:
            prop = properties.get(q)
            if prop is None and q in oracle:
                reason = compare(con, q, oracle[q])
            elif prop and prop[0] == "pairs":
                if shingles is None:
                    shingles = _shingle_sets(con)
                reason, pair_sets[q] = minhash_pairs(con, q, shingles, copies)
            elif prop and prop[0] == "dedup" and prop[1] in pair_sets \
                    and prop[1] not in failed:
                reason = dedup_by_components(con, q, pair_sets[prop[1]])
            else:
                reason = "no oracle or property check applies"
        except Exception as e:  # a broken oracle or output is a failure
            reason = f"{type(e).__name__}: {e}"[:300]
        if reason:
            failed[q] = reason
        if timings is not None:
            timings[q] = time.perf_counter() - t0
    con.close()
    return failed
