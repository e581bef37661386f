"""Output checks, run after the timed phase and never timed.

Each check returns the names of the operations whose output it failed, so
the runner can count them in `failed`; `notes` collects what was compared.
"""
import glob
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rows(tbl):
    cols = sorted(tbl.column_names)
    rows = [tuple(_norm(r[c]) for c in cols) for r in tbl.to_pylist()]
    return cols, sorted(rows, key=repr)


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


# Oracle.sql states the funnel's point-in-time join with an OR in the join
# condition, which DuckDB plans as a nested-loop join: fine at the 60k-row
# correctness scale, hours at a million lineitems. The same predicate with
# the open end as +inf keeps the equi-join on the customer key.
SLOW_JOIN = "AND (v.end_us IS NULL OR f.ship_us < v.end_us)"
FAST_JOIN = "AND f.ship_us < coalesce(v.end_us, 9223372036854775807)"


def oracle(sf_dir, out_dir, sql_by_query, limit_s=60):
    """Compare each query's Spark output (parquet under out_dir/<query>)
    with DuckDB running its oracle SQL over the same input parquet, as a
    multiset of rows. Returns {query: None if equal else reason}. A query
    still running after `limit_s` is interrupted and fails its check."""
    import threading
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # written by Spark: a directory of part files
            p = f"{p}/*.parquet"
        if glob.glob(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    verdict = {}
    for q, sql in sorted(sql_by_query.items()):
        files = glob.glob(f"{out_dir}/{q}/*.parquet")
        if not files:
            verdict[q] = "no output"
            continue
        sc, sr = _rows(pq.read_table(f"{out_dir}/{q}"))
        timer = threading.Timer(limit_s, con.interrupt)
        timer.start()
        try:
            dc, dr = _rows(con.execute(sql.replace(SLOW_JOIN, FAST_JOIN)).fetch_arrow_table())
        except duckdb.Error as e:
            verdict[q] = f"oracle failed: {e}"
            continue
        finally:
            timer.cancel()
        if sc != dc:
            verdict[q] = f"columns {sc} vs {dc}"
        elif len(sr) != len(dr):
            verdict[q] = f"rows {len(sr)} vs {len(dr)}"
        elif sr != dr:
            bad = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
            verdict[q] = f"row {bad}: {sr[bad]} vs {dr[bad]}"
        else:
            verdict[q] = None
    con.close()
    return verdict


def reference_fold(cdc_dir):
    """The CDC fold restated in Python: latest record per key (by cdc_dsn)
    wins, D deletes. Returns the expected report rows per batch."""
    snap = pq.read_table(f"{cdc_dir}/snapshot.parquet")
    state = dict(zip(snap["c_custkey"].to_pylist(), snap["c_chk"].to_pylist()))
    out = []
    for f in sorted(glob.glob(f"{cdc_dir}/batch_*.parquet")):
        b = pq.read_table(f)
        latest = {}
        for k, chk, flag, dsn in sorted(zip(b["c_custkey"].to_pylist(), b["c_chk"].to_pylist(),
                                             b["cdc_flag"].to_pylist(), b["cdc_dsn"].to_pylist()),
                                         key=lambda r: r[3]):
            latest[k] = (flag, chk)
        for k, (flag, chk) in latest.items():
            if flag == "D":
                state.pop(k, None)
            else:
                state[k] = chk
        n = b.num_rows
        n_del = sum(1 for x in b["cdc_flag"].to_pylist() if x == "D")
        out.append([os.path.basename(f), n, n - n_del, n_del, len(state), sum(state.values())])
    return out


def cosine_topk(corpus_ids, corpus_vecs, probe_vecs, k):
    """Exact top-k ids by cosine for each probe (brute force)."""
    if len(corpus_ids) == 0:
        return [[] for _ in probe_vecs]
    c = corpus_vecs / np.linalg.norm(corpus_vecs, axis=1, keepdims=True)
    p = probe_vecs / np.linalg.norm(probe_vecs, axis=1, keepdims=True)
    sims = p @ c.T
    kk = min(k, len(corpus_ids))
    idx = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
    return [[corpus_ids[j] for j in row] for row in idx]


def recall(served, exact):
    """Mean over probes of |served ∩ exact| / |exact|."""
    vals = [len(set(served.get(p, [])) & set(e)) / len(e) for p, e in exact.items() if e]
    return sum(vals) / len(vals) if vals else 0.0
