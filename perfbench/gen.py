"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (workload, seed): the same seed gives
byte-identical parquet files, and `digest` hashes them so every result
records exactly which inputs it measured. One process, numpy only; no
thread pool (pyarrow's writer is told to use a single thread).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

pa.set_cpu_count(1)
pa.set_io_thread_count(1)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["large", "small", "hot", "cold", "shiny", "matte", "light", "heavy"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "nut", "valve", "spring", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

EPOCH_1995 = np.datetime64("1995-01-01", "D")
# the ingest stream's holdout source and its one budget-capped source
HOLDOUT = "src0"
BULK = "src10"


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   use_dictionary=True, write_statistics=True)


def _dates_us(days):
    return (EPOCH_1995 + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _words(rng, vocab, n_words):
    idx = rng.integers(0, len(vocab), n_words)
    return " ".join(vocab[i] for i in idx)


def tpch_tables(rng, out, n_cust, n_supp, n_part, n_ord, n_line):
    """TPC-DI-shaped source tables under `out`, with the schemas
    graft.Tables reads (TPC-H star: region, nation, customer, supplier,
    part, orders, lineitem). Returns the number of rows written per table."""
    os.makedirs(out, exist_ok=True)
    _write(pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(np.arange(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
           f"{out}/nation.parquet")
    ck = np.arange(n_cust, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }), f"{out}/customer.parquet")
    sk = np.arange(n_supp, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }), f"{out}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    }), f"{out}/part.parquet")
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 900.0, 500000.0),
        "o_orderdate": pa.array(_dates_us(odays), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }), f"{out}/orders.parquet")
    lok = rng.integers(0, n_ord, n_line, dtype=np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(_dates_us(odays[lok] + rng.integers(1, 122, n_line)),
                               pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line}


def cdc_batches(rng, out, n_cust, n_batches, batch_rows):
    """The incremental-load feed: a DimCustomer-like snapshot keyed on
    c_custkey plus `n_batches` I/U/D CDC batches (cdc_flag, cdc_dsn). Keys
    repeat within a batch (the latest dsn wins), deletes hit live keys and
    inserts mint new ones, so every fold rule is exercised."""
    os.makedirs(out, exist_ok=True)
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_tier": pa.array(rng.integers(1, 6, n_cust), pa.int32()),
        "c_chk": rng.integers(1, 1 << 20, n_cust, dtype=np.int64),
    }), f"{out}/snapshot.parquet")
    next_key, dsn = n_cust, 0
    for b in range(n_batches):
        flags = rng.choice(np.array(["I", "U", "D"]), batch_rows, p=[0.3, 0.55, 0.15])
        n_ins = int((flags == "I").sum())
        keys = rng.integers(0, next_key, batch_rows, dtype=np.int64)
        keys[flags == "I"] = np.arange(next_key, next_key + n_ins)
        next_key += n_ins
        # a slice of updates re-touch keys this batch already carries
        rep = rng.random(batch_rows) < 0.05
        keys[rep] = keys[rng.integers(0, batch_rows, int(rep.sum()))]
        _write(pa.table({
            "c_custkey": keys,
            "c_tier": pa.array(rng.integers(1, 6, batch_rows), pa.int32()),
            "c_chk": rng.integers(1, 1 << 20, batch_rows, dtype=np.int64),
            "cdc_flag": flags.tolist(),
            "cdc_dsn": np.arange(dsn, dsn + batch_rows, dtype=np.int64),
        }), f"{out}/batch_{b:03d}.parquet")
        dsn += batch_rows


def _unit(v):
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def ingest_stream(rng, out, n_batches, batch_docs, probes_per_batch, rounds=3, dim=32):
    """The corpus_ingest feed: `n_batches` micro-batches of documents
    (doc_id, text, source, embedding, batch, plant) and `rounds` probe
    batches per ingest batch (probe batch j follows ingest batch
    j // rounds). `plant` names what each document was built to trigger:
    clean, exact_dup, near_dup, holdout, contaminated, low_quality or
    repetitive; src10 carries ~1/3 of the volume so the per-source budget
    caps it while the other sources stay under. Returns the budget."""
    os.makedirs(out, exist_ok=True)
    vocab = [f"w{i:03d}{c}" for i, c in zip(range(800), "abcdefghijklmnop" * 50)]
    centers = _unit(rng.normal(0, 1, (24, dim)))
    rows = {k: [] for k in ("doc_id", "text", "source", "embedding", "batch", "plant")}
    clean, holdout_texts, next_id = [], [], 0

    def emit(text, source, plant, b):
        nonlocal next_id
        c = int(rng.integers(0, len(centers)))
        rows["doc_id"].append(next_id)
        rows["text"].append(text)
        rows["source"].append(source)
        rows["embedding"].append(_unit(centers[c] + rng.normal(0, 0.35, dim)))
        rows["batch"].append(b)
        rows["plant"].append(plant)
        next_id += 1

    for b in range(n_batches):
        for _ in range(batch_docs):
            u = rng.random()
            src = f"src{int(rng.integers(1, 10))}"
            if u < 0.06:
                t = _words(rng, vocab, int(rng.integers(30, 60)))
                holdout_texts.append(t)
                emit(t, HOLDOUT, "holdout", b)
            elif u < 0.14 and clean:
                emit(clean[int(rng.integers(0, len(clean)))], src, "exact_dup", b)
            elif u < 0.18 and clean:
                emit(clean[int(rng.integers(0, len(clean)))] + " " + vocab[0],
                     src, "near_dup", b)
            elif u < 0.22 and holdout_texts:
                h = holdout_texts[int(rng.integers(0, len(holdout_texts)))].split()
                i = int(rng.integers(0, len(h) - 4))
                t = _words(rng, vocab, 20) + " " + " ".join(h[i:i + 4]) + " " + _words(rng, vocab, 20)
                emit(t, src, "contaminated", b)
            elif u < 0.25:
                emit(" ".join(["a", "the", "of"][int(rng.integers(0, 3))]
                              for _ in range(int(rng.integers(20, 40)))), src, "low_quality", b)
            elif u < 0.28:
                phrase = _words(rng, vocab, 3)
                emit(" ".join([phrase] * 12), src, "repetitive", b)
            else:
                emit(_words(rng, vocab, int(rng.integers(30, 70))),
                     BULK if rng.random() < 0.45 else src, "clean", b)
        # only earlier batches' clean, regular-source docs are re-posted, so
        # every planted duplicate has an admitted original
        clean.extend(t for t, s, p, bb in zip(rows["text"], rows["source"], rows["plant"],
                                               rows["batch"])
                     if bb == b and p == "clean" and s != BULK)
    _write(pa.table({
        "doc_id": np.array(rows["doc_id"], dtype=np.int64),
        "text": rows["text"],
        "source": rows["source"],
        "embedding": pa.array(rows["embedding"], pa.list_(pa.float32())),
        "batch": pa.array(rows["batch"], pa.int32()),
        "plant": rows["plant"],
    }), f"{out}/docs.parquet")
    n_probe = n_batches * rounds * probes_per_batch
    pc = rng.integers(0, len(centers), n_probe)
    _write(pa.table({
        "probe_id": np.arange(n_probe, dtype=np.int64),
        "embedding": pa.array(list(_unit(centers[pc] + rng.normal(0, 0.35, (n_probe, dim)))),
                              pa.list_(pa.float32())),
        "batch": pa.array(np.repeat(np.arange(n_batches * rounds), probes_per_batch),
                          pa.int32()),
    }), f"{out}/probes.parquet")
    # per-source token budget: 1.2x the most any regular source offers over
    # the whole feed, so only the bulk source (~6x a regular one per batch)
    # runs into it, within the first few batches
    tokens = {}
    for t, src in zip(rows["text"], rows["source"]):
        tokens[src] = tokens.get(src, 0) + len(t.split())
    return int(1.2 * max(v for k, v in tokens.items() if k not in (BULK, HOLDOUT)))


# Workload sizes. tpcdi_load keeps lineitem in the low millions; the ingest
# feed holds the seeding micro-batch plus 3 more; a run times one per 24 run
# seconds, at least one (at most 2 for the 1-60 s run lengths allowed).
SIZES = {
    "tpcdi_load": dict(n_cust=30000, n_supp=2000, n_part=40000, n_ord=100000,
                       n_line=1000000, cdc_batches=20, cdc_rows=4000),
    "corpus_ingest": dict(n_batches=4, batch_docs=60, probes=16),
}


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; returns a dict of facts the
    runner passes on (row counts, budget)."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    s = SIZES[workload]
    facts = {}
    if workload == "tpcdi_load":
        facts["rows"] = tpch_tables(rng, f"{out}/sf", s["n_cust"], s["n_supp"], s["n_part"],
                                    s["n_ord"], s["n_line"])
        cdc_batches(rng, f"{out}/cdc", s["n_cust"], s["cdc_batches"], s["cdc_rows"])
    elif workload == "corpus_ingest":
        facts["budget"] = ingest_stream(rng, f"{out}/stream", s["n_batches"],
                                        s["batch_docs"], s["probes"])
    else:
        raise ValueError(f"unknown workload {workload}")
    facts["digest"] = digest(out)
    return facts


def digest(root):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
