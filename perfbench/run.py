"""graft benchmark runner: one command builds graft from source, generates
the workload's inputs from the seed, drives them through graft's public
entry points in one JVM, checks the outputs (untimed), and prints the
metrics. The last stdout line is the result JSON.

    python3 perfbench/run.py --workload tpcdi_load --seed 1 --seconds 10 --trace 0

See perfbench/README.md for the workloads, metrics and layers.
"""
import argparse
import bisect
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
from stats import median, self_times, tail, union_length  # noqa: E402

WORKLOADS = ("tpcdi_load", "corpus_ingest")
HARD_LIMIT_S = 170
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# layers that own spans (host, gates and storage are measured by counters)
SPAN_LAYERS = ("sources", "warehouse", "queries", "stream", "ann", "expr", "plan")
TIMED_KINDS = ("hist", "cdc", "ingest", "serve")
GATE_REASONS = ("holdout_excluded", "quality_gate", "repetition_filter", "near_dup",
                "decontaminated", "budget_rejected")
FS_METHODS = ("exists", "isDirectory", "isFile", "list", "walk", "readString", "readBytes",
              "readLines", "writeString", "writeBytes", "createDirectories",
              "createDirectoryClaim", "atomicReplace", "moveIfAbsent", "replaceIfMatch",
              "deleteIfExists", "deleteRecursively", "copy", "size", "lastModifiedMillis",
              "openRead", "openWrite", "tryProcessLock")
EXPR_FNS = ("cosine_similarity", "word_ngrams", "int8_pack", "int8_dot", "pq_adc",
            "dot_micro", "bloom_probe", "morton32", "char_entropy")
BUILTIN_FNS = ("cosine_similarity", "word_ngrams", "dot_micro")
PLAN_FIELDS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
               "input_records", "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
               "driver_gap_s")
# registered queries timed in the traced runs: five over the warehouse
# tables (tpcdi_load), the curation funnel over the ingest feed
QUERIES = ("q_agg_hash", "q_join_shuffle", "q_win_rank", "q_sql_recursive", "q_pagerank",
           "q_curation_audit")
QUERY_HOME = {q: "tpcdi_load" for q in QUERIES[:5]} | {"q_curation_audit": "corpus_ingest"}


def die(msg, code=1):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


# ---- host canaries ---------------------------------------------------------

def host_canaries(workdir):
    """A fixed pure-CPU loop and a fixed write+fsync+read of 32 MiB, timed.
    Recorded with every run so a contended run is visible; never used to
    drop or rescale a run."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    cpu = time.perf_counter() - t
    path = os.path.join(workdir, "io_canary.bin")
    block = bytes(range(256)) * 4096
    t = time.perf_counter()
    with open(path, "wb") as fh:
        for _ in range(32):
            fh.write(block)
        fh.flush()
        os.fsync(fh.fileno())
    with open(path, "rb") as fh:
        while fh.read(1 << 20):
            pass
    io = time.perf_counter() - t
    os.remove(path)
    return {"cpu_s": cpu, "io_s": io}


# ---- the JVM ---------------------------------------------------------------

def run_jvm(classes, jars, run_dir, args, cpus, facts, deadline):
    work, out = os.path.join(run_dir, "work"), os.path.join(run_dir, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
              "--workload", args.workload, "--in", os.path.join(run_dir, "in"),
              "--work", work, "--out", out, "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cpus", str(cpus),
              "--budget", str(facts.get("budget", 0))])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    result = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(l for l in fh.readlines()[-40:]))
        die(f"JVM run failed (exit {rc})")
    with open(result) as fh:
        return json.load(fh)


# ---- per-workload metrics and checks ------------------------------------------

def ops_of(res, kind):
    return [o for o in res["ops"] if o["kind"] == kind]


def oracle_checks(res, sf_dir, run_dir, det, bad):
    """Compare every query output the JVM wrote under out/check with its
    oracle SQL; a probed query that differs fails its operation."""
    if not res["oracle_sql"]:
        return {}
    verdict = check.oracle(sf_dir, f"{run_dir}/out/check", res["oracle_sql"])
    det["checks"]["oracle"] = verdict
    bad.update(id(o) for o in res["ops"]
               if o["kind"].startswith("probe:") and verdict.get(o["name"]))
    return verdict


def tpcdi(res, run_dir, facts, det, bad):
    inp = os.path.join(run_dir, "in")
    verdict = oracle_checks(res, f"{inp}/sf", run_dir, det, bad)
    funnel = {r["stage"]: r["n_rows"]
              for r in pq.read_table(f"{run_dir}/out/check/q_warehouse_etl").to_pylist()}
    hist = ops_of(res, "hist")
    if verdict.get("q_warehouse_etl"):
        bad.update(id(o) for o in hist)
    # source rows: CSV, FINWIRE and XML lines plus the orders and lineitem rows
    rows = (funnel["src_customer_lines"] + funnel["src_finwire_lines"] + funnel["xml_actions"]
            + facts["rows"]["orders"] + facts["rows"]["lineitem"])
    walls = [o["wall_s"] for o in hist if o["ok"]]
    ref = check.reference_fold(f"{inp}/cdc")
    passes = res["results"]["cdc_passes"]
    cdc_ops = ops_of(res, "cdc")
    mism = 0
    i = 0
    pass_walls, pass_rows, batch_walls = [], [], []
    for reports in passes:
        n_ops = len(reports) + (0 if len(reports) == len(ref) else 1)
        ops = cdc_ops[i:i + n_ops]
        i += n_ops
        for o, got, want in zip(ops, reports, ref):
            if [str(x) for x in got] != [str(x) for x in want]:
                bad.add(id(o))
                mism += 1
        if len(reports) == len(ref) and all(o["ok"] for o in ops):
            pass_walls.append(sum(o["wall_s"] for o in ops))
            pass_rows.append(sum(r[1] for r in reports))
            batch_walls += [o["wall_s"] for o in ops]
    det["checks"]["cdc_report_mismatches"] = mism
    det["checks"]["cdc_passes"] = len(passes)
    hist_rate = rows / median(walls) if walls else 0.0
    incr_rate = sum(pass_rows) / sum(pass_walls) if pass_walls else 0.0
    det["metrics"].update({
        "load.hist_rows_per_s": (hist_rate, "rows/s"),
        "load.incr_rows_per_s": (incr_rate, "rows/s"),
        "load.hist_wall_p50_s": (median(walls) if walls else None, "s"),
        "load.source_rows": (rows, "count"),
        "load.hist_samples": (len(walls), "count"),
        "load.cdc_batches_folded": (len(batch_walls), "count"),
    })
    layer = {
        "sources.rejects": funnel["customer_rejects"] + funnel["finwire_cmp_rejects"]
        + funnel["finwire_unknown"],
        "warehouse.hist_s": median(walls) if walls else 0.0,
        "incr.fold_s": median(batch_walls) if batch_walls else 0.0,
        "incr.state_rows": float(ref[-1][4]),
    }
    pr = res.get("probes", {})
    if pr:
        layer["sources.csv.rows_per_s"] = funnel["src_customer_lines"] / pr["sources.csv_s"]
        layer["sources.finwire.rows_per_s"] = funnel["src_finwire_lines"] / pr["sources.finwire_s"]
        layer["sources.xml.rows_per_s"] = funnel["xml_actions"] / pr["sources.xml_s"]
        layer["scd2.build_s"] = pr["scd2.build_s"]
    return hist_rate, incr_rate, layer


def ingest(res, run_dir, facts, det, bad):
    import numpy as np
    inp = os.path.join(run_dir, "in", "stream")
    r = res["results"]
    oracle_checks(res, f"{run_dir}/work/sf", run_dir, det, bad)
    n_timed = r["timed_batches"]
    docs = pq.read_table(f"{inp}/docs.parquet").to_pydict()
    offered = [i for i, b in enumerate(docs["batch"]) if b <= n_timed]
    batch_of = {docs["doc_id"][i]: docs["batch"][i] for i in offered}
    plant = {docs["doc_id"][i]: docs["plant"][i] for i in offered}
    audit = pq.read_table(r["dirs"]["audit"], columns=["doc_id", "decision"]).to_pydict()
    decisions = {}
    dup_decisions = 0
    for d, dec in zip(audit["doc_id"], audit["decision"]):
        dup_decisions += d in decisions
        decisions[d] = dec
    # every offered doc decided once; planted duplicates and holdout docs
    # rejected for the planted reason
    bad_batches = set()
    wrong = {}
    for d, b in batch_of.items():
        dec = decisions.get(d)
        want = {"exact_dup": "near_dup", "holdout": "holdout_excluded"}.get(plant[d])
        if dec is None or (want and dec != want):
            bad_batches.add(b)
            wrong.setdefault(plant[d], []).append((d, dec))
    corpus = pq.read_table(f"{run_dir}/out/check/corpus_ids")["doc_id"].to_pylist()
    admitted = {d for d, dec in decisions.items() if dec == "admitted"}
    corpus_ok = len(corpus) == len(set(corpus)) and set(corpus) == admitted
    ingest_ops = [o for o in res["ops"] if o["kind"] in ("seed", "ingest")]
    serve_ops = [o for o in res["ops"] if o["kind"] in ("seed_serve", "serve")]
    for o in ingest_ops:
        if not corpus_ok or dup_decisions or batch_no(o) in bad_batches:
            bad.add(id(o))
    det["checks"].update({
        "offered": len(batch_of), "decided": len(decisions), "duplicate_decisions": dup_decisions,
        "published": len(corpus), "published_unique": len(set(corpus)),
        "published_equals_admitted": corpus_ok,
        "planted": {p: sum(1 for d in plant if plant[d] == p) for p in sorted(set(plant.values()))},
        "wrong_decisions": {k: v[:5] for k, v in wrong.items()},
    })
    # serve: every answer is a doc admitted by then; recall@10 vs brute force
    probes = pq.read_table(f"{inp}/probes.parquet").to_pydict()
    served = pq.read_table(r["dirs"]["served"], columns=["probe_id", "vec_id"]).to_pydict()
    answered = set(served["probe_id"])
    by_probe = {}
    for p, v in zip(served["probe_id"], served["vec_id"]):
        if v is not None:
            by_probe.setdefault(p, []).append(v)
    emb = {docs["doc_id"][i]: docs["embedding"][i] for i in offered}
    recalls = []
    rounds = r["serve_rounds"]
    for o in serve_ops:
        b = batch_no(o)
        if not o["ok"]:
            continue
        live = sorted(d for d in admitted if batch_of[d] <= b)
        j = b * rounds + int(o["name"].split("_r")[1])
        ps = [i for i, pb in enumerate(probes["batch"]) if pb == j]
        pid = [probes["probe_id"][i] for i in ps]
        if any(p not in answered for p in pid) or any(
                v not in admitted or batch_of[v] > b for p in pid for v in by_probe.get(p, [])):
            bad.add(id(o))
        exact = check.cosine_topk(live, np.array([emb[d] for d in live], dtype=np.float64),
                                  np.array([probes["embedding"][i] for i in ps], dtype=np.float64),
                                  10)
        if o["kind"] == "serve":
            recalls.append(check.recall(by_probe, dict(zip(pid, exact))))
    timed_i = [o for o in ingest_ops if o["kind"] == "ingest" and o["ok"]]
    timed_s = [o for o in serve_ops if o["kind"] == "serve" and o["ok"]]
    iw, sw = [o["wall_s"] for o in timed_i], [o["wall_s"] for o in timed_s]
    n_docs = sum(1 for b in batch_of.values() if b in {batch_no(o) for o in timed_i})
    n_probes = len(timed_s) * gen.SIZES["corpus_ingest"]["probes"]
    docs_rate = n_docs / sum(iw) if iw else 0.0
    probe_rate = n_probes / sum(sw) if sw else 0.0
    offered_bytes = sum(len(docs["text"][i].encode()) + len(docs["source"][i].encode())
                        + 8 + 4 * len(docs["embedding"][i]) for i in offered)
    it, iv = tail(iw)
    st, sv = tail(sw)
    det["metrics"].update({
        "ingest.docs_per_s": (docs_rate, "docs/s"),
        "ingest.batch_p50_s": (median(iw) if iw else None, "s"),
        "ingest.batch_tail_s": (iv, "s", f"p{it}" if it else f"n={len(iw)}: under 20 samples"),
        "ingest.space_amp": (res["store"]["bytes"] / offered_bytes, "ratio"),
        "serve.probes_per_s": (probe_rate, "probes/s"),
        "serve.batch_p50_s": (median(sw) if sw else None, "s"),
        "serve.batch_tail_s": (sv, "s", f"p{st}" if st else f"n={len(sw)}: under 20 samples"),
        "serve.recall_at_10": (sum(recalls) / len(recalls) if recalls else None, "ratio"),
    })
    layer = {f"ingest.gate.{g}.rejected": sum(1 for d in batch_of if decisions.get(d) == g)
             for g in GATE_REASONS}
    layer["ingest.admitted_ratio"] = len(admitted) / max(len(batch_of), 1)
    layer["ann.probes_served"] = n_probes
    return docs_rate, probe_rate, layer


def batch_no(op):
    return int(op["name"].split("_")[1])


# ---- traced-run layer metrics ---------------------------------------------------

def op_spans(res):
    """Top-level spans (one per operation, probes included), each with its
    kind and the Spark jobs that started inside it."""
    spans = [dict(zip(("id", "parent", "trace", "layer", "name", "start", "end"), s))
             for s in res["spans"]]
    for s in spans:
        s["kind"] = s["name"].split(":")[0]
        s["jobs"] = []
    tops = sorted((s for s in spans if s["parent"] == 0), key=lambda s: s["start"])
    starts = [s["start"] for s in tops]
    for j in res["jobs"]:
        k = bisect.bisect_right(starts, j["start"]) - 1
        if k >= 0 and j["start"] < tops[k]["end"]:
            tops[k]["jobs"].append(j)
    return spans, tops


def plan_layer(tops):
    """Spark work under the timed operations, the driver gap (wall of each
    timed operation during which none of its jobs ran), and jobs and tasks
    per probed query."""
    tot = {f: 0.0 for f in PLAN_FIELDS}
    m = {}
    for s in tops:
        if s["kind"].startswith("probe"):
            q = s["name"].split(":")[-1]
            m[f"plan.jobs.{q}"] = float(len(s["jobs"]))
            m[f"plan.tasks.{q}"] = float(sum(j["tasks"] for j in s["jobs"]))
        if s["kind"] not in TIMED_KINDS:
            continue
        tot["jobs"] += len(s["jobs"])
        for j in s["jobs"]:
            for f in PLAN_FIELDS[1:7]:
                tot[f] += j[f]
            tot["executor_run_s"] += j["executor_run_ms"] / 1e3
            tot["executor_cpu_s"] += j["executor_cpu_ns"] / 1e9
            tot["gc_s"] += j["gc_ms"] / 1e3
        cover = union_length([(max(j["start"], s["start"]), min(j["end"], s["end"]))
                              for j in s["jobs"]])
        tot["driver_gap_s"] += (s["end"] - s["start"] - cover) / 1e3
    m.update({f"plan.{f}": float(v) for f, v in tot.items()})
    return m


def span_layer(spans, tops):
    """Self time per layer over the timed operations and the layer probes
    (set-up spans excluded), with each Spark job inside an operation's span
    added as a child span of layer `plan`."""
    keep = {s["id"] for s in tops if not s["kind"].startswith("seed")}
    keep_spans = [s for s in spans if s["trace"] in keep]
    nid = max([s["id"] for s in spans] + [0]) + 1
    kids = []
    for s in tops:
        if s["id"] in keep:
            for j in s["jobs"]:
                kids.append({"id": nid, "parent": s["id"], "layer": "plan",
                             "start": j["start"], "end": min(j["end"], s["end"])})
                nid += 1
    allspans = keep_spans + kids
    st = self_times(allspans)
    out = {f"self.{layer}_s": 0.0 for layer in SPAN_LAYERS}
    for s in allspans:
        out[f"self.{s['layer']}_s"] = out.get(f"self.{s['layer']}_s", 0.0) + st[s["id"]] / 1e3
    return out


def per_layer_metrics(workload, res, layer, canaries, e2e):
    """Every per-layer metric of BENCHMARK.json. A metric of a layer this
    workload does not exercise reads 0 and is listed in `absent` with the
    workload that measures it."""
    m = {"host.cpu_canary_s": median([c["cpu_s"] for c in canaries]),
         "host.io_canary_s": median([c["io_s"] for c in canaries]),
         "peak_rss_mb": res["vm_hwm_kb"] / 1024.0}
    absent = {}
    spans, tops = op_spans(res)
    m.update(plan_layer(tops))
    m.update(span_layer(spans, tops))
    pr = res.get("probes", {})
    own = {
        "sources.csv.rows_per_s": "tpcdi_load", "sources.finwire.rows_per_s": "tpcdi_load",
        "sources.xml.rows_per_s": "tpcdi_load", "sources.rejects": "tpcdi_load",
        "warehouse.hist_s": "tpcdi_load", "scd2.build_s": "tpcdi_load",
        "incr.fold_s": "tpcdi_load", "incr.state_rows": "tpcdi_load",
        "ingest.admitted_ratio": "corpus_ingest", "ann.rows_scanned_per_probe": "corpus_ingest",
        **{f"ingest.gate.{g}.rejected": "corpus_ingest" for g in GATE_REASONS},
        **{f"mix.{q}.wall_s": QUERY_HOME[q] for q in QUERIES},
        **{f"plan.jobs.{q}": QUERY_HOME[q] for q in QUERIES},
        **{f"plan.tasks.{q}": QUERY_HOME[q] for q in QUERIES},
    }
    # the serve path's rows scanned per probe: input records of serve jobs
    serve_in = sum(j["input_records"] for s in tops if s["kind"] == "serve" for j in s["jobs"])
    if layer.get("ann.probes_served"):
        layer["ann.rows_scanned_per_probe"] = serve_in / layer["ann.probes_served"]
    for name, wl in own.items():
        if wl != workload:
            absent[name] = f"{wl} only"
        m[name] = float(layer.get(name, pr.get(name, m.get(name, 0.0))))
    prog = {}
    for p in res.get("progress", []):
        for k, v in p["duration_ms"].items():
            prog.setdefault((p["query"], k), []).append(v / 1e3)
    for q, k, name in (("ingest", "addBatch", "add_batch_s"), ("ingest", "queryPlanning", "planning_s"),
                       ("ingest", "walCommit", "wal_commit_s"), ("serve", "addBatch", "add_batch_s")):
        xs = prog.get((q, k), [])
        m[f"stream.{q}.{name}"] = median(xs) if xs else 0.0
        if not xs:
            absent[f"stream.{q}.{name}"] = "corpus_ingest only"
    fs = res["fs"]
    for meth in FS_METHODS:
        m[f"fs.{meth}.count"] = float(fs["calls"].get(meth, 0))
    m["fs.bytes_written"] = float(fs["bytes_written"])
    m["store.files"] = float(res["store"]["files"])
    m["store.bytes"] = float(res["store"]["bytes"])
    for f in EXPR_FNS:
        m[f"expr.{f}.rows_per_s"] = float(pr[f"expr.{f}.rows_per_s"])
    for f in BUILTIN_FNS:
        m[f"builtin.{f}.rows_per_s"] = float(pr[f"builtin.{f}.rows_per_s"])
    # tracing overhead: the listener's own busy time, and this traced run's
    # end-to-end figures (overhead = these minus the untraced runs' medians)
    m["trace.listener_busy_s"] = float(res["listener_busy_s"])
    for k in ("setup_s", "main_rate_per_s", "side_rate_per_s"):
        m[f"traced.{k}"] = float(e2e[k][0])
    return m, absent


def unit_of(name):
    if name.startswith("traced.") and name.endswith("_per_s"):
        return "1/s"
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", "bytes_written")) or name == "store.bytes":
        return "bytes"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("rows_scanned_per_probe"):
        return "rows"
    return "count"


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1, help="workload seed (default 1)")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    classes, jars = build.build()
    deadline = time.monotonic() + HARD_LIMIT_S  # the build is outside the run's limit
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-s{args.seed}-t{args.trace}"
                                               f"-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t = time.perf_counter()
        facts = gen.generate(args.workload, args.seed, os.path.join(run_dir, "in"))
        gen_s = time.perf_counter() - t
        canaries = [host_canaries(run_dir)]
        res = run_jvm(classes, jars, run_dir, args, cpus, facts, deadline - 15)
        canaries.append(host_canaries(run_dir))

        det = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "input_digest": facts["digest"], "cpus": cpus, "gen_s": gen_s,
               "setup": res["setup"], "timed_s": res["timed_s"], "host": canaries,
               "metrics": {}, "checks": {}}
        bad = set()
        fn = {"tpcdi_load": tpcdi, "corpus_ingest": ingest}[args.workload]
        main_rate, side_rate, layer = fn(res, run_dir, facts, det, bad)
        ops = res["ops"]
        failed = sum(1 for o in ops if not o["ok"] or id(o) in bad)
        det["errors"] = [f'{o["kind"]}:{o["name"]}: {o["error"]}' for o in ops if not o["ok"]][:20]
        attempted = max(len(ops), 1)
        det["metrics"]["failed_share"] = (failed / attempted, "ratio")
        # VmHWM follows when G1 chose to grow the heap, which swings from run
        # to run for the same work, so it is reported without a bound
        det["metrics"]["peak_rss_mb"] = (res["vm_hwm_kb"] / 1024.0, "MiB")
        e2e = {
            "setup_s": (res["setup"]["setup_s"], "s"),
            "ok_share": (1.0 - failed / attempted, "ratio"),
            "main_rate_per_s": (main_rate, "1/s"),
            "side_rate_per_s": (side_rate, "1/s"),
        }
        det["metrics"].update(e2e)
        if args.trace:
            lm, absent = per_layer_metrics(args.workload, res, layer, canaries, e2e)
            det["absent"] = absent
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in lm.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        det["wall_s"] = time.monotonic() - t_start
        print(json.dumps({"detail": det}, default=str))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)



if __name__ == "__main__":
    main()
