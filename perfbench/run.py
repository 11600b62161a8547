#!/usr/bin/env python3
"""The repository benchmark: four workloads over the engine's sf0.1 tables.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tpch_serial --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from source (sbt, offline; the result
is reused while the sources are unchanged), generates the workload's inputs
from the seed, runs them through `graft.Engine.executeQuery` + `collect()` in
one JVM (perfbench.Main), checks every answer, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, from spans and counters at each layer boundary (the
spans are also written to .bench_build/traces/). README.md in this
directory records why each workload exists and which layer metric should
move which end-to-end metric.
"""
import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import pickle
import random
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, os.path.join(ROOT, "tools"))  # oracle_check's normalization
T_START = time.monotonic()

TPCH = [f"q{i:02d}" for i in range(1, 23)] + ["hv01", "hv02", "hv51", "hv52", "hv91", "hv92"]
SSB = ["q1_1", "q1_2", "q1_3", "q2_1", "q2_2", "q2_3", "q3_1", "q3_2", "q3_3", "q3_4",
       "q4_1", "q4_2", "q4_3"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

# Per-stream store bandwidth of the store workloads, MB/s, with the engine's
# 5 ms per-GET latency (the physics of graft.Bench's throttled passes, whose
# own default is 2 MB/s: at that rate one sf0.1 TPC-H pass takes minutes).
STORE_MBPS = 32

WORKLOADS = {
    # one analyst, local parquet, no routing: cache and store bypassed
    "tpch_serial": dict(corpus="tpch", clients=1, store=False, confs={}, merge_every=0),
    # nproc closed-loop clients on one shared session
    "tpch_concurrent": dict(corpus="tpch", clients=None, store=False, confs={}, merge_every=0),
    # hybrid routing over the throttled store: the cache holds the hot
    # lineitem measure columns (primed, admission off, so the state is the
    # same for every query) and hybrid zips fetch the missing columns
    "ssb_store_hybrid": dict(corpus="ssb", clients=1, store=True,
                             confs={"spark.graft.scanMode": "hybrid",
                                    "spark.graft.cacheCapacity": "512m",
                                    "spark.graft.hotAdmitAfter": "0"},
                             prime=[{"table": "lineitem",
                                     "cached": ["l_extendedprice", "l_discount", "l_quantity"],
                                     "fetch": ["l_shipdate"]}], merge_every=0),
    # hybrid routing, a 12 MB w-lfu cache the working set does not fit, and
    # a CDC batch merged into orders before every `merge_every`-th query,
    # each followed by a read of orders (see make_inputs)
    "tpch_store_churn": dict(corpus="tpch", clients=1, store=True,
                             confs={"spark.graft.scanMode": "hybrid",
                                    "spark.graft.cacheCapacity": "12m",
                                    "spark.graft.cachePolicy": "w-lfu"}, merge_every=5),
}

def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- layout

def check_layout():
    need = ["build.sbt", "TESTDATA.md", "tools/oracle_check.py",
            "src/main/scala/graft/Engine.scala", "src/main/resources/graft/tpch/q01.sql"]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail("run me from the root of an engine checkout; missing: " + ", ".join(missing))


def data_dir(scale):
    """The scale-factor directory: SPARK_GRAFT_SF_DIR (the engine bench's own
    setting) when scale is 0.1 and it is set, else the directory TESTDATA.md
    lists for that scale."""
    if scale == "0.1" and os.environ.get("SPARK_GRAFT_SF_DIR"):
        d = os.environ["SPARK_GRAFT_SF_DIR"]
    else:
        text = open(os.path.join(ROOT, "TESTDATA.md")).read()
        m = re.search(r"^\|\s*" + re.escape(scale) + r"\s*\|\s*`([^`]+)`", text, re.M)
        if not m:
            fail(f"TESTDATA.md lists no directory for sf{scale}")
        d = m.group(1)
    d = d.rstrip("/")
    if not os.path.exists(os.path.join(d, "lineitem.parquet")):
        fail(f"no lineitem.parquet under {d}")
    return d


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in ["src/main", "project", "perfbench/src", "perfbench/project"]:
        for dp, dns, fns in os.walk(os.path.join(ROOT, base)):
            dns[:] = sorted(d for d in dns if d not in ("target", "project"))
            files += [os.path.join(dp, f) for f in fns]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return (classpath, jvm options)."""
    stamp_file = os.path.join(WORK, "build.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        b = json.load(open(stamp_file))
        if b.get("stamp") == stamp and all(os.path.exists(p) for p in b["classpath"].split(os.pathsep)):
            return b["classpath"], b["java_options"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                           + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    log("building engine and harness (sbt)")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "export perfbench/Runtime/fullClasspath", "show perfbench/javaOptions"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=840)
    plain = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    cps = [l for l in plain if ".jar" in l and os.pathsep in l]
    opts = [l[len("[info] * "):] for l in p.stdout.splitlines() if l.startswith("[info] * ")]
    if p.returncode != 0 or not cps or "--add-opens" not in opts:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed")
    java_options = [o for o in opts if not o.startswith("-Xmx")]
    os.makedirs(WORK, exist_ok=True)
    json.dump({"stamp": stamp, "classpath": cps[-1], "java_options": java_options},
              open(stamp_file, "w"))
    return cps[-1], java_options


# ---------------------------------------------------------------- inputs

def corpus_texts(corpus):
    sub, names = ("tpch", TPCH) if corpus == "tpch" else ("ssb", SSB)
    res = os.path.join(ROOT, "src/main/resources/graft", sub)
    return {n: open(os.path.join(res, f"{n}.sql"), encoding="utf-8").read() for n in names}


def setup_probe(corpus):
    """A fresh session's first query. It pays the engine's per-session table
    registration and, on the store workloads, the first routed scan. On the
    TPC-H corpus it is the derived-partsupp CTE block (taken from q11.sql,
    as the engine takes it), so the partsupp artifact the engine builds once
    per session is set-up too, not a cost of whichever CTE text runs first."""
    if corpus == "ssb":
        return "select o_orderstatus, count(*) as n from orders group by o_orderstatus"
    q11 = corpus_texts("tpch")["q11"]
    block = re.search(r"(?s)with partsupp as \(\n(.*?)\n\)\n", q11).group(0)
    return block + "select count(*) as n from partsupp"


# The read that follows each merge into orders: every batch moves orders
# between (priority, status) groups and adds new ones, so a read of any
# earlier version of the table gives another answer. Integer counts only,
# so the check is exact.
MERGE_PROBE = ("select o_orderpriority, o_orderstatus, count(*) as n from orders\n"
               "group by o_orderpriority, o_orderstatus")


def reads_orders(sql):
    body = "\n".join(l.split("--")[0] for l in sql.splitlines())
    return re.search(r"\borders\b", body) is not None


def cdc_batches(seed, data, n_batches=8, updates=240, inserts=60):
    """Seeded CDC batches for orders: re-priced, re-dated, re-prioritized
    existing orders plus new order keys. A round uses two; the rest serve
    the further rounds a faster engine fits into the window."""
    import duckdb
    con = duckdb.connect()
    orders = con.execute(
        f"select * from read_parquet('{data}/orders.parquet') order by o_orderkey").fetchall()
    cols = [d[0] for d in con.description]
    custkeys = [r[0] for r in con.execute(
        f"select c_custkey from read_parquet('{data}/customer.parquet') order by 1").fetchall()]
    ix = {c: i for i, c in enumerate(cols)}
    statuses = sorted({r[ix["o_orderstatus"]] for r in orders})
    prios = sorted({r[ix["o_orderpriority"]] for r in orders})
    dates = sorted({r[ix["o_orderdate"]] for r in orders})
    max_key = max(r[0] for r in orders)
    rng = random.Random(seed * 1009 + 17)
    batches = []

    def iso(v):
        return v.isoformat() if hasattr(v, "isoformat") else v

    for b in range(n_batches):
        rows = []
        for r in rng.sample(orders, updates):
            r = list(r)
            r[ix["o_totalprice"]] = round(rng.uniform(900.0, 500000.0), 2)
            r[ix["o_orderdate"]] = rng.choice(dates)
            r[ix["o_orderpriority"]] = rng.choice(prios)
            r[ix["o_orderstatus"]] = rng.choice(statuses)
            rows.append([iso(v) for v in r])
        for i in range(inserts):
            r = [None] * len(cols)
            r[ix["o_orderkey"]] = max_key + 1 + b * inserts + i
            r[ix["o_custkey"]] = rng.choice(custkeys)
            r[ix["o_orderstatus"]] = rng.choice(statuses)
            r[ix["o_totalprice"]] = round(rng.uniform(900.0, 500000.0), 2)
            r[ix["o_orderdate"]] = rng.choice(dates)
            r[ix["o_orderpriority"]] = rng.choice(prios)
            rows.append([iso(v) for v in r])
        batches.append({"columns": cols, "rows": rows})
    return batches


def make_inputs(workload, seed, data, clients):
    w = WORKLOADS[workload]
    texts = corpus_texts(w["corpus"])
    if w["merge_every"]:
        # Where merges write orders, the round holds the texts that do not
        # read it, and MERGE_PROBE reads it right after each merge, at the
        # same points in every run. With the 18 texts that read orders a
        # round takes ~66 s at sf0.1 on 4 cores, which the run budget does
        # not hold.
        texts = {n: t for n, t in texts.items() if not reads_orders(t)}
    orders_ = []
    for c in range(clients):  # one order per client, repeated every round
        order = sorted(texts)
        random.Random(seed * 1009 + c).shuffle(order)
        orders_.append(order)
    if w["merge_every"]:
        texts["merge_probe"] = MERGE_PROBE
    return {
        "workload": workload,
        "seed": seed,
        "texts": texts,
        "setup_probe": setup_probe(w["corpus"]),
        "confs": w["confs"],
        "store": w["store"],
        "store_mbps": STORE_MBPS,
        "clients": orders_,
        "prime": w.get("prime", []),
        "merge_every": w["merge_every"],
        "batches": cdc_batches(seed, data) if w["merge_every"] else [],
        "orders_texts": sorted(n for n, s in texts.items() if reads_orders(s)),
    }


# ---------------------------------------------------------------- oracle

def duck(data, orders=None):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        f = os.path.join(data, t + ".parquet")
        if t == "orders" and orders:
            f = os.path.join(orders, "*.parquet") if os.path.isdir(orders) else orders
        if os.path.exists(f) or "*" in f:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    return con


def oracle_answers(data, texts):
    """DuckDB answers for each text over the same tables, cached per
    (data files, text) under .bench_build/oracle."""
    import duckdb
    key_base = "".join(f"{t}:{os.path.getsize(os.path.join(data, t + '.parquet'))}:"
                       f"{os.path.getmtime(os.path.join(data, t + '.parquet'))}"
                       for t in TABLES if os.path.exists(os.path.join(data, t + ".parquet")))
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for name, sql in texts.items():
        key = hashlib.sha256((duckdb.__version__ + data + key_base + sql).encode()).hexdigest()
        path = os.path.join(cache, key + ".pkl")
        if os.path.exists(path):
            out[name] = pickle.load(open(path, "rb"))
            continue
        if con is None:
            con = duck(data)
        df = con.execute(sql).fetchdf()
        pickle.dump(df, open(path + ".tmp", "wb"))
        os.replace(path + ".tmp", path)
        out[name] = df
    return out


def frame(result):
    """A result record from the JVM as a pandas frame typed like the engine's
    columns, for oracle_check's normalization."""
    import pandas as pd
    cols = {}
    for i, (c, t) in enumerate(zip(result["columns"], result["types"])):
        vals = [r[i] for r in result["rows"]]
        if t in ("date", "timestamp", "timestamp_ntz"):
            s = pd.to_datetime(pd.Series(vals, dtype=object), utc=True).dt.tz_localize(None)
        elif t in ("long", "integer", "short", "byte"):
            s = pd.Series(vals, dtype="Int64" if None in vals else "int64")
        elif t in ("double", "float") or t.startswith("decimal"):
            s = pd.Series(vals, dtype="float64")
        else:
            s = pd.Series(vals, dtype=object)
        cols[c] = s
    return pd.DataFrame(cols, columns=result["columns"])


def compare(name, got, want):
    import oracle_check
    import pandas as pd
    for c in want.columns:  # DuckDB DATE columns may arrive as python dates
        if want[c].dtype == object and c in got.columns and str(got[c].dtype).startswith("datetime"):
            want = want.assign(**{c: pd.to_datetime(want[c])})
    with contextlib.redirect_stdout(io.StringIO()):
        return oracle_check.compare(name, got, want)


# ---------------------------------------------------------------- metrics

def pct(xs, p):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(xs):
    return pct(xs, 0.5)


def end_to_end(rec, window, completed, failed, store):
    """{metric: (value, unit)} of an untraced run."""
    lats = [q["lat_ms"] for q in window if "error" not in q]
    c = rec["counters"]
    bytes_ = c["store_bytes"] if store else c["scan_file_bytes"]
    return {
        "setup_s": (median(rec["setup_s"]), "s"),
        "latency_p50_ms": (pct(lats, 0.5), "ms"),
        "latency_p90_ms": (pct(lats, 0.9), "ms"),
        "throughput_qps": (completed / rec["window_s"], "1/s"),
        "store_mb_per_query": (bytes_ / 1e6 / max(completed, 1), "MB"),
        "correct_share": ((len(window) - failed) / len(window), "ratio"),
        "retained_mb": (rec["retained_mb"], "MB"),
    }


def per_text(window):
    out = {}
    for x in window:
        if "error" not in x:
            out.setdefault(x["text"], []).append(x["lat_ms"])
    return out


def per_layer(rec, window, completed, untraced):
    """{metric: (value, unit)} of a traced run, from its spans, the exec
    listener's per-job-group totals and the layer counters."""
    spans = rec.get("spans", [])
    by_q = {}
    for s in spans:
        by_q.setdefault(s["qid"], []).append(s)
    traced = [ss for q, ss in by_q.items() if q.startswith("q")]
    n = max(len(traced), 1)

    def total(name, key="ms"):
        return sum(s["end_ms"] - s["start_ms"] if key == "ms" else s[key]
                   for ss in traced for s in ss if s["name"] == name)

    root_ms = total("query")
    root_self = total("query", "self_ms")
    groups = rec.get("exec_groups", {})
    qids = {ss[0]["qid"] for ss in traced}

    def gsum(field, phase="exec"):
        return sum(g[field] for k, g in groups.items()
                   if k.endswith(":" + phase) and k.split(":")[0] in qids)

    exec_ms = total("exec")
    c = rec["counters"]
    hits, misses = c.get("cache_hits", 0), c.get("cache_misses", 0)
    merges = rec["merges"]
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    put("engine.call_ms", total("engine") / n, "ms")
    put("engine.share", total("engine", "self_ms") / root_ms if root_ms else 0.0, "ratio")
    put("engine.jobs_per_query", gsum("jobs", "engine") / n, "count")
    put("plans.optimize_ms", total("plans.optimize") / n, "ms")
    put("plans.physical_ms", total("plans.physical") / n, "ms")
    put("plans.share", (total("plans.optimize", "self_ms") + total("plans.physical", "self_ms"))
        / root_ms if root_ms else 0.0, "ratio")
    put("exec.wall_ms", exec_ms / n, "ms")
    put("exec.share", total("exec", "self_ms") / root_ms if root_ms else 0.0, "ratio")
    put("exec.jobs_per_query", gsum("jobs") / n, "count")
    put("exec.stages_per_query", gsum("stages") / n, "count")
    put("exec.tasks_per_query", gsum("tasks") / n, "count")
    put("exec.task_ms_per_query", gsum("task_ms") / n, "ms")
    put("exec.task_cpu_ms_per_query", gsum("cpu_ms") / n, "ms")
    put("exec.parallelism", gsum("task_ms") / exec_ms if exec_ms else 0.0, "ratio")
    put("exec.wait_ms_per_query", gsum("wait_ms") / n, "ms")
    put("exec.gc_ms_per_query", gsum("gc_ms") / n, "ms")
    put("exec.shuffle_write_mb_per_query", gsum("shuffle_write_bytes") / 1e6 / n, "MB")
    put("exec.failed_tasks", gsum("failed_tasks") + gsum("failed_tasks", "engine"), "count")
    q = max(completed, 1)
    put("scan.files_per_query", c["scan_files"] / q, "count")
    put("scan.rows_per_query", c["scan_rows"] / q, "count")
    put("scan.file_mb_per_query", c["scan_file_bytes"] / 1e6 / q, "MB")
    put("cache.hit_ratio", hits / (hits + misses) if hits + misses else 0.0, "ratio")
    put("cache.hits", hits, "count")
    put("cache.misses", misses, "count")
    put("cache.evictions", c.get("cache_evictions", 0), "count")
    put("cache.used_mb", c.get("cache_used_bytes", 0) / 1e6, "MB")
    for r in ["pushdown", "pullup", "cache_only", "hybrid", "over_budget"]:
        put(f"cache.route_{r}", c.get(f"route_{r}", 0), "count")
    put("store.gets_per_query", c["store_gets"] / q, "count")
    put("store.read_calls_per_query", c["store_read_calls"] / q, "count")
    put("store.list_calls_per_query", c["store_list_calls"] / q, "count")
    put("sink.merge_ms", sum(x["ms"] for x in merges) / len(merges) if merges else 0.0, "ms")
    put("sink.merges", len(merges), "count")
    put("sink.merge_store_mb", sum(x["store_bytes"] for x in merges) / 1e6, "MB")
    put("trace.root_ms", root_ms / n, "ms")
    put("trace.gap_ms", root_self / n, "ms")
    put("trace.gap_share", root_self / root_ms if root_ms else 0.0, "ratio")
    put("trace.traced_queries", len(traced), "count")
    # tracing overhead: this traced run against the last untraced run of
    # the workload in this checkout, summed over the texts both ran
    on = per_text(window)
    both = [t for t in on if t in untraced]
    a = sum(median(on[t]) for t in both)
    b = sum(median(untraced[t]) for t in both)
    put("trace.overhead_pct", 100.0 * (a / b - 1.0) if both else 0.0, "%")
    put("trace.overhead_base_runs", 1 if both else 0, "count")
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="0.1", help="scale factor listed in TESTDATA.md")
    args = ap.parse_args()
    check_layout()
    data = data_dir(args.scale)
    t_build = time.monotonic()
    cp, jopts = build()
    build_s = time.monotonic() - t_build

    w = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    clients = w["clients"] or nproc
    inputs = make_inputs(args.workload, args.seed, data, clients)
    blob = json.dumps(inputs, sort_keys=True).encode()
    digest = hashlib.sha256(blob).hexdigest()
    print(f"perfbench: workload={args.workload} seed={args.seed} inputs_digest={digest[:16]} "
          f"clients={clients} data={data}", flush=True)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    in_path, out_path = os.path.join(run_dir, "inputs.json"), os.path.join(run_dir, "out.json")
    open(in_path, "wb").write(blob)

    oracle = oracle_answers(data, dict(inputs["texts"], setup_probe=inputs["setup_probe"]))

    env = dict(os.environ)
    env.update(SPARK_GRAFT_CPUS=str(nproc),
               SPARK_GRAFT_WAREHOUSE=os.path.join(WORK, "warehouse"),
               SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"] + jopts +
           ["-cp", cp, "perfbench.Main", "--inputs", in_path, "--data", data,
            "--work", os.path.join(run_dir, "work"), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", out_path])
    t_jvm = time.monotonic()
    # the run must end within 180 s, a first run's build aside
    budget = max(60.0, 170.0 - (t_jvm - T_START - build_s))
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, env=env, stdin=subprocess.DEVNULL, stdout=jlog,
                             stderr=subprocess.STDOUT)
        # a terminated benchmark must not leave its JVM running
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            fail(f"JVM did not finish within {budget:.0f}s; log: {jlog.name}", 3)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(out_path):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        fail(f"JVM exited with {p.returncode}", 3)
    rec = json.load(open(out_path))
    t_post = time.monotonic()

    # ---- checks: every execution's digest maps to a result set, compared
    # with DuckDB's answer over the same tables at the data version the
    # query read (on the churn workload, the orders copy of that version)
    results = rec["results"]
    verdict, versioned = {}, {}

    def want(name, version):
        if version == 0 or name not in inputs["orders_texts"]:
            return oracle[name]
        if (name, version) not in versioned:
            if version not in versioned:
                versioned[version] = duck(data, os.path.join(
                    run_dir, "work", f"version-{version}", "orders.parquet"))
            versioned[(name, version)] = versioned[version].execute(
                inputs["texts"][name]).fetchdf()
        return versioned[(name, version)]

    def check(digest, name, version):
        key = (digest, name, version)
        if key not in verdict:
            verdict[key] = compare(name, frame(results[digest]), want(name, version))
        return verdict[key]

    for d in rec["setup_probe_digests"]:
        err = check(d, "setup_probe", 0)
        if err:
            fail(f"setup probe answered wrongly: {err}", 4)
    window = rec["queries"]
    failed = 0
    for q in window:
        err = q.get("error") or check(q["digest"], q["text"], q["version"])
        if err:
            failed += 1
            log(f"WRONG {q['text']} (client {q['client']}, data version {q['version']}): {err}")
    attempted = len(window)
    completed = sum(1 for q in window if "error" not in q)
    if attempted == 0:
        fail("no query completed in the window", 5)

    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)  # store copies
    cov = dict(rec["covariates"], window_s=rec["window_s"],
               setup_runs_s=rec["setup_s"], peak_rss_mb=rec["peak_rss_mb"], nproc=nproc,
               prepare_s=t_jvm - T_START,
               jvm_s=t_post - t_jvm, check_s=time.monotonic() - t_post)
    print("perfbench: covariates " + json.dumps(cov), flush=True)
    base = os.path.join(WORK, "untraced", f"{args.workload}-sf{args.scale}.json")
    if args.trace:
        untraced = json.load(open(base)) if os.path.exists(base) else {}
        metrics = per_layer(rec, window, completed, untraced)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tpath = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        json.dump({"workload": args.workload, "seed": args.seed, "inputs_digest": digest,
                   "spans": rec.get("spans", []), "exec_groups": rec.get("exec_groups", {})},
                  open(tpath, "w"))
        print(f"perfbench: spans written to {os.path.relpath(tpath, ROOT)}", flush=True)
    else:
        os.makedirs(os.path.dirname(base), exist_ok=True)
        json.dump(per_text(window), open(base, "w"))
        metrics = end_to_end(rec, window, completed, failed, w["store"])
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
