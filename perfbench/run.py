#!/usr/bin/env python3
"""Benchmark of the KG sync engine and its queries: build, run and check
one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload resync_cleanup --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke        # every workload, tiny, with checks

The engine and the harness under perfbench/src are compiled with sbt on
the first run (perfbench/target, reused while no source changes). Each
run generates its inputs from --seed, runs the workload in one JVM,
checks its outputs against DuckDB (closed forms for the sync, each
query's oracle SQL for the queries; neither shares code with the
engine), and prints as its last stdout line one JSON object: correct,
attempted, failed and the metrics. The line before it is a full record
of the run (host facts, every operation, every layer). See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# Workloads. Page ids are doc_id + (replica + rep_offset) * 10000, so
# doc counts stay below 10000.
WORKLOADS = {
    # ~1 KB pages, half of them re-synced into a built graph, then the
    # stale-Page cleanup and the shipped analysis jobs
    "resync_cleanup": dict(kind="resync", docs=5000, replicas=2, noise=0),
    # one query per engine module over tables made from the seed
    "query_mix": dict(kind="query", scale=1),
}
SMOKE_SIZES = {"resync": dict(docs=200, replicas=1), "query": dict(scale=0.2)}
# (engine module, query in graft.SparkEntry.queries): one per module
QUERIES = [("operators", "q1_agg"), ("dedup", "qdd4_minhash_lsh"), ("text", "qtx1_tokens"),
           ("ann", "qann1_topk"), ("sketch", "qsk5_bloom_semijoin"),
           ("sample", "qsp2_stratified"), ("events", "qev1_sessionize"),
           ("multimodal", "qmm2_image_dims")]
ENTITIES_AFTER_CANONICAL = 800
KG_LAYERS = ["input", "kg.extract", "kg.facts", "link.canonical", "kg.triples",
             "merge.graph", "merge.cleanup", "jobs.analysis"]
KG_STATS = [("wall_s", "s"), ("driver_s", "s"), ("task_cpu_s", "s"),
            ("gc_s", "s"), ("shuffle_mb", "MB"), ("out_rows", "count"),
            ("files", "count"), ("skew", "ratio"), ("jobs", "count")]
QUERY_STATS = [("wall_s", "s"), ("task_cpu_s", "s"), ("shuffle_mb", "MB"),
               ("jobs", "count")]
# the benchmark JVM may take this long beyond --seconds (start, set-up,
# the last operation, checks)
JVM_SLACK_S = 170
# bytes of disk a workload needs (resync: per page, for the table, the
# base graph and one operation's copy and stages), with a fixed reserve
BYTES_PER_PAGE = 12_000
DISK_RESERVE = 2 * 1024 ** 3


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ------------------------------------------------------------------

def source_files(root):
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def ensure_build(root):
    """Compile with sbt unless the classpath of these exact sources is
    recorded already; returns the runtime classpath."""
    h = hashlib.sha256()
    for p in sorted(source_files(root)):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    record = os.path.join(HERE, "target", "perfbench-classpath.json")
    if os.path.exists(record):
        with open(record) as f:
            rec = json.load(f)
        if rec.get("stamp") == stamp:
            return rec["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        die("sbt build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(record), exist_ok=True)
    with open(record, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


# ---- inputs and expectations -------------------------------------------------

# Filler vocabulary: no alias of the dictionary ("entity", "shared
# widget", "alpha..."), no predicate phrase, so the planted facts are the
# only facts in a page.
WORDS = ("river stone cloud paper lamp orange market window garden silver "
         "harbor engine ladder winter summer planet coffee marble canyon "
         "violet thunder meadow forest copper signal lantern pocket saddle "
         "compass island velvet anchor basket candle desert falcon glacier "
         "harvest jungle kettle lemon mirror needle ocean pepper quarry "
         "ribbon tunnel umbrella valley walnut yellow zipper").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "it"]


def make_documents(path, n_docs, rng):
    import duckdb
    import pandas
    texts = []
    for _ in range(n_docs):
        words = (rng.choice(WORDS) for _ in range(rng.randint(20, 60)))
        texts.append(" ".join(words).capitalize() + ".")
    # a fixed English share, so every seed syncs the same amount of work
    langs = [LANGS[d % len(LANGS)] for d in range(n_docs)]
    rng.shuffle(langs)
    documents = pandas.DataFrame({"doc_id": range(n_docs), "text": texts,
                                  "lang": langs}).astype({"doc_id": "int64"})
    con = duckdb.connect()
    con.register("documents", documents)
    con.execute(f"COPY documents TO '{path}' (FORMAT PARQUET)")
    con.close()


def make_query_tables(data_dir, scale, rng):
    """The tables the query list reads, shaped like the TPC-H-style
    tables the engine's queries are written for; `scale` 1 is about
    sf0.001."""
    import duckdb
    import pandas
    n_cust, n_ord = int(150 * scale), int(1500 * scale)
    n_line, n_ev = int(6000 * scale), int(1000 * scale)
    n_docs, n_vec, n_users = int(500 * scale), int(500 * scale), 15
    day = 86400
    epoch95 = 788918400  # 1995-01-01 UTC
    customer = pandas.DataFrame({
        "c_custkey": range(1, n_cust + 1),
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)]})
    orders = pandas.DataFrame({
        "o_orderkey": range(1, n_ord + 1),
        "o_custkey": [rng.randint(1, n_cust) for _ in range(n_ord)],
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(n_ord)]})
    lineitem = pandas.DataFrame({
        "l_orderkey": [rng.randint(1, n_ord) for _ in range(n_line)],
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(n_line)],
        "l_extendedprice": [rng.randint(90000, 10500000) / 100
                            for _ in range(n_line)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n_line)],
        "l_returnflag": [rng.choice("ANR") for _ in range(n_line)],
        "l_linestatus": [rng.choice("FO") for _ in range(n_line)],
        "l_shipdate": pandas.to_datetime(
            [epoch95 + rng.randrange(2500) * day for _ in range(n_line)],
            unit="s")})
    ev_ts = sorted(1704067200 + rng.randrange(30 * day) for _ in range(n_ev))
    events = pandas.DataFrame({
        "event_id": range(n_ev),
        "ts": pandas.to_datetime(ev_ts, unit="s"),
        "user_id": [rng.randrange(n_users) for _ in range(n_ev)],
        "event_type": [rng.choice(["view", "click", "purchase", "signup",
                                   "error"]) for _ in range(n_ev)],
        "value": [rng.randint(0, 20000) / 100 for _ in range(n_ev)]})
    embeddings = pandas.DataFrame({
        "vec_id": range(n_vec),
        "embedding": [[rng.gauss(0, 0.12) for _ in range(64)]
                      for _ in range(n_vec)],
        "label": [rng.randrange(10) for _ in range(n_vec)]})
    con = duckdb.connect()
    for name, df in [("customer", customer), ("orders", orders),
                     ("lineitem", lineitem), ("events", events),
                     ("embeddings", embeddings)]:
        con.register(name, df)
        cast = ("* REPLACE (CAST(embedding AS FLOAT[]) AS embedding)"
                if name == "embeddings" else "*")
        con.execute(f"COPY (SELECT {cast} FROM {name}) TO "
                    f"'{os.path.join(data_dir, name)}.parquet' (FORMAT PARQUET)")
    con.close()
    make_documents(os.path.join(data_dir, "documents.parquet"), n_docs, rng)


def row_key(row):
    """A row as a tuple of exact value spellings: a tuple compares value
    by value, so `(1, 23)` and `(12, 3)` stay distinct."""
    return tuple("nan" if isinstance(v, float) and math.isnan(v) else repr(v)
                 for v in row)


def query_mismatches(data_dir, results):
    """Each query's result against its DuckDB oracle over the same
    tables: same column names, same multiset of rows."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, f)}')")

    def fetch(sql):
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    out = {}
    for name, r in sorted(results.items()):
        cols, got = fetch(f"SELECT * FROM read_parquet('{r['path']}/*.parquet')")
        ocols, want = fetch(r["oracle_sql"])
        if sorted(cols) != sorted(ocols):
            out[name] = f"columns {sorted(cols)}, oracle {sorted(ocols)}"
            continue
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
        rows = sorted(row_key([r[i] for i in order]) for r in got)
        orows = sorted(row_key([r[i] for i in oorder]) for r in want)
        if rows != orows:
            diff = next((k for k, (x, y) in enumerate(zip(rows, orows))
                         if x != y), min(len(rows), len(orows)))
            out[name] = (f"{len(rows)} rows, oracle {len(orows)}; first "
                         f"difference at sorted row {diff}")
        else:
            out[name] = None
    con.close()
    return out


def expectations(docs_path, replicas, rep_offset, salt):
    """Closed-form outputs of one re-sync, from the documents alone: the
    planted facts of page i are arithmetic in i (graft.kg.Corpus)."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"""
    CREATE TABLE pages AS
    SELECT doc_id + (r + {rep_offset}) * 10000 AS i, lang = 'en' AS en,
           ((doc_id + (r + {rep_offset}) * 10000) * 2654435761 + {salt})
             % 4294967296 < 2147483648 AS half
    FROM read_parquet('{docs_path}') CROSS JOIN range(0, {replicas}) t(r);
    CREATE TABLE mentions AS
    SELECT DISTINCT i, half, CASE WHEN k >= 800 THEN k - 800 ELSE k END AS ck
    FROM (SELECT i, half, i % 1000 AS k FROM pages WHERE en
          UNION ALL SELECT i, half, (7 * i + 3) % 1000 FROM pages WHERE en
          UNION ALL SELECT i, half, 0 FROM pages WHERE en AND i % 100 < 30
          UNION ALL SELECT i, half, i % 100 FROM pages WHERE en AND i % 10 = 7
          UNION ALL SELECT i, half, 100 + i % 100 FROM pages
                    WHERE en AND i % 10 IN (3, 9));
    CREATE TABLE triples AS
    SELECT DISTINCT CASE WHEN i % 1000 >= 800 THEN i % 1000 - 800 ELSE i % 1000 END AS cs,
           i % 5 AS p,
           CASE WHEN (7 * i + 3) % 1000 >= 800 THEN (7 * i + 3) % 1000 - 800
                ELSE (7 * i + 3) % 1000 END AS co
    FROM pages WHERE en;
    """)

    def one(sql):
        return int(con.execute(sql).fetchone()[0])

    n = one("SELECT count(*) FROM pages")
    h = one("SELECT count(*) FROM pages WHERE half")
    h_en = one("SELECT count(*) FROM pages WHERE half AND en")
    triple_edges = one("SELECT count(*) FROM triples")
    ment = one("SELECT count(*) FROM mentions")
    ment_h = one("SELECT count(*) FROM mentions WHERE half")
    con.close()
    expected = {
        "extract_rows": h, "triple_rows": h_en, "page_nodes": h,
        "page_nodes_kept_firstseen": h,
        "entity_nodes": ENTITIES_AFTER_CANONICAL, "mention_edges": ment_h,
        # a Page cleanup leaves Entity-to-Entity edges alone, so the
        # triple edges of the base graph (as qkg6_graph_edges) all survive
        "triple_edges": triple_edges, "dangling_page_edges": 0,
        "nodes_deleted": n - h, "edges_deleted": ment - ment_h,
    }
    return expected, {"pages": n, "half": h, "half_en": h_en}


# ---- host facts ----------------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


def host_facts(root):
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jdk = subprocess.run(["java", "-version"], stderr=subprocess.PIPE,
                         text=True).stderr.splitlines()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "disk_free_mb": shutil.disk_usage(root).free // 2 ** 20,
        "jdk": jdk[0] if jdk else "unknown",
    }


# ---- one workload ----------------------------------------------------------------

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_flag(mem_total_mb):
    return f"-Xmx{max(2, min(6, mem_total_mb // 3072))}g"


def run_jvm(classpath, work, args, mem_total_mb, seconds):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A fixed young generation gives every run the same collections for
    # the same work: G1's adaptive sizing ran 14 to 60 of them per
    # resync_cleanup sync, and with them the GC time and heap peak varied.
    cmd += [heap_flag(mem_total_mb), "-Xmn1g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", classpath, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, cwd=work)
        try:
            out, _ = proc.communicate(timeout=seconds + JVM_SLACK_S)
        finally:
            # also on a timeout or a signal (SystemExit from `stop`)
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        rc = proc.returncode
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
    if rc != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"benchmark JVM failed (exit {rc})", 1)
    return result


def run_workload(cfg, seed, seconds, trace, root, classpath, host, work,
                 spans_out):
    """Make the inputs, run the JVM, check its outputs. Returns the JVM's
    result, the number of checks, the failed ones and the input sizes."""
    rng = random.Random(seed)
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir)
    jvm_args = {
        "kind": cfg["kind"], "work": work, "data-dir": data_dir,
        "replicas": 1, "noise": 0, "rep-offset": 0, "salt": 0,
        "cores": host["nproc"], "seconds": seconds, "trace": int(trace),
        "jobs-dir": os.path.join(root, "data", "jobs", "analysis"),
    }
    if spans_out:
        jvm_args["spans-out"] = spans_out
    if cfg["kind"] == "resync":
        rep_offset = 1 + seed % 997
        salt = rng.randrange(2 ** 32)
        docs = os.path.join(data_dir, "documents.parquet")
        make_documents(docs, cfg["docs"], rng)
        expected, sizes = expectations(docs, cfg["replicas"], rep_offset, salt)
        need = sizes["pages"] * BYTES_PER_PAGE + DISK_RESERVE
        jvm_args.update({"replicas": cfg["replicas"], "rep-offset": rep_offset,
                         "salt": salt})
    else:
        make_query_tables(data_dir, cfg["scale"], rng)
        sizes = {"scale": cfg["scale"], "queries": len(QUERIES)}
        need = DISK_RESERVE
        jvm_args["queries"] = ",".join(f"{m}:{q}" for m, q in QUERIES)
    free = shutil.disk_usage(work).free
    if free < need:
        die(f"needs {need / 2**30:.1f} GiB of free disk, "
            f"{free / 2**30:.1f} GiB free", 1)
    t_jvm = time.time()
    res = run_jvm(classpath, work, jvm_args, host["mem_total_mb"], seconds)
    res["jvm_s"] = time.time() - t_jvm

    mismatches = []
    checks = 0
    if cfg["kind"] == "resync":
        for k, op in enumerate(res["ops"]):
            for key, exp in expected.items():
                checks += 1
                got = op["observed"].get(key)
                if got != exp:
                    mismatches.append(f"op {k}: {key} = {got}, expected {exp}")
    else:
        for name, bad in query_mismatches(data_dir, res["query_results"]).items():
            checks += 1
            if bad:
                mismatches.append(f"{name}: {bad}")
    return res, checks, mismatches, sizes


def metrics_of(res, trace, nproc):
    """The result line's metrics: end-to-end (medians over operations)
    untraced, per-layer when traced."""
    ops = res["ops"]
    med = statistics.median
    if not trace:
        return {
            "op_s": (med(op["wall_s"] for op in ops), "s"),
            "setup_s": (res["setup_s"], "s"),
        }
    out = {}
    layers = [(l, KG_STATS) for l in KG_LAYERS] + [
        (f"query.{m}", QUERY_STATS) for m, _ in QUERIES]
    for layer, stats in layers:
        for stat, unit in stats:
            vals = []
            for op in ops:
                lt = op["layers"].get(layer)
                if lt is None:
                    vals.append(0.0)
                elif stat == "driver_s":
                    vals.append(lt["wall_s"] - lt["task_run_s"] / nproc)
                else:
                    vals.append(float(lt[stat]))
            out[f"{layer}.{stat}"] = (med(vals), unit)
    out["op.wall_s"] = (med(op["wall_s"] for op in ops), "s")
    out["op.cpu_s"] = (med(op["cpu_s"] for op in ops), "s")
    out["op.heap_peak_mb"] = (med(op["heap_peak_mb"] for op in ops), "MB")
    out["op.output_mb"] = (med(op["output_mb"] for op in ops), "MB")
    out["op.layer_sum_share"] = (med(
        sum(lt["wall_s"] for lt in op["layers"].values()) / op["wall_s"]
        for op in ops), "ratio")
    return out


def remove_stale_work_dirs():
    """Delete the work dirs of runs that were killed before their own
    clean-up could run."""
    base = os.path.join(HERE, "work")
    if not os.path.isdir(base):
        return
    for d in os.listdir(base):
        pid = d[len("run-"):]
        if d.startswith("run-") and pid.isdigit() and not os.path.exists(
                f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on tiny inputs, traced")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload or --smoke is required")

    # a signal unwinds like an error: children are killed, work dirs removed
    def stop(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("run from the root of a checkout: src/main/scala/graft is missing")
    classpath = ensure_build(root)
    host = host_facts(root)

    remove_stale_work_dirs()
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    os.makedirs(work)

    total0, steal0 = cpu_times()
    t0 = time.time()
    try:
        if args.smoke:
            runs = [(n, dict(cfg, **SMOKE_SIZES[cfg["kind"]]), 0, True)
                    for n, cfg in sorted(WORKLOADS.items())]
        else:
            runs = [(args.workload, WORKLOADS[args.workload], args.seconds,
                     bool(args.trace))]
        attempted = failed = 0
        metrics = {}
        for name, cfg, seconds, trace in runs:
            spans = os.path.join(HERE, "out",
                                 f"{name}-seed{args.seed}.spans.jsonl")
            if trace:
                os.makedirs(os.path.dirname(spans), exist_ok=True)
            wl_work = os.path.join(work, name)
            os.makedirs(wl_work)
            res, checks, mismatches, sizes = run_workload(
                cfg, args.seed, seconds, trace, root, classpath, host,
                wl_work, spans if trace else None)
            attempted += len(res["ops"]) + checks
            failed += len(mismatches)
            for m in mismatches:
                print(f"perfbench: {name}: check failed: {m}", file=sys.stderr)
            metrics = {k: {"value": v, "unit": u} for k, (v, u)
                       in metrics_of(res, trace, host["nproc"]).items()}
            total1, steal1 = cpu_times()
            setup_keys = ("session_s", "materialize_s", "base_graph_s",
                          "cold_pass_s", "setup_s", "setup_wall_s",
                          "input_files", "input_rows", "input_mb")
            record = {
                "workload": name, "kind": cfg["kind"], "seed": args.seed,
                "seconds": seconds,
                "trace": int(trace), "host": dict(
                    host, spark=res["spark_version"],
                    steal_share=(steal1 - steal0) / max(total1 - total0, 1)),
                "sizes": sizes,
                "setup": {k: res[k] for k in setup_keys if k in res},
                "jvm_s": res["jvm_s"], "run_s": time.time() - t0,
                "ops": res["ops"], "checks": checks,
                "checks_failed": len(mismatches), "metrics": metrics,
                "spans": spans if trace else None,
            }
            print(json.dumps(record))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        print(f"perfbench: done in {time.time() - t0:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()
