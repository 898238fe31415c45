#!/usr/bin/env python3
"""graft benchmark: gateway, result wire and corpus pipeline workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md):

    sql_gateway    4 closed-loop clients, short SQL over the gateway
    result_stream  1 client draining large results over fetch_arrow
    corpus_batch   the ordered corpus pipeline list on a cold corpus

The first run in a checkout builds graft with the repository's own sbt
build and the harness with perfbench/build.sbt; later runs reuse the build
while the sources are unchanged. Inputs come from the read-only TPC-H-like
test tables (PERFBENCH_TESTDATA, default /root/testdata) and what this
script derives from them under perfbench/.work. The last stdout line is
one JSON object: correct, attempted, failed and metrics (end-to-end
metrics with --trace 0, per-layer metrics with --trace 1).
"""
import argparse
import decimal
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK_ROOT = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, ".results")
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["sql_gateway", "result_stream", "corpus_batch"]
# Every run must finish inside this wall, the first (building) one inside
# BUILD_DEADLINE_S.
DEADLINE_S = 170
BUILD_DEADLINE_S = 880

SQL_SF = "sf0.1"            # views the SQL workloads query
SQL_TABLES = ["lineitem", "orders", "customer", "supplier", "nation"]
CORPUS_SF = "sf0.01"        # timed corpora: seeded samples of this
CORPUS_WARM_SF = "sf0.001"  # set-up pass (JIT, codegen): other store keys
CORPUS_BASE = 280           # a corpus samples this many leading rows ...
CORPUS_DOCS = 250           # ... down to this many documents (and embeddings)
HEALTH_MS = 100             # health probe period: >= 100 probes per run
STREAM_ROWS = 3000          # rows per result_stream statement
# The ordered corpus pipeline list (a subset of the full 15-query list that
# fits a run; see README.md).
QUERIES = ("q_dedup_minhash q_dedup_containment q_tfidf_keywords q_bm25_rank "
           "q_pagerank").split()

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build --

def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in [os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns.sort()
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_classpath(cwd, logf, deadline):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(30, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(p)
        raise RuntimeError(f"sbt build in {cwd} ran past the build deadline")
    logf.write(out)
    lines = [l for l in out.splitlines()
             if l and not l.startswith("[") and (os.pathsep in l or l.endswith(".jar"))]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"sbt build failed in {cwd} (see {logf.name})")
    return lines[-1].strip()


def ensure_build():
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "bench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), False
    log("building graft and the harness (first run in this checkout)")
    os.makedirs(BUILD, exist_ok=True)
    deadline = T_START + BUILD_DEADLINE_S - 60
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        graft_cp = sbt_classpath(ROOT, logf, deadline)
        with open(os.path.join(BUILD, "graft.classpath"), "w") as f:
            f.write(graft_cp)
        bench_cp = sbt_classpath(HERE, logf, deadline)
    with open(cp_file, "w") as f:
        f.write(bench_cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return bench_cp, True


# ------------------------------------------------------------ canon/digest --

SIX_DIGITS = decimal.Context(prec=6, rounding=decimal.ROUND_HALF_EVEN)


def num(x):
    """6 significant digits, exactly as the harness's Main.num does."""
    x = float(x)
    if x != x:
        return "NaN"
    if x in (float("inf"), float("-inf")):
        return "Inf" if x > 0 else "-Inf"
    if x == 0.0:
        return "0"
    return format(SIX_DIGITS.plus(decimal.Decimal(x)).normalize(SIX_DIGITS), "f")


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return num(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if hasattr(v, "tolist"):
        return canon(v.tolist())
    return str(v)


def digest(rows):
    lines = sorted("\x1f".join(canon(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for l in lines:
        h.update(l.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def duck(sfdir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(WORK_ROOT, 'duckdb.tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    return con


# ------------------------------------------------------------------ plans --

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def gateway_shapes(rng, con):
    """The 8 single-line statement shapes, literals drawn from `rng`."""
    okeys = [r[0] for r in con.execute(
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey").fetchall()]

    def q3():
        seg, d = rng.choice(SEGMENTS), rng.randint(1, 28)
        day = f"TIMESTAMP '1995-03-{d:02d} 00:00:00'"
        return ("SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                f"WHERE c_mktsegment = '{seg}' AND o_orderdate < {day} AND l_shipdate > {day} "
                "GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10")

    return [
        lambda: "SELECT 1",
        lambda: f"SELECT count(*) AS n FROM lineitem WHERE l_quantity < {rng.randint(5, 45)}",
        lambda: ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                 "sum(l_extendedprice) AS sum_base_price, "
                 "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
                 "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
                 "avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price, "
                 "avg(l_discount) AS avg_disc, count(*) AS count_order FROM lineitem "
                 f"WHERE l_shipdate <= TIMESTAMP '1998-{rng.randint(8, 11):02d}-"
                 f"{rng.randint(1, 28):02d} 00:00:00' "
                 "GROUP BY l_returnflag, l_linestatus"),
        q3,
        lambda: ("SELECT c_nationkey, c_custkey, rk FROM (SELECT c_nationkey, c_custkey, "
                 "rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk "
                 f"FROM customer WHERE c_mktsegment = '{rng.choice(SEGMENTS)}') t "
                 "WHERE rk <= 10"),
        lambda: ("SELECT a.n_name AS a_name, b.n_name AS b_name FROM nation a JOIN nation b "
                 f"ON a.n_regionkey <> b.n_regionkey WHERE a.n_regionkey = {rng.randint(0, 4)}"),
        lambda: ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
                 f"WHERE o_orderkey = {rng.choice(okeys)}"),
        lambda: ("SELECT n_name, count(*) AS suppliers, sum(s_acctbal) AS bal FROM supplier "
                 "JOIN nation ON s_nationkey = n_nationkey "
                 f"WHERE s_acctbal > {rng.randint(-999, 5000)} GROUP BY n_name"),
    ]


def stream_statement(rng, keys, rows):
    """A lineitem scan over a seeded order-key range holding about `rows`
    rows (`keys`: every l_orderkey, sorted), 10 columns, no timestamp
    columns."""
    start = rng.randint(0, len(keys) - rows)
    return ("SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
            "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus FROM lineitem "
            f"WHERE l_orderkey BETWEEN {keys[start]} AND {keys[start + rows - 1]}")


def sample_corpus(src, dst, rng):
    """A seeded CORPUS_DOCS-row sample of the first CORPUS_BASE documents
    and embeddings, beside copies of the other tables: a corpus no store was
    built for. Sampling most of a fixed base keeps the near-duplicate
    structure, and so the work, alike across seeds. Embedding ids are
    renumbered densely (see README.md, defects)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(dst)
    for t in TABLES:
        if t in ("documents", "embeddings"):
            tab = pq.read_table(f"{src}/{t}.parquet")
            tab = tab.take(sorted(rng.sample(range(CORPUS_BASE), CORPUS_DOCS)))
            if t == "embeddings":
                tab = tab.set_column(tab.schema.get_field_index("vec_id"), "vec_id",
                                     pa.array(range(tab.num_rows), pa.int64()))
            pq.write_table(tab, f"{dst}/{t}.parquet")
        else:
            shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")


def make_plan(workload, seed, work, cores):
    """Write the seeded plan for the harness and return its records."""
    rng = random.Random(f"{workload}:{seed}")
    recs = [("cores", cores), ("health_ms", HEALTH_MS)]
    if workload == "sql_gateway":
        con = duck(os.path.join(TESTDATA, SQL_SF))
        pool = [[(f"s{j}v{v}", shape()) for v in range(3)]
                for j, shape in enumerate(gateway_shapes(rng, con))]
        for b in range(60):
            block = [rng.choice(variants) for variants in pool]
            rng.shuffle(block)
            recs += [("S", b, sid, sql) for sid, sql in block]
        recs += [("W", j % cores, f"w{j}", variants[0][1]) for j, variants in enumerate(pool)]
    elif workload == "result_stream":
        keys = [r[0] for r in duck(os.path.join(TESTDATA, SQL_SF)).execute(
            "SELECT l_orderkey FROM lineitem ORDER BY l_orderkey").fetchall()]
        pool = [(f"r{j}", stream_statement(rng, keys, STREAM_ROWS)) for j in range(12)]
        recs += [("S", b, sid, sql) for b, (sid, sql) in enumerate(pool * 4)]
        recs.append(("W", 0, "w0", stream_statement(rng, keys, STREAM_ROWS)))
    else:
        for name, sf in (("corpus", CORPUS_SF), ("corpus_warm", CORPUS_WARM_SF)):
            d = os.path.join(work, name)
            sample_corpus(os.path.join(TESTDATA, sf), d, random.Random(f"{name}:{seed}"))
            recs.append((name, d))
        recs += [("query", q) for q in QUERIES]
    if workload != "corpus_batch":
        recs += [("table", t) for t in SQL_TABLES]
    with open(os.path.join(work, "plan.tsv"), "w") as f:
        for r in recs:
            f.write("\t".join(str(x) for x in r) + "\n")
    return recs


def expected_outputs(workload, recs, work, jvm):
    """(rows, digest) per statement id from DuckDB over the same parquet,
    or the corpus oracles (see corpus_expected). Runs while the JVM sets
    up."""
    if workload == "corpus_batch":
        return corpus_expected(recs, work, jvm)
    con = duck(os.path.join(TESTDATA, SQL_SF))
    out = {}
    for r in recs:
        if r[0] in ("S", "W") and r[2] not in out:
            rows = con.execute(r[3]).fetchall()
            out[r[2]] = (len(rows), digest(rows))
    return out


def corpus_expected(recs, work, jvm):
    """(rows, digest) per query: its DuckDB oracle (SparkEntry.oracleSql,
    which the harness writes first) on the timed corpus."""
    path = os.path.join(work, "oracle_sql.json")
    while not os.path.exists(path):
        if jvm.poll() is not None:
            raise RuntimeError("harness exited during set-up")
        time.sleep(0.05)
    oracle = json.load(open(path))
    con = duck([r[1] for r in recs if r[0] == "corpus"][0])
    out = {}
    for q in QUERIES:
        if q in oracle:
            rows = con.execute(oracle[q]).fetchall()
            out[q] = (len(rows), digest(rows))
    return out


# ------------------------------------------------------------------- run --

def start_jvm(cp, workload, work, seconds, trace):
    java_opts = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A fixed, pre-touched heap keeps rss_peak_mb off heap-sizing luck.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp] + java_opts +
           ["graft.perfbench.Main", "--workload", workload, "--work", work,
            "--data", os.path.join(TESTDATA, SQL_SF), "--plan",
            os.path.join(work, "plan.tsv"), "--seconds", str(seconds),
            "--trace", "1" if trace else "0"])
    env = dict(os.environ, GRAFT_STORE_ROOT=os.path.join(work, "stores"))
    logf = open(os.path.join(work, "jvm.log"), "w")
    return subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                            start_new_session=True)


def stop(p):
    """Kill a child started in its own session, with its children, and
    wait for it."""
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)
    p.wait()


def read_result(work):
    with open(os.path.join(work, "result.tsv"), encoding="utf-8") as f:
        return [l.rstrip("\n").split("\t") for l in f if l.strip()]


def pct(xs, q):
    """Linear-interpolated quantile of `xs`."""
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def evaluate(workload, recs, expected):
    """(attempted, errors, end-to-end metrics) of one run's records."""
    errors = []
    health = [(float(r[1]), r[3] == "1") for r in recs if r[0] == "health"]
    attempted = len(health)
    errors += [f"health probe {i} failed" for i, (_, ok) in enumerate(health) if not ok]
    window_s = [float(r[1]) for r in recs if r[0] == "window"][0] / 1000.0
    rss = [float(r[1]) for r in recs if r[0] == "rss_mb"][0]
    if workload != "corpus_batch":
        ops = [r for r in recs if r[0] == "op"]
        attempted += len(ops)
        for r in ops:
            sid, rows, dig = r[1], int(r[3]), r[4]
            if dig.startswith("ERR"):
                errors.append(f"{sid}: {dig}")
            elif (rows, dig) != expected[sid]:
                errors.append(f"{sid}: {rows} rows (expected {expected[sid][0]}), digest differs")
        errors += [f"warm {r[1]}: {r[2]}" for r in recs if r[0] == "warm_error"]
        lat = [float(r[2]) for r in ops]
        nops, nrows = len(ops), sum(int(r[3]) for r in ops)
    else:
        guard = {}
        for r in recs:
            if r[0] == "guard":
                guard.setdefault(r[1], {})[r[2]] = (int(r[3]), r[4])
        warm, timed = guard["warm"], guard["timed"]
        errors += [f"{q} (set-up pass): {e}" for q, (_, e) in warm.items() if e]
        for q, (b, e) in timed.items():
            attempted += 1
            if e:
                errors.append(f"{q}: {e}")
            elif b != warm[q][0]:
                errors.append(f"{q}: {b} store builds against {warm[q][0]} on a fresh "
                              "corpus: the timed run found stores already warm")
        checks = [r for r in recs if r[0] == "check"]
        for r in checks:
            q, n, dig = r[1], int(r[2]), r[3]
            attempted += 1
            if dig.startswith("ERR"):
                errors.append(f"{q}: {dig}")
            elif q not in expected:
                errors.append(f"{q}: no DuckDB oracle")
            elif (n, dig) != expected[q]:
                errors.append(f"{q}: {n} rows (oracle {expected[q][0]}), digest differs")
        # The operation is one pass of the list (the batch).
        lat = [window_s * 1000.0]
        nops = 1
        nrows = sum(max(int(r[2]), 0) for r in checks)
    hl = [h for h, _ in health]
    return attempted, errors, window_s, {
        "op_p50_ms": (pct(lat, 0.5), "ms"),
        "ops_per_s": (nops / window_s, "1/s"),
        "rows_per_s": (nrows / window_s, "1/s"),
        "health_p50_ms": (pct(hl, 0.5), "ms"),
        "health_p90_ms": (pct(hl, 0.9), "ms"),
        "rss_peak_mb": (rss, "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no graft sources under {ROOT} (build.sbt, src/main/scala)")
    for sf in (SQL_SF, CORPUS_SF, CORPUS_WARM_SF):
        if not os.path.isfile(os.path.join(TESTDATA, sf, "lineitem.parquet")):
            fail(f"test tables missing: {TESTDATA}/{sf}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    try:
        cp, built = ensure_build()
    except Exception as e:
        fail(str(e))
    # Set-up runs from process start; a one-time build is not part of it.
    t_setup = time.time() if built else T_START
    deadline = t_setup + DEADLINE_S

    shutil.rmtree(WORK_ROOT, ignore_errors=True)
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}")
    os.makedirs(work)
    cores = min(4, os.cpu_count() or 4)
    recs0 = make_plan(a.workload, a.seed, work, cores)
    jvm = start_jvm(cp, a.workload, work, a.seconds, a.trace == 1)
    try:
        expected = expected_outputs(a.workload, recs0, work, jvm)
        open(os.path.join(work, "go"), "w").close()

        jvm.wait(timeout=max(5, deadline - time.time()))
        recs = read_result(work)
    except Exception as e:
        stop(jvm)
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"run failed: {e!r}")
    fatal = [r for r in recs if r[0] == "fatal"]
    if jvm.returncode != 0 or fatal:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"harness failed (exit {jvm.returncode}): {fatal}")

    ready = [float(r[1]) / 1000.0 for r in recs if r[0] == "ready"][0]
    attempted, errors, window_s, e2e = evaluate(a.workload, recs, expected)
    e2e = {"setup_s": (ready - t_setup, "s"), **e2e}
    log(f"{a.workload} seed {a.seed}: window {window_s:.1f} s, "
        f"{sum(1 for r in recs if r[0] == 'health')} health probes, "
        f"{attempted} operations, {len(errors)} failed")
    for e in errors[:20]:
        log(f"error: {e}")
    report(a, recs, work, e2e)
    if a.trace:
        metrics = {r[1]: {"value": float(r[2]), "unit": layer_unit(r[1])}
                   for r in recs if r[0] == "layer"}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": len(errors), "metrics": metrics}))
    shutil.rmtree(WORK_ROOT, ignore_errors=True)


# --------------------------------------------------------------- report --

# Per-layer metric -> the end-to-end metrics it should move (README.md).
_CORPUS = "corpus_batch:op_p50_ms"
_SQL = "sql_gateway:op_p50_ms"
_STREAM = "result_stream:rows_per_s"
LAYER_MOVES = {
    "sessions.start_ms": "setup_s", "tables.register_ms": "setup_s",
    "tables.store_builds": _CORPUS, "build.ms": _CORPUS, "build.jobs": _CORPUS,
    "plan.ms": f"{_CORPUS}; {_SQL}",
    "gateway.submit_ms": _SQL,
    "gateway.tickets": _STREAM, "gateway.page_jobs": _STREAM,
    "gateway.fetch_ms": f"{_STREAM}; {_SQL}",
    "health.submit_ms": "health_p90_ms", "health.fetch_ms": "health_p90_ms",
    "health.late_ms": "health_p90_ms",
}


def layer_moves(name):
    if name.startswith("exec."):
        return f"{_CORPUS}; {_SQL},ops_per_s"
    if name.startswith("arrow."):
        return f"{_STREAM}; {_SQL}"
    return LAYER_MOVES[name]


def layer_unit(name):
    if name.endswith("_ms_per_krow"):
        return "ms/krow"
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name == "arrow.bytes_per_row":
        return "B/row"
    if name == "exec.core_busy":
        return "ratio"
    return "count"


def report(a, recs, work, e2e):
    """Keep this run's end-to-end metrics under perfbench/.results; a traced
    run also writes its spans, its per-layer table tagged with the
    end-to-end metric each layer should move, and the tracing overhead
    against the untraced run of the same workload and seed."""
    os.makedirs(RESULTS, exist_ok=True)
    base = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}")
    mine = {k: v for k, (v, _) in e2e.items()}
    with open(f"{base}-trace{a.trace}.json", "w") as f:
        json.dump(mine, f, indent=1)
    if not a.trace:
        return
    untraced = f"{base}-trace0.json"
    overhead = None
    if os.path.exists(untraced):
        plain = json.load(open(untraced))
        overhead = {k: mine[k] - plain[k] for k in mine if k in plain}
    layers = [{"name": r[1], "value": float(r[2]), "unit": layer_unit(r[1]),
               "moves": layer_moves(r[1])} for r in recs if r[0] == "layer"]
    spans = [{"span": r[1], "count": int(r[2]), "total_ms": float(r[3]),
              "self_ms": float(r[4])} for r in recs if r[0] == "span"]
    with open(f"{base}-layers.json", "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "layers": layers,
                   "spans": spans, "traced_end_to_end": mine,
                   "tracing_overhead": overhead}, f, indent=1)
    shutil.copyfile(os.path.join(work, "spans.tsv"), f"{base}-spans.tsv")
    lines = [f"{'layer metric':30s} {'value':>12s}  unit     moves"]
    lines += [f"{l['name']:30s} {l['value']:12.3f}  {l['unit']:8s} {l['moves']}" for l in layers]
    lines += ["", f"{'span':20s} {'count':>6s} {'total_ms':>12s} {'self_ms':>12s}"]
    lines += [f"{s['span']:20s} {s['count']:6d} {s['total_ms']:12.1f} {s['self_ms']:12.1f}"
              for s in spans]
    if overhead:
        lines += ["", "tracing overhead (traced - untraced, same seed):"]
        lines += [f"  {k:16s} {v:+.3f}" for k, v in overhead.items()]
    text = "\n".join(lines) + "\n"
    with open(f"{base}-layers.txt", "w") as f:
        f.write(text)
    sys.stderr.write(text)


if __name__ == "__main__":
    main()
