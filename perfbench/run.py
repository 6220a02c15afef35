#!/usr/bin/env python3
"""graft benchmark: named workloads, measured from outside the program.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
engine and the benchmark with the Scala compiler that ships with the
engine's Spark jars; later runs reuse the build while the sources are
unchanged. Inputs are generated from --seed by
perfbench/gen.py, the JVM side (perfbench/src) drives the engine's public
API in a closed loop with one client thread on local[nproc], and this
script checks the outputs and prints one JSON object as its last stdout
line: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes goes under .bench_build/perfbench/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("cdc_merge", "admission_stream")
HEAP = "2g"
# JDK 17 module opens Spark needs outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jar directory the engine's build compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars. It carries Spark and the
    Scala compiler of the same version."""
    found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(ROOT, "build.sbt")).read())
    dirs = [found.group(1)] if found else []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler found")


def sources():
    """Scala sources of the engine and the benchmark, sorted."""
    picked = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            picked += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(picked)


def build(deadline):
    """Compile the engine and the benchmark in one scalac run (no sbt, so
    nothing is written outside the checkout); return the runtime
    classpath and the hash of what it was built from."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from the repository root; engine sources not found")
    jars = spark_jars()
    srcs = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    key = hashlib.sha256(
        (digest(srcs) + jars + " ".join(sorted(os.listdir(jars)))).encode()).hexdigest()
    classes = os.path.join(BUILD, "classes")
    key_file = os.path.join(BUILD, "build.key")
    cp = os.pathsep.join([classes, resources, os.path.join(jars, "*")])
    if os.path.isdir(classes) and os.path.exists(key_file) and open(key_file).read() == key:
        return cp, key
    log("compiling engine + benchmark (scalac)")
    tmp = os.path.join(BUILD, "tmp")
    out = classes + ".tmp"
    for d in (tmp, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    compiler = os.pathsep.join(glob.glob(os.path.join(jars, f"scala-{part}-*.jar"))[0]
                               for part in ("compiler", "library", "reflect"))
    args = os.path.join(tmp, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(f'"{x}"' for x in srcs))
    res = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", compiler, "scala.tools.nsc.Main", "-nowarn", "-d", out,
         "-classpath", os.path.join(jars, "*"), "@" + args],
        capture_output=True, text=True, timeout=max(10, deadline - time.time()))
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(out, classes)
    with open(key_file, "w") as f:
        f.write(key)
    return cp, key


def digest(paths):
    h = hashlib.sha256()
    for f in paths:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed):
    """Seeded inputs, made once per (workload, seed, generator) and reused."""
    gen = digest([os.path.join(HERE, "gen.py")])[:16]
    out = os.path.join(BUILD, "data", f"{workload}-{seed}-{gen}")
    if not os.path.exists(os.path.join(out, "meta.json")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), tmp],
                       check=True)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def cpu_ticks():
    """Aggregate CPU ticks of the machine: (steal, all)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def run_jvm(cp, args, work, deadline):
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+ExplicitGCInvokesConcurrent", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(BUILD, "jvm.log"), "w") as logf:
        # a local-mode driver on the loopback: no lookup of the host's name
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
        proc = subprocess.Popen(cmd, cwd=BUILD, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: JVM run timed out")
        finally:
            # on a timeout or a signal to this script, the JVM goes with it
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(BUILD, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")


# ---------------------------------------------------------------- checks

def canon(df):
    """Columns by name, rows sorted; dates, decimals and floats brought to
    one representation on both sides."""
    import datetime
    import decimal
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            sample = df[c].dropna()
            sample = sample.iloc[0] if len(sample) else None
            if isinstance(sample, decimal.Decimal):
                df[c] = df[c].astype(float)
            elif isinstance(sample, datetime.date):
                df[c] = pd.to_datetime(df[c])
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same(con, got_dir, want_sql):
    import pandas as pd
    got = canon(pd.read_parquet(got_dir))
    want = canon(con.execute(want_sql).fetchdf())
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    got.columns = want.columns = range(len(got.columns))
    diff = (got != want) & ~(got.isna() & want.isna())
    return not diff.any().any()


def views(con, data, tables):
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")


ODS_COLS = ("l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, "
            "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_comment, "
            "ship_month, updated_at")


def latest_sql(end_us, late_upto_us):
    """Latest row per key over the base table plus the normalized change
    feed: on-time changes before `end_us`, late ones before
    `late_upto_us` (the end of the last backdate cycle that ran)."""
    feed = f"""SELECT OrderKey AS l_orderkey, LineNumber AS l_linenumber, PartKey AS l_partkey,
        SuppKey AS l_suppkey, TRY_CAST(Quantity AS DOUBLE) AS l_quantity,
        ExtendedPrice AS l_extendedprice, Discount AS l_discount, Tax AS l_tax,
        ReturnFlag AS l_returnflag, LineStatus AS l_linestatus, ShipDate AS l_shipdate,
        regexp_replace(Comment, '[\\r\\x00]', '', 'g') AS l_comment,
        strftime(ShipDate, '%Y-%m') AS ship_month, UpdatedAt AS updated_at
      FROM (SELECT * FROM changelog WHERE UpdatedAt < make_timestamp({end_us})
            UNION ALL SELECT * FROM late WHERE UpdatedAt < make_timestamp({late_upto_us}))"""
    return f"""SELECT {ODS_COLS} FROM (
        SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
                                     ORDER BY updated_at DESC) AS rn
        FROM (SELECT {ODS_COLS} FROM ods_base UNION ALL {feed})
      ) WHERE rn = 1"""


def check_cdc(data, meta, fin):
    con = duckdb.connect()
    views(con, data, ["ods_base", "changelog", "late"])
    last = meta["cycles"][fin["cycles"] - 1]
    con.execute(f"CREATE TABLE want AS {latest_sql(last['end_us'], last['late_upto_us'])}")
    ok_ods = same(con, f"{fin['final_dir']}/ods", "SELECT * FROM want")
    mart = """SELECT CAST(l_shipdate AS DATE) AS day, l_returnflag,
        strftime(l_shipdate, '%Y-%m') AS month,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_price,
        count(*) AS n FROM want GROUP BY ALL"""
    ok_mart = same(con, f"{fin['final_dir']}/mart", mart)
    if not (ok_ods and ok_mart):
        log(f"cdc_merge final check: ods={ok_ods} mart={ok_mart}")
    return ok_ods and ok_mart


# ---------------------------------------------------------------- metrics

def tail(walls):
    """Wall at the highest percentile with at least ten samples beyond it."""
    s = sorted(walls)
    if len(s) < 11:   # no percentile has ten samples beyond it: the max
        return s[-1], 100.0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    # metric names and units: BENCHMARK.json is the one list
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp, build_key = build(start + 850)
    # what decided this result: the build plus the generator and this script
    source_hash = hashlib.sha256(
        (build_key + digest([os.path.join(HERE, f) for f in ("gen.py", "run.py")])).encode()
    ).hexdigest()
    deadline = time.time() + 170
    data = generate(a.workload, a.seed)
    meta = json.load(open(os.path.join(data, "meta.json")))
    work = os.path.join(BUILD, "work", a.workload)
    result = os.path.join(BUILD, f"result-{a.workload}.json")
    trace_out = os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.jsonl")
    if os.path.exists(result):
        os.remove(result)
    steal0 = cpu_ticks()
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--data", data, "--work", work, "--out", result,
                 "--trace_out", trace_out], work, deadline)
    steal1 = cpu_ticks()
    log(f"JVM done at {time.time() - start:.1f} s")
    r = json.load(open(result))
    fin = r["finish"]
    # admission_stream's per-tick exact-set checks ran in the JVM; with a
    # byte-deterministic generator they also pin the admitted set per seed
    ok = check_cdc(data, meta, fin) if a.workload == "cdc_merge" else True
    log(f"checks done at {time.time() - start:.1f} s")
    ops = r["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    if not ok:
        failed = len(ops)   # a wrong final state cannot be pinned on one op
    attempted = len(ops)
    correct = ok and failed == 0
    timed = [o["wall_s"] for o in ops if not o["traced"]]
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "samples": attempted, "fail_ratio": failed / attempted,
              "params": meta["params"], "env": r["env"], "source_sha256": source_hash,
              "data_dir": os.path.relpath(data, ROOT),
              # share of CPU time the hypervisor gave to other guests while
              # the JVM ran: a slow run with a high share was slowed by the host
              "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
              "op_walls_s": [o["wall_s"] for o in ops]}
    if a.trace == 0:
        t, pct = tail(timed)
        values = {"setup_s": r["setup_s"], "op_p50_s": statistics.median(timed),
                  "op_tail_s": t, "ops_per_s": len(timed) / sum(timed),
                  "write_amp": fin["write_amp"], "space_amp": fin["space_amp"],
                  "rss_peak_mb": r["rss_peak_mb"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        report["op_tail_percentile"] = pct
    else:
        metrics = {m["name"]: {"value": r["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        report["unsupported_or_zero"] = sorted(k for k, v in metrics.items() if not v["value"])
        report["trace_file"] = os.path.relpath(trace_out, ROOT)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def stop(signum, _frame):
    # unwinds through the `finally` that stops a running JVM or compiler
    raise SystemExit(f"perfbench: stopped by signal {signum}")


if __name__ == "__main__":
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    main()
