#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

Usage (from the repository root):
    python3 perfbench/run.py --workload <retail_elt|catalog_sf01>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark code from the checkout's sources
(once per source state), runs the workload in one JVM with local[N] for
N = the usable cores, checks the outputs, and prints one JSON object as the
last line of stdout. With --trace 0 its metrics are the end-to-end ones,
with --trace 1 the per-layer ones. Exits 1 when any step or check fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
# the fixed seed-42 sf0.1 tables graft.Bench reads, kept with the benchmark
SF_DIR = os.path.join(BENCH, "data", "sf0.1")
DEADLINE_S = 170

E2E = [("setup_s", "s"), ("makespan_s", "s"), ("first_pass_s", "s"), ("cpu_s", "s"),
       ("query_p50_s", "s"), ("query_p90_s", "s"), ("peak_rss_mb", "MB"), ("peak_heap_mb", "MB"),
       ("write_amp", "ratio")]

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


# ---- build -------------------------------------------------------------------

def source_stamp():
    """Hash of every file the build reads: engine and benchmark sources and
    both build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        if os.path.isfile(p):
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    lines = open(log).read().splitlines()
    cps = [l for l in lines if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (rc={rc}), see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


# ---- host --------------------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]  # total, steal


def driver_heap():
    """The engine build's own heap rule: SPARK_DRIVER_MEM, else a quarter
    of RAM clamped to 2-32 GB."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        gb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1]) // (1024 * 1024)
    return f"{max(2, min(32, gb // 4))}g"


# ---- output checks -------------------------------------------------------------

def check_catalog(res):
    """DuckDB oracle parity for every query the run executed."""
    names = res["checked"]
    out = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                          res["data_dir"], res["check_dir"], ",".join(names)],
                         capture_output=True, text=True, timeout=120)
    failed = sorted({l.split()[1].rstrip(":") for l in out.stdout.splitlines()
                     if l.startswith("FAIL ")})
    if out.returncode != 0 and not failed:
        failed = ["oracle_check"]
        print(out.stdout[-2000:] + out.stderr[-2000:], file=sys.stderr)
    return len(names), failed


RETAIL_SQL = """
CREATE TABLE country AS
  SELECT column3 AS name, column1 AS iso
  FROM read_csv('{seed}', delim='\t', header=false, all_varchar=true);
CREATE TABLE raw AS
  SELECT * FROM read_csv('{csv}', header=true, quote='"', escape='"', columns={{
    'InvoiceNo': 'VARCHAR', 'StockCode': 'VARCHAR', 'Description': 'VARCHAR',
    'Quantity': 'BIGINT', 'InvoiceDate': 'VARCHAR', 'UnitPrice': 'DOUBLE',
    'CustomerID': 'DOUBLE', 'Country': 'VARCHAR'}});
CREATE TABLE pre AS
  SELECT * EXCLUDE (InvoiceDate, ts),
         strftime(max(ts) OVER (PARTITION BY InvoiceNo), '%m/%d/%Y %I:%M %p') AS InvoiceDate
  FROM (SELECT *, try_strptime(InvoiceDate, '%m/%d/%Y %H:%M') AS ts FROM raw);
CREATE MACRO sk2(a, b) AS md5(coalesce(CAST(a AS VARCHAR), '_null_') || '-' ||
                              coalesce(CAST(b AS VARCHAR), '_null_'));
CREATE MACRO sk3(a, b, c) AS md5(coalesce(CAST(a AS VARCHAR), '_null_') || '-' ||
                                 coalesce(CAST(b AS VARCHAR), '_null_') || '-' ||
                                 coalesce(CAST(c AS VARCHAR), '_null_'));
CREATE TABLE dim_customer AS
  SELECT d.*, c.iso FROM (SELECT DISTINCT sk2(CustomerID, Country) AS customer_key,
                                 Country AS country
                          FROM pre WHERE CustomerID IS NOT NULL) d
  LEFT JOIN country c ON d.country = c.name;
CREATE TABLE dim_datetime AS
  SELECT DISTINCT md5(InvoiceDate) AS date_key,
         year(strptime(InvoiceDate, '%m/%d/%Y %I:%M %p')) AS year,
         month(strptime(InvoiceDate, '%m/%d/%Y %I:%M %p')) AS month
  FROM pre WHERE InvoiceDate IS NOT NULL;
CREATE TABLE dim_product AS
  SELECT DISTINCT sk3(StockCode, Description, UnitPrice) AS product_key,
         StockCode AS stock_code, Description AS description
  FROM pre WHERE StockCode IS NOT NULL AND UnitPrice > 0;
CREATE TABLE dim_invoice AS
  SELECT DISTINCT md5(InvoiceNo) AS invoice_key, sk2(CustomerID, Country) AS customer_key
  FROM pre WHERE sk2(CustomerID, Country) IN (SELECT customer_key FROM dim_customer);
CREATE TABLE fct AS
  SELECT md5(InvoiceNo) AS invoice_key, md5(coalesce(InvoiceDate, '_null_')) AS date_key,
         sk3(StockCode, Description, UnitPrice) AS product_key, Quantity AS quantity,
         CAST(Quantity * UnitPrice AS DECIMAL(18, 4)) AS total_price
  FROM pre WHERE Quantity > 0
    AND md5(coalesce(InvoiceDate, '_null_')) IN (SELECT date_key FROM dim_datetime)
    AND sk3(StockCode, Description, UnitPrice) IN (SELECT product_key FROM dim_product)
    AND md5(InvoiceNo) IN (SELECT invoice_key FROM dim_invoice);
"""

RETAIL_REPORTS = {
    "report_customer_invoices": """
      SELECT c.country, c.iso, count(*) AS total_invoices,
             CAST(sum(f.total_price) AS DOUBLE) AS total_revenue
      FROM fct f JOIN dim_invoice i USING (invoice_key) JOIN dim_customer c USING (customer_key)
      GROUP BY ALL ORDER BY total_revenue DESC, 1 LIMIT 10""",
    "report_product_invoices": """
      SELECT p.product_key, p.stock_code, p.description, sum(f.quantity) AS total_quantity_sold
      FROM fct f JOIN dim_product p USING (product_key)
      GROUP BY ALL ORDER BY total_quantity_sold DESC, 1 LIMIT 10""",
    "report_year_invoices": """
      SELECT d.year, d.month, count(DISTINCT f.invoice_key) AS num_invoices,
             CAST(sum(f.total_price) AS DOUBLE) AS total_revenue
      FROM fct f JOIN dim_datetime d USING (date_key)
      GROUP BY ALL ORDER BY 1, 2""",
}


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def check_retail(res):
    """The three reports against an independent DuckDB evaluation of the
    reference pipeline over the same CSV."""
    import duckdb
    work = os.path.dirname(res["check_dir"])
    utf8 = os.path.join(work, "raw_invoices.utf8.csv")
    with open(os.path.join(res["data_dir"], "raw_invoices.csv"), encoding="latin-1") as src, \
            open(utf8, "w", encoding="utf-8") as dst:
        shutil.copyfileobj(src, dst, 1 << 20)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    seed = os.path.join(ROOT, "src", "main", "resources", "graft", "country_seed.tsv")
    con.execute(RETAIL_SQL.format(csv=utf8, seed=seed))
    failed = []
    for name, sql in RETAIL_REPORTS.items():
        want = con.execute(sql).fetchall()
        cols = [d[0] for d in con.description]
        got_rel = con.execute(f"SELECT {', '.join(cols)} FROM read_parquet('{res['check_dir']}/{name}/*.parquet')")
        got = got_rel.fetchall()
        key = lambda r: tuple(str(x) for x in r)
        if len(got) != len(want) or not all(
                all(same(x, y) for x, y in zip(g, w))
                for g, w in zip(sorted(got, key=key), sorted(want, key=key))):
            print(f"[perfbench] {name}: engine {got[:3]} vs duckdb {want[:3]}", file=sys.stderr)
            failed.append(name)
    return len(RETAIL_REPORTS), failed


# ---- run ---------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["retail_elt", "catalog_sf01"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not in this checkout")
    t_start = time.time()
    cp = build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    threads = len(os.sched_getaffinity(0))
    total0, steal0 = cpu_times()
    launch_ms = int(time.time() * 1000)
    heap = driver_heap()
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), run_dir, str(launch_ms), str(threads), SF_DIR])
    budget = DEADLINE_S - (time.time() - t_start)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=max(10, budget - 15))
        except subprocess.TimeoutExpired:
            fail("the run exceeded its time budget")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    total1, steal1 = cpu_times()
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    res_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        print(open(os.path.join(run_dir, "jvm.log")).read()[-4000:], file=sys.stderr)
        fail(f"the benchmark JVM failed (rc={rc})")
    res = json.load(open(res_file))

    t_check = time.time()
    checks, check_failed = (check_retail if a.workload == "retail_elt" else check_catalog)(res)
    check_s = time.time() - t_check
    errors = res["errors"]
    for k, v in errors.items():
        print(f"[perfbench] FAILED {k}: {v}", file=sys.stderr)
    for n in check_failed:
        print(f"[perfbench] WRONG {n}", file=sys.stderr)
    attempted = res["attempted"] + checks
    failed = len(errors) + len(check_failed)

    if a.trace:
        # a layer the workload does not use reads 0
        values = dict(res["layers"], **{"host.steal_pct": steal_pct})
        metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in layer_units().items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E}
    print(f"[perfbench] {a.workload} seed={a.seed} threads={threads} passes={res['passes']} "
          f"setup_s={res['e2e']['setup_s']:.2f} pass_s={[round(x, 3) for x in res['pass_s']]} "
          f"pass_heap_mb={[round(x) for x in res['pass_heap_mb']]} "
          f"step_s={ {k: round(v, 3) for k, v in res['step_s'].items()} } "
          f"gen_s={res['gen_s']:.1f} loop_s={res['loop_s']:.1f} "
          f"check_s={check_s:.1f} failed_share={failed / attempted:.4f} "
          f"host.steal_pct={steal_pct:.2f} wall_s={time.time() - t_start:.1f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    # on SIGTERM, unwind so the JVM child is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
