#!/usr/bin/env python3
"""Benchmark runner for the graft engine: builds the engine and the
benchmark from the checkout's sources, makes the workload's inputs, runs one
measured JVM, checks the outputs and prints one JSON result line.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all      # every workload, one table

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# every run reports every metric of BENCHMARK.json's set for its mode; the
# workload-specific layer metrics beyond that set go on the line before
E2E = [m["name"] for m in SPEC["end_to_end"]]
LAYER = [m["name"] for m in SPEC["per_layer"]]
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
CATALOG_SF = "0.01"
CATALOG_DATA_SEED = 42
DEADLINE_S = 175  # one run, build excluded

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_logged(cmd, logfile, timeout, env=None, cwd=None):
    """Run a child in its own process group; kill the group on timeout."""
    with open(logfile, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=cwd,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; returns the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "classpath.hash"), os.path.join(BUILD, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("building engine + benchmark with sbt (first run only)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g")
    logfile = os.path.join(BUILD, "build.log")
    open(logfile, "w").close()
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], logfile, 850, env=env, cwd=HERE)
    lines = open(logfile, errors="replace").read().splitlines()
    cp = [l for l in lines if "/classes:" in l or l.endswith("/classes")]
    if rc != 0 or not cp:
        sys.exit(f"[perfbench] build failed (rc={rc}); see {logfile}")
    open(cp_file, "w").write(cp[-1].strip())
    open(stamp, "w").write(want)
    return cp[-1].strip()


def catalog_data():
    d = os.path.join(BUILD, f"catalog-sf{CATALOG_SF}-seed{CATALOG_DATA_SEED}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_catalog.py"), d, CATALOG_SF,
                        str(CATALOG_DATA_SEED)], check=True, timeout=300)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def jvm(cp, args, work, logfile, timeout):
    heap = "4g"
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar", "jdk.httpserver/sun.net.httpserver"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           "-Dsun.net.httpserver.nodelay=true", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    return run_logged(cmd, logfile, timeout, cwd=work)


# ---- catalog output check: DuckDB oracle vs the Spark parquet outputs ----
# The comparison rules (type classes, exact cell equality) are the repo's
# own oracle gate, tools/check_oracle.py.
sys.path.insert(0, os.path.join(ROOT, "tools"))


def frames_equal(sdf, sschema, otbl):
    """None when a Spark result equals the oracle's, else why not."""
    import check_oracle as co
    a, b = co.canon(sdf), co.canon(otbl.to_pandas())
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    stypes, otypes = co.schema_types(sschema), co.schema_types(otbl.schema)
    if stypes != otypes:
        return f"types {stypes} vs {otypes}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            try:
                ok = bool(co.cells_equal(x, y))
            except Exception:
                ok = str(x) == str(y)
            if not ok:
                return f"row {i} col {c}: {x!r} vs {y!r}"
    return None


def oracle_results(data, sqls):
    """DuckDB results for every oracle SQL, cached per (generated tables, SQL text)."""
    import duckdb
    import pyarrow.parquet as pq
    gen = open(os.path.join(HERE, "gen_catalog.py")).read()
    key = hashlib.sha256((gen + CATALOG_SF + str(CATALOG_DATA_SEED)
                          + json.dumps(sqls, sort_keys=True)).encode()).hexdigest()[:16]
    d = os.path.join(BUILD, f"oracle-{key}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    errors = {}
    for name, sql in sorted(sqls.items()):
        try:
            pq.write_table(con.execute(sql).arrow(), os.path.join(d, f"{name}.parquet"))
        except Exception as e:  # recorded; the query then fails its check
            errors[name] = str(e)[:300]
    json.dump(errors, open(os.path.join(d, "errors.json"), "w"))
    open(os.path.join(d, "_DONE"), "w").close()
    return d


def check_catalog(work, data, report):
    """Every query: the rows its noop write consumed equal the oracle's row
    count. Queries the run wrote out (a seed-rotating sixth): the whole
    output equals the oracle's."""
    import pandas as pd
    import pyarrow.parquet as pq
    out = os.path.join(work, "out")
    sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
    od = oracle_results(data, sqls)
    oerr = json.load(open(os.path.join(od, "errors.json")))
    rows = report["info"].get("output_rows", {})
    fails = []
    for name in sorted(rows):
        if name not in sqls or name in oerr:
            fails.append(f"{name}: no oracle result ({oerr.get(name, 'no SQL form')})")
            continue
        opath = os.path.join(od, f"{name}.parquet")
        n_oracle = pq.ParquetFile(opath).metadata.num_rows
        why = None
        if rows[name] != n_oracle:
            why = f"noop sink consumed {rows[name]} rows, oracle has {n_oracle}"
        elif os.path.isdir(os.path.join(out, name)):
            files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
            if not files:
                why = "no spark output"
            else:
                sdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                why = frames_equal(sdf, pq.read_schema(files[0]), pq.read_table(opath))
        if why:
            fails.append(f"{name}: {why}")
    return len(rows), fails


def one_run(cp, workload, seed, seconds, trace, t_start):
    runs = os.path.join(BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    work = os.path.join(runs, f"{workload}-{seed}-{trace}")
    os.makedirs(work)
    data = catalog_data() if workload == "catalog" else work
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--data", data]
    logfile = os.path.join(BUILD, f"jvm-{workload}.log")
    open(logfile, "w").close()
    budget = DEADLINE_S - (time.time() - t_start)
    steal0, total0 = cpu_ticks()
    rc = jvm(cp, args, work, logfile, budget)
    steal1, total1 = cpu_ticks()
    rp = os.path.join(work, "report.json")
    if rc != 0 or not os.path.exists(rp):
        tail = open(logfile, errors="replace").read()[-3000:]
        sys.exit(f"[perfbench] {workload} JVM failed (rc={rc}); log tail:\n{tail}")
    report = json.load(open(rp))
    # CPU time the hypervisor gave other guests while the run lasted: runs
    # under more steal are slower for reasons outside the program
    report["info"]["steal_pct"] = round(100 * (steal1 - steal0) / max(1, total1 - total0), 2)
    os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
    shutil.copy(rp, os.path.join(BUILD, "reports", f"{workload}-{seed}-{trace}.json"))
    fails = list(report["failures"])
    attempted, failed = report["attempted"], report["failed"]
    if workload == "catalog":
        n, cfails = check_catalog(work, data, report)
        attempted += n
        failed += len(cfails)
        fails += cfails
    if trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        sp = os.path.join(work, "spans.jsonl")
        if os.path.exists(sp):
            shutil.copy(sp, os.path.join(traces, f"{workload}-{seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return report, attempted, failed, fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[perfbench] engine sources (src/main/scala/graft) not found next to perfbench/")
    cp = build()
    t_start = time.time()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    ok = True
    for w in names:
        t0 = time.time() if a.workload == "all" else t_start
        report, attempted, failed, fails = one_run(cp, w, a.seed, a.seconds, a.trace, t0)
        got = report["metrics"]
        expected = LAYER if a.trace else E2E
        missing = [k for k in expected if k not in got]
        wrong = [f"{k} [{got[k]['unit']}]" for k in expected
                 if k in got and got[k]["unit"] != UNITS[k]]
        if missing or wrong:
            fails.append(f"metrics missing: {missing}, in another unit: {wrong}")
            failed += 1
        correct = failed == 0
        ok &= correct
        # the stamps, the workload's own layer metrics beyond BENCHMARK.json's
        # set and the end-to-end metric each metric should move, one line
        # before the result
        detail = {k: [v["value"], v["unit"]] for k, v in got.items()
                  if k not in E2E and k not in LAYER}
        print(json.dumps({"workload": w, "seed": a.seed, "trace": a.trace,
                          "failed_ratio": failed / max(1, attempted), "failures": fails[:20],
                          "detail": detail,
                          "moves": {k: v["moves"] for k, v in got.items() if "moves" in v},
                          "stamp": report["info"]}), flush=True)
        for f in fails[:20]:
            log(f"check failed: {f}")
        if a.workload == "all":
            for k in [k for k in expected if k in got] + list(detail):
                moves = got[k].get("moves", "")
                print(f"{w:12s} {k:36s} {got[k]['value']:>14.6g} {got[k]['unit']:10s} {moves}",
                      flush=True)
        else:
            metrics = {k: {"value": got[k]["value"], "unit": got[k]["unit"]}
                       for k in expected if k in got}
            print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                              "metrics": metrics}), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
