#!/usr/bin/env python3
"""graft's benchmark: one seeded workload run against graft's public
entry points, from the root of a source checkout.

    python3 perfbench/run.py --workload lake_scan --seed 1 --seconds 12 --trace 0

Workloads (see BENCHMARK.json for why each exists):
  lake_scan    glob / Hive / time-partition / change-detection requests
               and the lake contract keys over a stored manifest listing
  llm_audit    iterative ladders and parameter sweeps on the corpus
  lake_ingest  ingest cycles over 30 event days: write, list, detect,
               commit, read the changed partitions, stream the listing

The run builds graft and the benchmark from source (sbt; the classpath
is kept in .bench_build/ with a hash of the sources it was built from,
and any other hash rebuilds), generates the inputs from the seed, runs
one JVM with a fresh session and a single closed-loop client,
checks every distinct output against DuckDB (the rules of
tools/parity.py) or against the counts the generator planted, deletes
everything the run wrote, and prints one JSON line last. --trace 1
prints the per-layer metrics instead of the end-to-end ones and keeps
the spans in .bench_build/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170  # a run's budget after the build; the JVMs get what is left

# the JDK 17 module opens Spark needs outside spark-submit (the repository
# build file passes the same list to its forked runs)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "pass_s": "s", "request_p50_s": "s"}
# figures that only some workloads have, read 0 by design, or rest on too
# few requests to gate on; printed on the summary line and reported with
# the traced run
WORKLOAD_FIGURES = {"request_p90_s": "s", "failed_ratio": "ratio", "ingest_rows_per_s": "rows/s",
                    "stream_batch_p50_s": "s", "stored_bytes_per_input_byte": "ratio",
                    "retained_disk_mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{ROOT}/src/main/**/*", recursive=True) +
                   glob.glob(f"{HERE}/src/**/*", recursive=True) +
                   [f"{ROOT}/build.sbt", f"{ROOT}/project/build.properties",
                    f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    if not (os.path.isfile(f"{ROOT}/build.sbt") and os.path.isdir(f"{ROOT}/src/main/scala")):
        fail("no graft sources (build.sbt, src/main/scala) next to perfbench/")
    # One stamp: the hash of the sources the last build compiled into the
    # shared target/ directories, and its classpath. Any other hash rebuilds,
    # so a checkout that moves between commits never runs stale classes.
    stamp = f"{BUILD}/classpath.txt"
    digest = sources_hash()
    if os.path.isfile(stamp):
        built, _, cp = open(stamp).read().strip().partition("\n")
        if built == digest and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
        os.remove(stamp)
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.forcestart=false").strip()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:8]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(f"{digest}\n{lines[-1]}")
    return lines[-1]


def run_jvm(cp, workload, inp, work, trace, deadline):
    mem = os.environ.get("SPARK_DRIVER_MEM", "4g")
    tmp = f"{work}/tmp"
    os.makedirs(work, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for o in OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] +
           [f"-Xmx{mem}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main", workload, inp, work, str(trace)])
    with open(f"{work}/jvm.log", "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.isfile(f"{work}/result.json"):
        sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
        fail(f"benchmark JVM exited with {rc}")
    return json.load(open(f"{work}/result.json"))


def wrong_by_oracle(checks, inp):
    """Ids of requests whose Spark output differs from DuckDB's, compared
    by the rules of tools/parity.py (columns by name, rows sorted, exact
    values, column types)."""
    sys.path.insert(0, f"{ROOT}/tools")
    import duckdb
    from parity import canon
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings", "manifest"):
        p = f"{inp}/{t}.parquet"
        if os.path.exists(p):
            p += "/*.parquet" if os.path.isdir(p) else ""
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    wrong = []
    for c in checks:
        try:
            s = con.sql(f"SELECT * FROM read_parquet('{c['dir']}/*.parquet')")
            o = con.sql(c["sql"])
            scols, srows = canon(s.fetchall(), list(s.columns))
            ocols, orows = canon(o.fetchall(), list(o.columns))
            stypes = dict(zip(s.columns, map(str, s.types)))
            otypes = dict(zip(o.columns, map(str, o.types)))
            ok = scols == ocols and srows == orows and all(stypes[k] == otypes[k] for k in scols)
        except Exception as e:  # an unreadable output is a wrong output
            print(f"perfbench: check of request {c['id']} raised {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: request {c['id']} differs from the oracle", file=sys.stderr)
            wrong.append(c["id"])
    con.close()
    return wrong


def quantile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def main():
    # a terminated run still stops its JVM and deletes what it wrote
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["lake_scan", "llm_audit", "lake_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    # the contract's argument; a run measures one pass of the seeded requests
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    sys.path.insert(0, HERE)
    import gen

    deadline = time.monotonic() + RUN_LIMIT_S
    work = f"{BUILD}/runs/{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    inp = f"{work}/input"
    try:
        t0 = time.perf_counter()
        props = gen.generate(a.workload, a.seed, inp)
        gen_s = time.perf_counter() - t0
        if a.trace:
            # an untraced run of the same inputs first, for the overhead
            untraced = run_jvm(cp, a.workload, inp, f"{work}/untraced", 0, deadline)
        t1 = time.perf_counter()
        r = run_jvm(cp, a.workload, inp, work, a.trace, deadline)
        t2 = time.perf_counter()
        wrong = set(r["wrong_ids"]) | set(wrong_by_oracle(r["checks"], inp))
        check_s, jvm_s = time.perf_counter() - t2, t2 - t1
        failed = len(set(r["failed_ids"]) | wrong)
        attempted = r["attempted"]
        lat = r["latencies_s"]
        lat = lat or [r["pass_s"]]  # every request failed; the run reads incorrect
        e2e = {
            "setup_s": gen_s + statistics.median(r["setup_s"]) + r["warmup_s"],
            "pass_s": r["pass_s"],
            "request_p50_s": statistics.median(lat),
        }
        figures = dict(r["extras"], failed_ratio=failed / attempted,
                       request_p90_s=quantile(lat, 0.9))
        by_label = {}
        for label, s in zip(r["labels"], lat):
            by_label[label] = by_label.get(label, 0.0) + s
        top = sorted(by_label.items(), key=lambda kv: -kv[1])[:8]
        print(f"# {a.workload} seed={a.seed} pass={r['pass_s']:.2f}s requests={attempted} "
              f"gen={gen_s:.2f}s jvm={jvm_s:.2f}s oracle={check_s:.2f}s "
              f"setups={['%.2f' % s for s in r['setup_s']]} warmup={r['warmup_s']:.2f}s "
              f"inputs={json.dumps(props)}")
        print("# time by request kind: " + ", ".join(f"{k} {v:.2f}s" for k, v in top))
        print("# " + "  ".join(f"{k}={v:.6g} {u}" for k, u in
                               list(END_TO_END.items()) + list(WORKLOAD_FIGURES.items())
                               for v in [e2e.get(k, figures.get(k, 0.0))]))
        if a.trace:
            layers = dict(r["layers"], pass_s=e2e["pass_s"])
            layers.update(figures)
            layers["trace.overhead_s"] = e2e["pass_s"] - untraced["pass_s"]
            spec = json.load(open(f"{ROOT}/BENCHMARK.json"))
            metrics = {m["name"]: {"value": derived(layers, m["name"]), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            os.makedirs(f"{BUILD}/traces", exist_ok=True)
            shutil.copy(f"{work}/spans.json", f"{BUILD}/traces/{a.workload}-{a.seed}.json")
        else:
            metrics = {k: {"value": v, "unit": u} for k, u in END_TO_END.items() for v in [e2e[k]]}
        print(json.dumps({"correct": not wrong and not r["failed_ids"], "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def derived(layers, name):
    """A per-layer metric from the traced run's raw counters (per pass)."""
    g = lambda k: layers.get(k, 0.0)
    per_req = lambda k: g(k) / max(1.0, g("requests_per_pass"))
    if name in ("operators.jobs", "operators.stages", "operators.tasks") or name.startswith("plans.") \
            and name not in ("plans.planning_s", "plans.prefix_pushed_ratio"):
        return per_req(name)
    if name == "operators.core_busy_ratio":
        return g("operators.task_busy_s") / max(1e-9, g("pass_s") * g("cores"))
    if name == "plans.prefix_pushed_ratio":
        return g("plans.prefix_pushed") / g("plans.prefix_requests") if g("plans.prefix_requests") else 0.0
    if name.startswith("functions.glob_ns_per_row."):
        cls = name.rsplit(".", 1)[1]
        rows = g(f"functions.glob_rows.{cls}")
        return g(f"functions.glob_busy_s.{cls}") * 1e9 / rows if rows else 0.0
    if name == "sources.rows_read_per_row_out":
        return g("sources.rows_read") / g("sources.rows_out") if g("sources.rows_out") else 0.0
    if name == "sources.partitions_read_ratio":
        return g("sources.partitions_read") / g("sources.partitions_total") if g("sources.partitions_total") else 0.0
    if name == "sources.bytes_written_mb":
        return g("sources.bytes_written") / 2 ** 20
    if name == "streaming.rows_per_batch":
        return g("streaming.input_rows") / g("streaming.batches") if g("streaming.batches") else 0.0
    return g(name)


if __name__ == "__main__":
    main()
