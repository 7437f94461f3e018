"""The repo benchmark: one workload per run against the engine's public
calls, outputs checked against oracles, one JSON result as the last
line of stdout.

    python3 perfbench/run.py --workload curation_ingest --seed 1 \
        --seconds 5 --trace 0

Run it from the root of a checkout. The first run compiles the engine
and the benchmark (perfbench/build.py); inputs are generated from
--seed (perfbench/inputs.py); state and outputs live under
.bench_build/perfbench/. See perfbench/README.md for the workloads and
metrics. Exit code 0 only when every correctness gate passed.
"""
import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("loan_train_serve", "curation_ingest")
# a run must end within this many seconds once the build is done
RUN_BUDGET_S = 175.0

# JVM options of the engine's documented run (build.sbt javaOptions),
# with Spark's scratch space and the JVM temp dir kept in the work dir and
# the heap fixed at 3 GiB, so peak RSS does not follow G1's heap growth.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def jvm_options(work):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [
        "-Xms3g", "-Xmx3g", "-XX:+UnlockDiagnosticVMOptions",
        "-XX:GCLockerRetryAllocationCount=100",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]


def generate(workload, seed, inputs_dir):
    if workload == "loan_train_serve":
        inputs.write_loan(seed, inputs_dir)
    else:
        inputs.relabel_docs(seed, inputs_dir)


def duckdb_gates(res, inputs_dir, out_dir):
    """Hash-match the registry's DuckDB oracles over the generated
    inputs, canonicalised as tools/local_verify.py does."""
    if not res.get("oracles"):
        return []
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from local_verify import canon

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(inputs_dir, 'documents.parquet')}')")
    gates = []
    for name, sql in sorted(res.get("oracles", {}).items()):
        got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
        gc, gr = canon(got.fetchall(), [d[0] for d in got.description])
        exp = con.execute(sql)
        ec, er = canon(exp.fetchall(), [d[0] for d in exp.description])
        if gc != ec:
            detail = f"columns {gc} != {ec}"
        elif gr != er:
            first = next((g, e) for g, e in itertools.zip_longest(gr, er) if g != e)
            detail = f"{len(gr)} rows, oracle {len(er)}; first difference (got, oracle): {first}"
        else:
            detail = ""
        gates.append({"name": f"{name}.oracle", "ok": not detail, "detail": detail})
    return gates


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.ensure_built()
    deadline = time.monotonic() + RUN_BUDGET_S

    work = os.path.join(build.BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs_dir, out_dir = os.path.join(work, "inputs"), os.path.join(work, "out")
    for d in (inputs_dir, out_dir, os.path.join(work, "tmp")):
        os.makedirs(d)

    t0 = time.perf_counter()
    generate(a.workload, a.seed, inputs_dir)
    gen_s = time.perf_counter() - t0

    cmd = ["java"] + jvm_options(work) + ["-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--inputs", inputs_dir, "--work", work,
           "--launched-at-ns", str(time.time_ns())]
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10.0, deadline - time.monotonic() - 15))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: JVM timed out; log in {log.name}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    result = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {p.returncode}")
    with open(result) as fh:
        res = json.load(fh)

    gates = res["gates"] + duckdb_gates(res, inputs_dir, out_dir)
    for g in gates:
        if not g["ok"]:
            print(f"perfbench: gate {g['name']} FAILED: {g['detail']}", file=sys.stderr)
    failed = int(res["failed"])
    correct = failed == 0 and all(g["ok"] for g in gates) and bool(res["walls_s"])

    if a.trace:
        values = res["per_layer"]
    else:
        values = {"setup_s": gen_s + res["setup_jvm_s"],
                  "wall_s": statistics.median(res["walls_s"]) if res["walls_s"] else 0.0,
                  "peak_rss_mb": res["peak_rss_mb"]}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    if set(values) != {m["name"] for m in declared}:
        raise SystemExit("perfbench: measured metrics differ from BENCHMARK.json: "
                         f"{sorted(set(values) ^ {m['name'] for m in declared})}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
