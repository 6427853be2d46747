#!/usr/bin/env python3
"""graft's end-to-end benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run compiles the engine
(src/main/scala) and the benchmark harness (perfbench/scala) into
.bench_build/; later runs reuse it while the sources are unchanged. Each run
generates its workload's inputs from the seed into a fresh directory under
.bench_work/, runs one JVM (a closed loop on local[nproc]), checks every
output, removes the directory, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 its per-layer metrics and
writes the spans to .bench_trace/<workload>-<seed>.jsonl.

--tiny shrinks every input (for the benchmark's own tests); --corrupt
damages one output per iteration before it is checked, to prove the checks
are live.
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

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("pta", "query_mix")

# Input sizes per generator: (benchmark, --tiny).
SIZES = {
    "pta": (dict(n_psr=4, median_toas=16, big_factor=3),
            dict(n_psr=3, median_toas=12, big_factor=2)),
    "posterior": (dict(n_steps=2000, n_chain_psr=2, n_models=4, n_pieces=1,
                       n_os_psr=12, n_draws=20),
                  dict(n_steps=1000, n_chain_psr=2, n_models=3, n_pieces=1,
                       n_os_psr=8, n_draws=10)),
    "star": (dict(n_orders=3000, n_docs=300), dict(n_orders=600, n_docs=100)),
}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

RUN_LIMIT_S = 175  # a run must end within 180 s (a building run within 900 s)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler (set SPARK_HOME)")
    return os.path.join(home, "jars", "*")


def build(root, jars):
    """Compile engine + harness with the Scala compiler that ships with
    Spark; skipped when .bench_build/stamp matches the sources' hash."""
    srcs = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        fail("no engine sources under src/main/scala: run from the root of a graft checkout")
    srcs += sorted(glob.glob(f"{HERE}/scala/**/*.scala", recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = f"{root}/.bench_build"
    classes = f"{out}/classes"
    if os.path.exists(f"{out}/stamp") and open(f"{out}/stamp").read() == stamp:
        return classes
    shutil.rmtree(out, ignore_errors=True)
    tmp = f"{out}/tmp-{os.getpid()}"
    os.makedirs(tmp)
    with open(f"{out}/sources.txt", "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    with open(f"{out}/build.log", "w") as log:
        rc = subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
             "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars,
             f"@{out}/sources.txt"], stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(f"{out}/build.log").read()[-4000:])
        fail(f"build failed (exit {rc})")
    os.rename(tmp, classes)
    with open(f"{out}/stamp", "w") as f:
        f.write(stamp)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def generate(name, work, seed, tiny):
    rng = np.random.default_rng(seed)
    size = {k: v[1 if tiny else 0] for k, v in SIZES.items()}
    if name == "pta":
        return {"array": gen.gen_pta(f"{work}/pta", rng, **size["pta"]),
                "posterior": gen.gen_posterior(f"{work}/posterior", rng, **size["posterior"])}
    with open(f"{HERE}/layers.json") as f:
        queries = json.load(f)["query_mix"]
    with open(f"{work}/queries.tsv", "w") as f:
        f.write("".join(f"{q}\t{layer}\n" for q, layer in queries.items()))
    return gen.gen_star(f"{work}/star", rng, **size["star"])


def oracle_failures(star, qout):
    """Compare each first-pass query result with DuckDB running the query's
    oracle SQL on the same tables: columns, row count and every value, after
    sorting columns by name and rows by all columns."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in glob.glob(f"{star}/*.parquet"):
        con.sql(f"CREATE VIEW {os.path.basename(t)[:-8]} AS SELECT * FROM '{t}'")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime"):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True) \
            if len(df) else df

    def same(a, b):
        if pd.isna(a) and pd.isna(b):
            return True
        return a == b

    if not os.path.exists(f"{qout}/oracle_sql.json"):
        return 1, ["no first-pass results"]
    with open(f"{qout}/oracle_sql.json") as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            got = canon(pd.concat([pd.read_parquet(p) for p in
                                   glob.glob(f"{qout}/{name}/*.parquet")], ignore_index=True))
            exp = canon(con.sql(sql).df())
            ok = (list(got.columns) == list(exp.columns) and len(got) == len(exp)
                  and all(same(a, b) for c in got.columns for a, b in zip(got[c], exp[c])))
        except Exception as e:  # an oracle or read error is a failed check
            print(f"oracle check {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            bad.append(name)
    return len(oracle), bad


def run_jvm(args, root, classes, jars, work, deadline):
    cpus = len(os.sched_getaffinity(0))
    llm_files = sorted({os.path.basename(f) for layer in ("llm", "text") for f in
                        glob.glob(f"{root}/src/main/scala/graft/{layer}/**/*.scala", recursive=True)})
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + JVM_OPENS +
           ["-cp", f"{classes}{os.pathsep}{jars}", "graft.perfbench.Main",
            "--workload", args.workload, "--work", work, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus),
            "--trace-out", os.path.abspath(f".bench_trace/{args.workload}-{args.seed}.jsonl"),
            "--llm-files", ",".join(llm_files),
            "--corrupt", "1" if args.corrupt else "0"])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("benchmark JVM ran over its time limit")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        sys.stderr.write(open(f"{work}/jvm.log").read()[-6000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    with open(f"{work}/jvm.log") as f:
        sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
    lines = out.splitlines()
    result = [l for l in lines if l.startswith("PERFBENCH ")]
    if not result:
        fail("benchmark JVM printed no result")
    return [l for l in lines if not l.startswith("PERFBENCH ")], json.loads(result[-1][10:])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    with open(f"{root}/BENCHMARK.json") as f:
        bench = json.load(f)
    jars = spark_jars()
    t_build = time.time()
    classes = build(root, jars)
    deadline = t_start + RUN_LIMIT_S + (time.time() - t_build)
    work = os.path.abspath(f".bench_work/{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        inputs = generate(args.workload, work, args.seed, args.tiny)
        t1 = time.time()
        lines, res = run_jvm(args, root, classes, jars, work, deadline)
        print(f"generate {t1 - t0:.1f} s, jvm {time.time() - t1:.1f} s", file=sys.stderr)
        attempted, failed = res["attempted"], res["failed"]
        failures = dict(res["failures"])
        if args.workload == "query_mix":
            n, bad = oracle_failures(f"{work}/star", f"{work}/qout")
            attempted += n
            failed += len(bad)
            failures.update({f"oracle:{q}": 1 for q in bad})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    declared = bench["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in declared:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"] or got["value"] is None:
            fail(f"metric {m['name']} missing or not in {m['unit']}: {got}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    for line in lines:
        print(line)
    print(f"workload={args.workload} seed={args.seed} inputs={json.dumps(inputs)} "
          f"iterations={res['iterations']}")
    print(f"fail_frac {failed / max(1, attempted):.4f} ratio "
          f"(failed={failed} attempted={attempted}) {failures if failures else ''}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
