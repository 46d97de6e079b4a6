#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the harness against the checkout's sources on first use (sbt,
offline), generates the workload's inputs from the seed, runs the JVM
harness (perfbench.Main), checks outputs, and prints a summary followed
by one JSON line: {"correct", "attempted", "failed", "metrics"}.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_bars", "corpus_artifacts")
# Inputs of the batch workload: rows of events, days they span, rows of
# documents and of embeddings.
SIZES = {"corpus_artifacts": (20_000, 2, 500, 300)}
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the harness build reads, so a checkout builds once."""
    h = hashlib.sha256()
    files = []
    for base in ("src/main", "project", "perfbench/src/main", "perfbench/project"):
        for d, subdirs, names in os.walk(os.path.join(ROOT, base)):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "bench.classpath")
    stamp_file = os.path.join(HERE, "target", "bench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    # Flush the compiler's writes now, so that their writeback does not
    # compete with the first measured run's checkpoint I/O.
    os.sync()
    with open(cp_file) as f:
        return f.read()


def load_check():
    """The repository's oracle compare (tools/check.py)."""
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_mismatches(data_dir, out_dir, queries):
    """Compare each query's dumped output with its DuckDB oracle, the way
    tools/check.py does; return {query: reason} for every failure."""
    import glob
    import duckdb
    import pandas as pd
    canon = load_check().canon
    con = duckdb.connect()
    for t in os.listdir(data_dir):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{data_dir}/{t}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for q in queries:
        if q not in oracle:
            bad[q] = "no output or no oracle"
            continue
        files = glob.glob(f"{out_dir}/{q}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        try:
            g, e = canon(got), canon(con.sql(oracle[q]).df())
        except Exception as ex:  # an oracle or dtype error is a failed check
            bad[q] = f"compare error: {ex}"
            continue
        if list(g.columns) != list(e.columns):
            bad[q] = f"schema {list(g.columns)} != {list(e.columns)}"
        elif len(g) != len(e):
            bad[q] = f"rows {len(g)} != {len(e)}"
        elif not g.equals(e):
            bad[q] = f"values differ in {int((g != e).any(axis=1).sum())} rows"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a repository checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    classpath = build()
    t_start = time.time()
    run_dir = os.path.join(HERE, "out", f"run-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("data", "work", "out", "index", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    proc = None

    def cleanup(*_):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    def on_signal(signum, _frame):
        cleanup()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        if a.workload in SIZES:
            sys.path.insert(0, HERE)
            import datagen
            datagen.generate(dirs["data"], a.seed, *SIZES[a.workload])
        result_file = os.path.join(run_dir, "result.json")
        cpus = len(os.sched_getaffinity(0))
        # A fixed-size heap and young generation under the parallel
        # collector: resident memory then tracks the old generation's
        # high-water mark instead of heap-resizing decisions, so that
        # peak_rss_mb reflects what the program retains.
        cmd = (["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn512m",
                "-Dspark.ui.enabled=false",
                f"-Dgraft.index.root={dirs['index']}", f"-Djava.io.tmpdir={dirs['tmp']}"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--data", dirs["data"], "--work", dirs["work"],
                  "--out", dirs["out"], "--result", result_file,
                  "--traces", os.path.join(HERE, "out", "traces")])
        env = dict(os.environ, BENCH_CPUS=str(cpus))
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                rc = None
        if rc != 0 or not os.path.exists(result_file):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail("harness timed out" if rc is None else f"harness exited with {rc}", 4)
        with open(result_file) as f:
            rec = json.load(f)

        attempted, failed = rec["attempted"], rec["failed"]
        errors = list(rec["errors"])
        if a.workload in SIZES:
            queries = sorted(rec["checks"])
            bad = oracle_mismatches(dirs["data"], dirs["out"], queries)
            failed += sum(rec["checks"].get(q, 1) for q in bad)
            errors += [f"{q}: {why}" for q, why in sorted(bad.items())]

        names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
        metrics = {n: rec["metrics"][n] for n in names if n in rec["metrics"]}
        missing = [n for n in names if n not in metrics]
        if missing:
            errors.append(f"metrics not measured: {', '.join(missing)}")
        correct = failed == 0 and not errors

        h = rec["host"]
        print(f"host: nproc={h['nproc']} cpus_used={h['cpus_used']} loadavg={h['loadavg']} "
              f"cpu={h['cpu_model']} mem={h['mem_total_gib']}GiB java={h['java']} spark={h['spark']}")
        summary = dict(rec["summary"], fail_ratio=failed / max(1, attempted))
        print("summary: " + json.dumps(summary, sort_keys=True))
        for n, m in metrics.items():
            print(f"  {n} = {m['value']:.6g} {m['unit']}")
        for e in errors:
            print(f"  error: {e}")
        os.makedirs(os.path.join(HERE, "out", "records"), exist_ok=True)
        with open(os.path.join(HERE, "out", "records",
                               f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}.json"), "w") as f:
            json.dump(dict(rec, failed=failed, errors=errors), f)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        cleanup()


if __name__ == "__main__":
    main()
