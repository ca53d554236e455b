#!/usr/bin/env python3
"""Benchmark of record: one workload, one seed, one JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload sql_cli|curate_batch --seed N \
      --seconds S --trace 0|1

Builds the engine and the benchmark program from source when they changed,
generates the workload's inputs from the seed, runs perfbench.Main at
local[<cores>], checks every output against DuckDB with the repository's
scripts/check_oracle.py, and prints one JSON result as the last stdout line.
Exits non-zero on a build or run failure or on any wrong output.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*.scala", "src/main/**/*.java",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*.scala"]
    return sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True))


def build():
    """Compile with sbt when any source changed; return the run classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                           stdin=subprocess.DEVNULL, text=True, timeout=700)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        with open(log, "a") as fh:
            fh.write(r.stdout)
        fail(f"build failed (see {log})", 1)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return lines[-1]


def run_jvm(cp, workload, data, out, seconds, trace, seed, cores):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", workload, data, out, str(seconds), str(trace),
            str(seed), str(cores)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"),
               SPARK_GRAFT_CPUS=str(cores))
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s (see {log})", 1)
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"benchmark JVM exited {rc}:\n{tail}", 1)
    with open(os.path.join(out, "report.json")) as fh:
        return json.load(fh)


def oracle_check(data, dump, expected):
    """scripts/check_oracle.py, unchanged, over the dump; every expected
    output must be compared and match."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"), data, dump],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
    ok = {l.split()[1] for l in r.stdout.splitlines() if l.startswith("ok ")}
    missing = sorted(set(expected) - ok)
    for l in r.stdout.splitlines():
        if l.startswith("FAIL"):
            print(l, file=sys.stderr)
    if missing:
        print(f"perfbench: not matched: {missing}", file=sys.stderr)
    return r.returncode == 0 and not missing


def read_rows(path):
    import pyarrow.parquet as pq
    files = glob.glob(os.path.join(path, "*.parquet"))
    return pq.read_table(files[0]).to_pylist() if files else []


def curate_outcomes(dump, props):
    """Useful outcomes of the curation stages, from their checked outputs."""
    injected = {tuple(p) for p in props["injected_pairs"]}
    found = {tuple(sorted((r["doc_a"], r["doc_b"]))) for r in read_rows(os.path.join(dump, "d03_dedup_minhash"))}
    kept = read_rows(os.path.join(dump, "d10_dedup_corpus"))
    guard = read_rows(os.path.join(dump, "d46_cosine_gate_guard"))
    return {
        "dedup.injected_recall": len(injected & found) / max(1, len(injected)),
        "dedup.removed_frac": 1.0 - len(kept) / props["docs"],
        "gate.guard_fired": float(any("budget" in r for r in guard)),
    }


def print_rollup(out, report):
    """Self time per span name over the traced pass, and the overhead line."""
    spans = [json.loads(l) for l in open(os.path.join(out, "spans.jsonl"))]
    roll = {}
    for s in spans:
        key = s["name"].split("/")[0]
        n, tot, self_ = roll.get(key, (0, 0, 0))
        roll[key] = (n + 1, tot + s["end_us"] - s["start_us"], self_ + s["self_us"])
    print(f"{'span':28} {'count':>6} {'total_ms':>10} {'self_ms':>10}")
    for k, (n, tot, self_) in sorted(roll.items(), key=lambda kv: -kv[1][2]):
        print(f"{k:28} {n:6d} {tot / 1000:10.1f} {self_ / 1000:10.1f}")
    m = report["metrics"]
    print(f"tracing overhead: traced {m['trace.wall_ms']:.1f} ms - untraced "
          f"{m['trace.untraced_wall_ms']:.1f} ms = {m['trace.overhead_ms']:.1f} ms; "
          f"self-time sum / traced wall = {m['trace.self_sum_ratio']:.3f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(ROOT, "scripts", "check_oracle.py"))):
        fail("run from the repository root: engine sources or scripts/check_oracle.py not found")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")
    os.makedirs(WORK, exist_ok=True)
    cp = build()

    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    data = os.path.join(WORK, "data", tag)
    out = os.path.join(WORK, "out", tag)
    for d in (data, out):
        shutil.rmtree(d, ignore_errors=True)
    props = gen.generate(a.workload, a.seed, data)
    os.makedirs(out)
    cores = len(os.sched_getaffinity(0))
    report = run_jvm(cp, a.workload, data, out, a.seconds, a.trace, a.seed, cores)

    dump = os.path.join(out, "dump")
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        expected = list(json.load(fh))
    if a.workload == "curate_batch":
        stages = list(report["props"]["stages"])
        expected = sorted(set(expected) | set(stages))
    correct = oracle_check(data, dump, expected) and report["failed"] == 0
    layer = dict(report["metrics"])
    layer.update(curate_outcomes(dump, props) if a.workload == "curate_batch" else
                 {"dedup.injected_recall": 0.0, "dedup.removed_frac": 0.0, "gate.guard_fired": 0.0})
    if a.trace:
        print_rollup(out, report)
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in wanted}
    inputs = {k: v for k, v in props.items() if k != "injected_pairs"}
    inputs.update(report["props"])
    print(json.dumps({"inputs": inputs, "cores": cores,
                      "op_p50_ms_by_label": report["op_p50_ms_by_label"],
                      "dump_s": report["dump_s"], "jvm_s": report["jvm_s"]}))
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(dump, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
