#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Usage, from the root of a source tree:

    python3 perfbench/run.py --workload graph_local --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source (sbt, offline; skipped
when the sources are unchanged since the last build), runs one workload in
one JVM (`graft.perfbench.Main`), checks its outputs, prints a readable
report and, as the last line of standard output, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, from a run
that also writes its spans to perfbench/.work/run/trace.jsonl.

Everything the benchmark writes stays under perfbench/.work and the sbt
target directories.
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

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("graph_local", "graph_dist", "registry_batch")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "2g"
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


def source_stamp(root):
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    for top in (root, HERE):
        for sub in ("build.sbt", "project", os.path.join("src", "main")):
            start = os.path.join(top, sub)
            found = [start] if os.path.isfile(start) else []
            for d, dirs, files in os.walk(start):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                found += [os.path.join(d, f) for f in sorted(files)]
            for p in found:
                if p.endswith((".scala", ".java", ".sbt", ".properties")):
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def build(root, work):
    """Compile engine + benchmark with sbt; return the runtime classpath."""
    bdir = os.path.join(work, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp_file, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], HERE, env, out, BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail("build failed:\n" + "\n".join(lines[-20:]), 1)
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def jvm_cmd(cp, run_dir):
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "graft.perfbench.Main"])


def run_bounded(cmd, cwd, env, out, timeout):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def oracle_check(root, out_dir, data_dir):
    """Compare dumped registry results against their DuckDB oracles with
    the repository's canonical form (tools/check_oracle.py), and the
    lookups against the customer table. Returns the keys checked, the
    mismatching ones with the reason, and the mismatching lookups."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = duckdb.connect()
    for t in co.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad_keys = {}
    for key, sql in sorted(oracles.items()):
        res = os.path.join(out_dir, "results", key)
        try:
            parts = sorted(os.path.join(res, p) for p in os.listdir(res) if p.endswith(".parquet"))
            got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
            want = con.execute(sql).df()
            if sorted(got.columns) != sorted(want.columns):
                bad_keys[key] = "columns differ"
            elif co.canon(got) != co.canon(want):
                bad_keys[key] = f"values differ ({len(got)} vs {len(want)} rows)"
        except Exception as e:  # a missing or unreadable result is a mismatch
            bad_keys[key] = str(e)[:200]
    bad_lookups = []
    with open(os.path.join(out_dir, "lookups.json")) as f:
        for lk in json.load(f):
            want = con.execute(
                "SELECT CAST(c_custkey AS BIGINT), c_name, c_mktsegment FROM customer "
                f"WHERE c_custkey = {int(lk['id'])}").fetchall()
            if [[str(v) for v in r] for r in want] != lk["rows"]:
                bad_lookups.append(int(lk["req"]))
    return len(oracles), bad_keys, bad_lookups


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft source tree: {need} is missing")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java must be on PATH")

    work = os.path.join(HERE, ".work")
    cp = build(root, work)

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out_json = os.path.join(run_dir, "out.json")
    data_dir = os.path.join(HERE, "data", "sf0.001")
    cmd = jvm_cmd(cp, run_dir) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", run_dir, "--data", data_dir, "--out", out_json]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        rc = run_bounded(cmd, root, dict(os.environ), out, RUN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out_json):
        with open(log) as f:
            tail = f.read().splitlines()[-30:]
        fail(f"run failed (rc={rc}):\n" + "\n".join(tail), 1)
    with open(out_json) as f:
        res = json.load(f)

    failed, report = res["failed"], dict(res["report"])
    if a.workload == "registry_batch":
        checked, bad_keys, bad_lookups = oracle_check(root, os.path.join(run_dir, "registry"), data_dir)
        executions = dict(x.split("=") for x in report["executions_per_key"].split(","))
        failed += sum(int(executions[k]) for k in bad_keys) + len(bad_lookups)
        report["oracle"] = (f"{checked} keys checked against DuckDB, {len(bad_keys)} mismatched; "
                            f"lookups mismatched: {len(bad_lookups)}")
        for k, why in bad_keys.items():
            report[f"oracle.{k}"] = why

    report["error_ratio"] = f"{failed / res['attempted']:.4f} ({failed} failed of {res['attempted']} attempted)"
    mode = "per-layer (traced)" if a.trace else "end-to-end (untraced)"
    print(f"== perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} "
          f"cores={res['cores']} client=closed-loop x1 {mode} ==")
    for name, m in res["metrics"].items():
        print(f"  {name:36s} {m['value']!s:>24} {m['unit']:6s} n={m['n']}")
    for k, v in report.items():
        print(f"  {k}: {v}")
    last = os.path.join(work, "last", f"{a.workload}-{a.seed}.json")
    if a.trace:
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)["metrics"]
            for t, b in (("trace.ops_per_s", "ops_per_s"), ("trace.batch_warm_s", "batch_warm_s")):
                tv, bv = res["metrics"][t]["value"], base[b]["value"]
                print(f"  tracing_overhead.{b}: traced {tv} - untraced {bv} = {tv - bv}")
        else:
            print("  tracing_overhead: no untraced run of this workload and seed to compare with")
        print(f"  trace: {os.path.join(run_dir, 'trace.jsonl')} residual_ok={res['residual_ok']}")
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        shutil.copyfile(out_json, last)

    correct = failed == 0 and res["residual_ok"]
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": failed,
        "metrics": {n: {"value": m["value"], "unit": m["unit"]} for n, m in res["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
