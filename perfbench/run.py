#!/usr/bin/env python3
"""arcspark benchmark: one command per workload.

    python3 perfbench/run.py --workload ts_ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first run builds the engine and
the harness from source with sbt (perfbench/build.sbt depends on the
checkout's own build); later runs reuse the build until a source file
changes. The harness (perfbench/src) runs one workload in one JVM and
reports to this script, which checks answers and prints, as the last
line of stdout, {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. A detailed record of the run (tail percentiles,
sample counts, machine stamp) goes to .bench_build/results/.
"""
import argparse
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ts_ingest", "analytics_suite")
# analytics_suite tables: fixed, like the recorded digests that check them
DATA_SF, DATA_SEED = 0.01, 42
RUN_TIMEOUT_S = 170
# A claimed gain is tuned on DEFAULT_SEED and confirmed on HELD_OUT_SEED.
DEFAULT_SEED, HELD_OUT_SEED = 1, 2
JAVA_OPTS = [
    "-Xmx3g", "-Xms3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(fs)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build if any input changed; return the harness's runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: building engine and harness (sbt)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "--error",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def tables(sf, seed):
    """Generated analytics tables (cached per scale and seed)."""
    out = os.path.join(BUILD, "data", f"sf{sf}_seed{seed}")
    if not os.path.exists(os.path.join(out, "_done")):
        sys.path.insert(0, HERE)
        import gen_tables
        shutil.rmtree(out, ignore_errors=True)
        gen_tables.generate(out, sf, seed)
        open(os.path.join(out, "_done"), "w").close()
    return out


def run_harness(cp, workload, seed, seconds, trace, work, data, queries):
    args = ["java"] + JAVA_OPTS + ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work]
    if data:
        args += ["--data", data]
    if queries:
        args += ["--queries", ",".join(queries)]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(args, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{workload} did not finish in {RUN_TIMEOUT_S} s")
    result = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not result:
        sys.stderr.write(open(log_path).read()[-6000:])
        die(f"harness exited {p.returncode} without a result")
    return json.loads(result[-1][len("PERFBENCH_RESULT "):])


def check_digests(results_dir, names):
    """Compare each dumped answer with its recorded digest; return the
    list of mismatches (digests.py documents the canonical form)."""
    sys.path.insert(0, HERE)
    import digests
    recorded = json.load(open(os.path.join(HERE, "digests.json")))["queries"]
    bad = []
    for q in names:
        want = recorded.get(q)
        if want is None:
            bad.append(f"{q}: no recorded digest")
            continue
        try:
            got = digests.digest_dir(os.path.join(results_dir, q), want["kind"])
        except Exception as e:  # unreadable or missing output
            bad.append(f"{q}: {e}")
            continue
        if got != want["digest"]:
            bad.append(f"{q}: digest {got} != recorded {want['digest']}")
    return bad


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def run(workload, seed, seconds, trace, smoke=False):
    cp = classpath()
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data, queries = "", None
        if workload == "analytics_suite":
            data = tables(0.001 if smoke else DATA_SF, DATA_SEED)
            if smoke:
                queries = ["q01_agg_groupby", "q20_window_rank", "q37_pivot"]
        res = run_harness(cp, workload, seed, seconds, trace, work, data, queries)
        failures = list(res["failures"])
        failed = res["failed"]
        if workload == "analytics_suite" and not smoke:
            bad = check_digests(os.path.join(work, "results"), res["info"]["queries"])
            failed += len(bad)
            failures += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["info"]["git_sha"] = git_sha()
    res["info"]["workload"] = workload
    res["info"]["trace"] = int(trace)
    res["info"]["seconds"] = seconds
    return res, failed, failures


def trace_overhead(workload, traced_cpu):
    """The traced run's cpu_ms_per_op minus that of the latest untraced run
    of the same workload in this checkout (0 when there is none yet)."""
    recs = [os.path.join(BUILD, "results", f)
            for f in os.listdir(os.path.join(BUILD, "results"))
            if f.startswith(workload + "-") and "-trace0-" in f] \
        if os.path.isdir(os.path.join(BUILD, "results")) else []
    if not recs:
        return 0.0
    latest = max(recs, key=os.path.getmtime)
    return traced_cpu - json.load(open(latest))["e2e"]["cpu_ms_per_op"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at toy size, traced and untraced, "
                         "and check that every metric is emitted")
    ap.add_argument("--record-digests", action="store_true",
                    help="dump every declared query's answer on the analytics tables "
                         "(graft.Verify), cross-check against DuckDB, rewrite digests.json")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        die(f"no engine source next to perfbench/ (looked in {ROOT})")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.smoke:
        return smoke(spec)
    if a.record_digests:
        return record_digests()
    if not a.workload:
        die("--workload is required")
    res, failed, failures = run(a.workload, a.seed, a.seconds, a.trace == 1)
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    kind = "per_layer" if a.trace else "end_to_end"
    values = res["layer"] if a.trace else res["e2e"]
    if a.trace:
        values["trace.overhead_ms"] = trace_overhead(a.workload, values["trace.cpu_ms_per_op"])
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    record = dict(res, failed=failed, failures=failures, seed=a.seed)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


def record_digests():
    cp = classpath()
    data = tables(DATA_SF, DATA_SEED)
    out = os.path.join(BUILD, "verify")
    shutil.rmtree(out, ignore_errors=True)
    p = subprocess.run(["java"] + JAVA_OPTS + ["-cp", cp, "graft.Verify", data, out], cwd=ROOT)
    if p.returncode != 0:
        die("graft.Verify failed")
    p = subprocess.run([sys.executable, os.path.join(HERE, "digests.py"), "record",
                        data, out, os.path.join(out, "oracle_sql.json")])
    shutil.rmtree(out, ignore_errors=True)
    sys.exit(p.returncode)


def smoke(spec):
    """Toy-size run of every workload, both modes; every metric present."""
    problems = []
    for w in WORKLOADS:
        for trace in (False, True):
            res, failed, failures = run(w, 1, 2, trace, smoke=True)
            values = res["layer"] if trace else res["e2e"]
            kind = "per_layer" if trace else "end_to_end"
            for m in spec[kind]:
                v = values.get(m["name"])
                if not isinstance(v, (int, float)):
                    problems.append(f"{w} trace={int(trace)}: {m['name']} missing")
            if failed:
                problems.append(f"{w} trace={int(trace)}: {failed} failed: {failures[:3]}")
            print(f"smoke {w} trace={int(trace)}: attempted={res['attempted']} failed={failed}",
                  file=sys.stderr)
    for p in problems:
        print(f"perfbench smoke: {p}", file=sys.stderr)
    ok = not problems
    print(json.dumps({"smoke": "pass" if ok else "fail", "problems": len(problems)}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
