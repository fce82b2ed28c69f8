#!/usr/bin/env python3
"""Lakehouse benchmark: builds the program from source, runs one workload in
a fresh JVM and prints one JSON result line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

Run it from the repository root. The build (sbt, offline, then a class-data
archive of one session start) happens on the first run in a checkout and is
reused while the sources are unchanged; all build outputs, inputs and
results stay under `.bench_build/`. The last line
of stdout is the result; the line before it is the full report (every
end-to-end metric of the workload with its unit, the environment, and for a
traced run the per-layer metrics, the self-time check and the tracing
overhead). Workloads, metrics and bounds are listed in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the checkout stays as git would commit it
import tables  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("pipeline", "tables_queries")
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
HEAP = "3g"
CPUS = max(1, min(4, os.cpu_count() or 1))
# the program's own JIT settings (build.sbt): a code cache large enough for
# the generated classes of many plans, and no recompilation cutoff
JIT_FLAGS = ["-XX:ReservedCodeCacheSize=2g", "-XX:PerMethodRecompilationCutoff=-1",
             "-XX:PerBytecodeRecompilationCutoff=-1"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, timeout, log_path):
    """Run cmd in its own process group; kill the whole group on timeout."""
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} exceeded {timeout}s; see {log_path}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_digest(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), HARNESS):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, out):
    """Compile program + harness once per source digest; returns the classpath."""
    digest = source_digest(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp = os.path.join(out, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    if not os.environ.get("SPARK_HOME"):
        # the first spark-submit on PATH that sits in a Spark installation
        homes = [os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(":")
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
        home = next((h for h in homes if os.path.isdir(os.path.join(h, "jars"))), None)
        if home is None:
            fail("no Spark installation: set SPARK_HOME or put its bin/ on PATH")
        os.environ["SPARK_HOME"] = home
    log = os.path.join(out, "build.log")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-J-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "compile",
           "export Runtime/fullClasspath"]
    t0 = time.time()
    if run_group(cmd, HARNESS, BUILD_TIMEOUT_S, log) != 0:
        fail(f"build failed; see {log}")
    lines = [l.strip() for l in open(log, errors="replace") if l.strip()]
    cp = next((l for l in reversed(lines) if "scala-library" in l and ":" in l
               and not l.startswith("[")), None)
    if cp is None:
        fail(f"no classpath in {log}")
    # class-data sharing maps classes from jars only: pack the compiled
    # classes into one, then archive the classes a session start loads, so
    # each run's JVM maps them instead of loading and verifying them
    entries = []
    for e in cp.split(":"):
        if os.path.isdir(e):
            jar = os.path.join(out, "app.jar")
            os.replace(shutil.make_archive(jar, "zip", e), jar)
            e = jar
        entries.append(e)
    cp = ":".join(entries)
    archive = os.path.join(out, "app.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(out, "work", "class-archive")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    run_group(java(cp, work, ["--train", "1", "--work", work, "--cpus", str(CPUS)],
                   [f"-XX:ArchiveClassesAtExit={archive}"]), work, BUILD_TIMEOUT_S, log)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp, digest


def java(classpath, work, args, flags=()):
    """The harness JVM's command line; `flags` go to the JVM."""
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + JIT_FLAGS + list(flags) +
            [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/spark-warehouse"] +
            [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            ["-cp", classpath, "perfbench.Main"] + args)


def oracle_check(root, data_dir, query_dir, log_path):
    """The repository's DuckDB oracle diff over the query outputs; (ok, bad)."""
    tool = os.path.join(root, "tools", "oracle_check.py")
    if not os.path.exists(tool):
        fail("tools/oracle_check.py not found")
    r = subprocess.run([sys.executable, tool, data_dir, query_dir], cwd=root,
                       capture_output=True, text=True, timeout=120)
    with open(log_path, "a") as f:
        f.write(r.stdout + r.stderr)
    m = re.search(r"(\d+) ok, (\d+) bad", r.stdout)
    if not m:
        fail(f"oracle check printed no summary; see {log_path}")
    return int(m.group(1)), int(m.group(2))


def steal_s():
    """CPU time the hypervisor gave other guests, summed over CPUs (0 if unknown)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classpath, digest = build(root, out)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(out, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(out, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, run_id + ".log")
    result_path = os.path.join(work, "result.json")
    archive = os.path.join(out, "app.jsa")
    cmd = java(classpath, work,
               ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", result_path, "--cpus", str(CPUS)],
               [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else [])
    t0, steal0 = time.time(), steal_s()
    if a.workload == "tables_queries":
        data = os.path.join(work, "data")
        tables.write(data, a.seed)
        cmd += ["--tables", data, "--tables-seconds", str(time.time() - t0)]
    rc = run_group(cmd, work, RUN_TIMEOUT_S, log)
    if rc != 0 or not os.path.exists(result_path):
        fail(f"harness exited with {rc}; see {log}")
    res = json.load(open(result_path))
    attempted, failed = res["attempted"], res["failed"]
    detail = res["detail"]
    detail["host_steal_s"] = steal_s() - steal0
    if a.workload == "tables_queries":
        o0 = time.time()
        ok, bad = oracle_check(root, detail["data_dir"], detail["query_dir"], log)
        detail["oracle_s"] = time.time() - o0
        attempted += ok + bad
        failed += bad
        detail["oracle"] = {"ok": ok, "bad": bad}
    e2e = res["end_to_end"]

    # the report line: every end-to-end metric of this workload, by name and
    # unit, plus what makes runs comparable across hosts
    report = dict(e2e)
    report["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
    report.update(res["report"])
    env = dict(res["env"])
    env.update({"SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "host_nproc": os.cpu_count(), "git_commit": git_commit(root),
                "source_digest": digest, "seed": a.seed, "inputs": res["inputs"]})
    full = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "metrics": report,
            "env": env, "errors": res["errors"], "run_s": time.time() - t0,
            "detail": {k: v for k, v in detail.items() if k != "samples"}}
    if a.trace:
        full["per_layer"] = res["per_layer"]
        full["trace_check"] = res["trace_check"]
        full["trace_overhead_s"] = res["trace_overhead_s"]
        full["spans"] = os.path.relpath(result_path + ".spans.jsonl", root)
    print(json.dumps(full, sort_keys=True))

    values = res["per_layer"] if a.trace else e2e
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        v = values.get(m["name"])
        if v is None or v["unit"] != m["unit"]:
            fail(f"metric {m['name']} ({m['unit']}) not measured as named in BENCHMARK.json")
        metrics[m["name"]] = v
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    # keep the spans and results of traced runs, drop the bulky data
    for d in os.listdir(work):
        p = os.path.join(work, d)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)


if __name__ == "__main__":
    main()
