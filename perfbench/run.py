#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line on stdout.

Usage (from the repository root):
    python3 perfbench/run.py --workload {gates,serve} --seed N \\
        --seconds S --trace {0,1}

The first run in a checkout builds the program and the harness from
source with sbt (offline) into `.bench_build/` and `target/`; later runs
reuse that build while the sources are unchanged. Each run gets a fresh
directory under `.bench_build/` (JVM tmpdir, handoff root, Spark scratch,
indexes) that is removed when the run ends. The last line printed is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). All logs go to stderr.
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
WORKLOADS = ("gates", "serve")
# Per-layer metrics of layers a workload does not exercise, by name or by
# prefix (ending in "."); they read 0 there. Every other per-layer metric
# must come from the harness, or the run fails.
REGISTRIES = ("vector", "catalog", "text", "dedup", "ann", "multimodal", "event",
              "relational", "pipeline", "curation", "hybrid", "model", "web")
NOT_EXERCISED = {
    "gates": ("serving.", "functions.", "operators.chunk_embed_s",
              "self.functions_s", "self.serving_s"),
    "serve": tuple(f"queries.{r}_s" for r in REGISTRIES) + ("queries.driver_gap_s",
                                                            "self.queries_s"),
}
# the JVM and then the gate oracle compare get this long; the whole run
# must end within 180 s
JVM_TIMEOUT_S = 160
ORACLE_TIMEOUT_S = 15
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("run.py: no program sources next to perfbench/ (build.sbt, src/main/scala)")
    fp = fingerprint()
    cp_file, fp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "classpath.fp")
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building the program and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                       stderr=sys.stderr, text=True, timeout=840)
    sys.stderr.write(p.stdout[-4000:])
    cps = [l.strip() for l in p.stdout.splitlines()
           if l.strip().startswith("/") and "perfbench" in l and ".jar" in l]
    if p.returncode != 0 or not cps:
        raise SystemExit(f"run.py: sbt build failed (exit {p.returncode})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(fp_file, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1]


def run_jvm(cp, args, work):
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
        "-Dspark.sql.codegen.cache.maxEntries=5000",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.handoff.dir={work}/handoff",
        "-cp", cp, "graft.perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"harness exceeded {JVM_TIMEOUT_S} s; stopping it")
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        raise SystemExit("run.py: --seconds must be at least 1")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", f"{work}/result.json",
                "--cpus", str(os.cpu_count() or 1)]
        if a.workload == "gates":
            sys.path.insert(0, HERE)
            import fixture
            os.makedirs(f"{work}/fixture")
            fixture.main(f"{work}/fixture", a.seed)
            args += ["--fixture", f"{work}/fixture"]
        code = run_jvm(cp, args, work)
        if code != 0:
            raise SystemExit(f"run.py: harness exited with {code}")
        with open(f"{work}/result.json") as f:
            res = json.load(f)
        correct = res["correct"]
        if a.workload == "gates":
            # each gate result against its DuckDB oracle SQL, with the
            # repository's own compare
            oracle = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "verify_local.py"),
                                     f"{work}/fixture", f"{work}/gates-out"],
                                    stdout=sys.stderr, stderr=sys.stderr, timeout=ORACLE_TIMEOUT_S)
            correct = correct and oracle.returncode == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        idle = NOT_EXERCISED[a.workload]

        def exercised(name):
            return not any(name == p or (p.endswith(".") and name.startswith(p)) for p in idle)

        names = {m["name"] for m in spec["per_layer"]}
        wrong = sorted(set(res["layer"]) - {n for n in names if exercised(n)})
        if wrong:
            raise SystemExit(f"run.py: harness reported metrics that BENCHMARK.json lacks "
                             f"or that {a.workload} does not exercise: {wrong}")
        metrics = {m["name"]: {"value": res["layer"].get(m["name"]) if exercised(m["name"])
                               else 0.0, "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for name in sorted(metrics):
            log(f"{name:36s} {metrics[name]['value']!r:>24} {metrics[name]['unit']}")
    else:
        metrics = {m["name"]: {"value": res["e2e"].get(m["name"]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    missing = sorted(n for n, m in metrics.items() if m["value"] is None)
    if missing:
        raise SystemExit(f"run.py: no value measured for {missing}")
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))



if __name__ == "__main__":
    main()
