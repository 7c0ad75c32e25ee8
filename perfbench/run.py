#!/usr/bin/env python3
"""Benchmark driver for the graft Spark library.

    python3 perfbench/run.py --workload <sparkify_etl|corpus_dedup|lake_ingest>
        --seed <n> --seconds <s> --trace <0|1> [--heap-mb 2048] [--cores nproc-1]

Run from the root of a checkout. It builds the library together with the
benchmark's JVM driver (sbt, only when the sources changed), generates the
workload's inputs for the seed (once per workload and seed, re-verified by
content hash on every reuse), runs one JVM on local[cores] with a fixed heap,
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
Everything it writes stays under perfbench/.work and perfbench/target. Each
run's full artifact (per-op series, calibration probes, counters) is kept in
perfbench/.work/artifacts. See perfbench/NOTES.md.
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "runtime.classpath")
STAMP = os.path.join(TARGET, "build.stamp")
RUN_LIMIT_S = 175

# Input sizes per workload; NOTES.md explains each choice.
SIZES = {
    "sparkify_etl": dict(events=400_000, users=10000,
                         view_share=0.2, dup_share=0.02, log_files=8),
    "corpus_dedup": dict(docs=10000, vectors=20000, vocab=5000, zipf=1.1,
                         exact_share=0.05, near_share=0.10, min_len=40,
                         max_len=120, dim=64, clusters=400, noise=0.35,
                         warm_scale=0.03),
    "lake_ingest": dict(batches=80, batch_rows=20000, samples=8),
}
KEEP_SEEDS = 2  # generated input sets kept per workload

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha256_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def tree_files(top, suffixes=None):
    out = []
    for d, dirs, files in os.walk(top):
        dirs[:] = sorted(x for x in dirs if x not in ("target", ".work"))
        out += [os.path.join(d, f) for f in sorted(files)
                if suffixes is None or f.endswith(suffixes)]
    return out


def run_child(cmd, cwd, log_path, timeout, env=None):
    """Runs cmd in its own process group; kills the group on timeout."""
    with open(log_path, "ab") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=logf, stderr=logf,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        finally:
            try:  # reap anything the child left behind in its group
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def build():
    sources = ([os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")]
               + tree_files(os.path.join(HERE, "src"), (".scala",))
               + tree_files(LIB_SRC, (".scala", ".java")))
    stamp = sha256_files(sources)
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    log("building library + benchmark driver (sbt compile)")
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        # the first Spark install on PATH: a bin/ with spark-submit whose
        # parent holds the jars
        homes = [os.path.dirname(d) for d in env.get("PATH", "").split(":")
                 if os.path.exists(os.path.join(d, "spark-submit"))
                 and os.path.isdir(os.path.join(os.path.dirname(d), "jars"))]
        if not homes:
            sys.exit("SPARK_HOME is unset and no Spark install is on PATH")
        env["SPARK_HOME"] = homes[0]
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Xmx2g -Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    os.makedirs(WORK, exist_ok=True)
    t = time.time()
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "-Dsbt.server.autostart=false", "compile",
                      "writeClasspath"],
                     HERE, os.path.join(WORK, "build.log"), 850, env)
    if code != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"build failed (exit {code}); see {WORK}/build.log")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.0f} s")


def inputs(workload, seed):
    """The generated inputs for (workload, seed), made once and verified by
    content hash on every reuse. Returns their directory."""
    size = SIZES[workload]
    tag = hashlib.sha256(json.dumps(size, sort_keys=True).encode()) \
        .hexdigest()[:8]
    base = os.path.join(WORK, "inputs", workload)
    d = os.path.join(base, f"seed-{seed}-{tag}")
    digest = os.path.join(base, f"seed-{seed}-{tag}.sha256")
    if os.path.isdir(d) and os.path.exists(digest):
        with open(digest) as f:
            if f.read().strip() == sha256_files(tree_files(d)):
                os.utime(d)
                return d
        log(f"content hash mismatch, regenerating {d}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    # bound the disk used by cached inputs: keep the newest few seeds
    old = sorted((x for x in os.listdir(base) if os.path.isdir(
        os.path.join(base, x))), key=lambda x: os.path.getmtime(
        os.path.join(base, x)))
    for x in old[:max(0, len(old) - KEEP_SEEDS + 1)]:
        shutil.rmtree(os.path.join(base, x), ignore_errors=True)
        try:
            os.remove(os.path.join(base, x + ".sha256"))
        except FileNotFoundError:
            pass
    sys.path.insert(0, HERE)
    import gen
    t = time.time()
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    gen.generate(workload, tmp, seed, size)
    os.rename(tmp, d)
    with open(digest, "w") as f:
        f.write(sha256_files(tree_files(d)))
    log(f"generated {workload} seed {seed} in {time.time() - t:.1f} s")
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--heap-mb", type=int, default=2048)
    ap.add_argument("--cores", default="nproc-1")
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        sys.exit(f"library sources not found under {LIB_SRC}: run from the "
                 "root of a full checkout")
    # "nproc-1" leaves one core to the JIT compiler, GC and OS threads
    cores = (os.cpu_count() + int(a.cores[5:] or 0)
             if a.cores.startswith("nproc") else int(a.cores))

    build()
    built_s = time.time() - t_start
    in_dir = inputs(a.workload, a.seed)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    for sub in ("artifacts", "logs"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    stamp = time.strftime("%Y%m%d-%H%M%S")
    name = f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}"
    artifact = os.path.join(WORK, "artifacts", name + ".json")
    result = os.path.join(run_dir, "result.json")
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = (["java", f"-Xms{a.heap_mb}m", f"-Xmx{a.heap_mb}m",
            "-XX:+UseG1GC", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--inputs", in_dir, "--work", run_dir,
              "--artifact", artifact, "--result", result])
    budget = RUN_LIMIT_S - (time.time() - t_start) + built_s
    t_jvm = time.time()
    code = run_child(cmd, ROOT, os.path.join(WORK, "logs", name + ".log"),
                     max(budget, 30))
    log(f"jvm {time.time() - t_jvm:.1f} s, total {time.time() - t_start:.1f} s")
    if code != 0 or not os.path.exists(result):
        sys.exit(f"benchmark JVM failed (exit {code}); see "
                 f"{WORK}/logs/{name}.log")
    with open(result) as f:
        res = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    res["metrics"] = contract_metrics(a.workload, a.trace, res["metrics"])
    print(json.dumps(res, sort_keys=True))


def contract_metrics(workload, trace, got):
    """Exactly the metrics BENCHMARK.json lists for this kind of run. A
    per-layer metric of a layer this workload never calls reads 0; a
    missing end-to-end metric is an error. Workloads BENCHMARK.json does
    not list print everything they measured."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return got
    with open(path) as f:
        bench = json.load(f)
    if workload not in {w["name"] for w in bench["workloads"]}:
        return got
    out = {}
    for m in bench["per_layer" if trace else "end_to_end"]:
        if m["name"] in got:
            if got[m["name"]]["unit"] != m["unit"]:
                sys.exit(f"unit mismatch for {m['name']}: "
                         f"{got[m['name']]['unit']} vs {m['unit']}")
            out[m["name"]] = got[m["name"]]
        elif trace:
            out[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            sys.exit(f"end-to-end metric {m['name']} not measured")
    return out


if __name__ == "__main__":
    main()
