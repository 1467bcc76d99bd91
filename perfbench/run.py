#!/usr/bin/env python3
"""Run one benchmark workload against the repository's program.

    python3 perfbench/run.py --workload sync_incremental --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source with sbt on first use (the
build is reused while no source file changes), runs the workload in one JVM
at local[nproc], checks its outputs against the harness's models, and prints
the metrics. The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics. `--workload all` runs every
workload in turn. The exit code is 0 only if every check passed.
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
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["sync_incremental", "lakehouse_mixed"]
RUN_LIMIT_S = 175        # one run, build excluded
BUILD_LIMIT_S = 850

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, for the rebuild fingerprint."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _terminate(signum, _frame):
    # turn SIGTERM into an exception so run_group's cleanup kills the child
    raise SystemExit(128 + signum)


def run_group(cmd, cwd, env, timeout, log_path):
    """Run `cmd` in its own process group, logging to `log_path`; the whole
    group is killed on timeout, error or SIGTERM and waited for in every
    case."""
    signal.signal(signal.SIGTERM, _terminate)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build():
    """Compile with sbt and return the runtime classpath."""
    stamp = os.path.join(TARGET, "bench-build.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("fingerprint") == fp and all(os.path.exists(p) for p in saved["classpath"]):
            return saved["classpath"]
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    log = os.path.join(TARGET, "build.log")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export perfbench/Runtime/fullClasspath"]
    t0 = time.time()
    code = run_group(cmd, HERE, env, BUILD_LIMIT_S, log)
    if code != 0:
        fail(f"build failed (exit {code}); last lines of {log}:\n{tail(log)}", 1)
    lines = [l.strip() for l in open(log) if l.strip() and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath; see {log}", 1)
    classpath = lines[-1].split(os.pathsep)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath, "build_s": time.time() - t0}, f)
    return classpath


def heap_gb():
    """Half of physical memory, 2..8 GB (the repository's test settings)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def run_workload(name, args, classpath):
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(TARGET, "runs", f"{name}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(TARGET, "logs"), exist_ok=True)
    log = os.path.join(TARGET, "logs", f"{name}-s{args.seed}-t{args.trace}.log")
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # ParallelGC: G1's concurrent threads compete with the single driver
    # thread that dominates these workloads, and made run-to-run times
    # noticeably less steady. -Xms = -Xmx: a heap that grows while measuring
    # gave more full collections and operation times that fell run-long
    heap = f"{heap_gb()}g"
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", name, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--run-dir", run_dir, "--out", out]
    if args.trace:
        cmd += ["--spans", os.path.join(TARGET, "traces", f"{name}-s{args.seed}.json")]
    try:
        code = run_group(cmd, ROOT, env, RUN_LIMIT_S, log)
        if code != 0 or not os.path.exists(out):
            fail(f"{name}: JVM exit {code}; last lines of {log}:\n{tail(log)}", 1)
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def show(name, res):
    prov = res["provenance"]
    print(f"== {name}: seed {prov['seed']}, {prov['seconds']} s, trace {int(prov['trace'])}, "
          f"nproc {prov['nproc']}, {prov['jvm']}, load {prov['load_avg_start']} -> {prov['load_avg_end']}")
    for k, m in res["metrics"].items():
        print(f"{name} {k} = {m['value']:.6g} {m['unit']}")
    for k, v in res["named"].items():
        print(f"{name} {k} = {v:.6g}")
    print(f"{name} peak_rss_mb = {prov['peak_rss_mb']:.6g} MB (while measuring; not bounded)")
    print(f"{name} samples: {res['named_note']}; setup samples {prov['setup_samples_s']}")
    print(f"{name} op seconds: {' '.join(f'{x:.3f}' for x in prov['op_seconds'])}")
    print(f"{name} checks: {res['attempted'] - res['failed']}/{res['attempted']} passed")
    for f in res["failures"]:
        print(f"{name} FAILED: {f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail(f"no program sources under {ROOT}; run from a checkout of the repository")
    classpath = build()
    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = {n: run_workload(n, args, classpath) for n in names}
    for n, r in results.items():
        show(n, r)
    if len(results) == 1:
        r = results[names[0]]
        summary = {k: r[k] for k in ("correct", "attempted", "failed", "metrics")}
    else:
        summary = {"correct": all(r["correct"] for r in results.values()),
                   "attempted": sum(r["attempted"] for r in results.values()),
                   "failed": sum(r["failed"] for r in results.values()),
                   "metrics": {f"{n}.{k}": m for n, r in results.items() for k, m in r["metrics"].items()}}
    print(json.dumps(summary))
    sys.exit(0 if summary["correct"] else 1)


if __name__ == "__main__":
    main()
