#!/usr/bin/env python3
"""graft's benchmark: builds graft and the runner from source, runs one
seeded workload in an isolated scratch directory and prints its metrics.

  python3 graftbench/run.py --workload kv_scan --seed 1 --seconds 20 --trace 0
  python3 graftbench/run.py compare A.json B.json

Run it from the root of a checkout. The last stdout line is one JSON object
with the keys correct, attempted, failed and metrics (the end-to-end
metrics, or the per-layer ones with --trace 1). With --trace 1 the workload
runs twice, untraced and then traced, so the tracing overhead is measured on
this source tree. Every run's full result, with its host stamp, is kept
under .bench_build/results; `compare` prints two of them side by side and
refuses results from different host shapes.
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
WORKLOADS = ("sql_analytics", "kv_scan", "kv_write")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Host-shape keys: results that differ in any of these are not comparable.
SHAPE = ("nproc", "mem_total_kb", "xmx", "spark", "jdk")


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def build():
    """Compiles graft and the runner once per source tree; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no graft sources under {ROOT}/src/main/scala; run from a checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, f"classpath-{source_hash()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    print(f"graftbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    # one build output directory: older source trees' entries are stale
    for name in os.listdir(BUILD):
        if name.startswith("classpath-"):
            os.remove(os.path.join(BUILD, name))
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def mem_total_kb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap_gb():
    """MemTotal/2, clamped to 2..8 GiB."""
    return max(2, min(8, mem_total_kb() // 2097152))


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "tree-" + source_hash()


def dir_bytes(path):
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(d, n)).st_size
            except OSError:
                pass
    return total


def run_jvm(cp, args, run_dir, timeout=JVM_TIMEOUT_S):
    """Runs the benchmark JVM with its own tmpdir, Spark local dirs,
    warehouse and graft catalog, all under run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    catalog = os.path.join(run_dir, "warehouse", "graft_catalog.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, GRAFT_CATALOG_PATH=catalog)
    env.pop("SPARK_GRAFT_JVM_OPTS", None)
    cmd = ["java", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}",
           f"-Dgraft.catalog.path={catalog}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=fh,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM (see main): no JVM outlives its runner
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    with open(log, errors="replace") as fh:
        text = fh.read()
    # the runner's own progress lines, without Spark's log
    for line in text.splitlines():
        if line.startswith("[graftbench]"):
            print(line, file=sys.stderr)
    return rc, text[-3000:], dir_bytes(tmp) + dir_bytes(local)


def run_workload(cp, a, trace, spans):
    """One benchmark JVM in a fresh run directory, deleted afterwards;
    returns its result and the bytes it left in its tmpdir and local dirs."""
    run_dir = os.path.join(BUILD, "runs",
                           f"{a.workload}-{a.seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(trace),
            "--root", run_dir, "--out", out, "--spans", spans,
            "--expected", os.path.join(HERE, "expected", "sql_analytics.tsv")]
    try:
        rc, tail, leftover = run_jvm(cp, args, run_dir)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(tail)
            fail(f"benchmark JVM exited with {rc}")
        with open(out) as fh:
            return json.load(fh), leftover
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def compare(paths):
    res = []
    for p in paths:
        with open(p) as fh:
            res.append(json.load(fh))
    shapes = [{k: r["stamp"].get(k) for k in SHAPE} for r in res]
    if shapes[0] != shapes[1]:
        fail(f"refusing to compare different host shapes: {shapes[0]} vs {shapes[1]}")
    a, b = res
    for group in ("end_to_end", "per_layer"):
        for name, m in a.get(group, {}).items():
            other = b.get(group, {}).get(name)
            if other is not None:
                print(f"{name:34s} {m['value']:>14.4f} {other['value']:>14.4f} {m['unit']}")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            fail("usage: run.py compare A.json B.json")
        return compare(sys.argv[2:])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--derive", metavar="FILE",
                    help="write the expected sql_analytics checksums to FILE")
    ap.add_argument("--datagen", metavar="DIR",
                    help="write the sql_analytics input tables to DIR")
    a = ap.parse_args()

    cp = build()
    one_off = [(k, os.path.abspath(v)) for k, v in
               (("derive", a.derive), ("datagen", a.datagen)) if v]
    if one_off:
        run_dir = os.path.join(BUILD, "runs", f"one-off-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        args = ["--workload", "sql_analytics", "--seed", "0", "--seconds", "0",
                "--root", run_dir, "--out", os.path.join(run_dir, "result.json"),
                "--expected", os.path.join(HERE, "expected", "sql_analytics.tsv")]
        for k, v in one_off:
            args += [f"--{k}", v]
        try:
            rc, tail, _ = run_jvm(cp, args, run_dir, timeout=3600)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        sys.stderr.write(tail)
        return 0 if rc == 0 else 1

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    rev = commit()
    name = f"{a.workload}-{a.seed}-{a.trace}-{rev[:12]}"
    spans = os.path.join(results, f"spans-{name}.json")
    if a.trace:
        # the untraced baseline of the overhead: the same workload, seed and
        # source tree, in a JVM of its own
        base, _ = run_workload(cp, a, 0, spans)
    r, leftover = run_workload(cp, a, a.trace, spans)
    r["stamp"].update({"mem_total_kb": mem_total_kb(), "xmx": f"{heap_gb()}g",
                       "commit": rev, "seconds": a.seconds})
    if a.trace:
        plain = base["end_to_end"]["ops_per_s"]["value"]
        traced = r["per_layer"]["trace.ops_per_s_traced"]["value"]
        r["per_layer"].update({
            "sources.tmp_leftover_bytes": {"value": leftover, "unit": "B"},
            "trace.ops_per_s_untraced": {"value": plain, "unit": "1/s"},
            "trace.overhead": {"value": plain / traced - 1, "unit": "ratio"}})
        r["attempted"] += base["attempted"]
        r["failed"] += base["failed"]
        r["failures"] += base["failures"]
    with open(os.path.join(results, name + ".json"), "w") as fh:
        json.dump(r, fh, indent=1, sort_keys=True)

    print("host " + " ".join(f"{k}={v}" for k, v in sorted(r["stamp"].items())))
    for f in r["failures"]:
        print(f"FAILED {f}")
    for group in ("end_to_end", "report", "per_layer"):
        for name, m in r[group].items():
            print(f"{group:10s} {name:34s} {m['value']:>16.4f} {m['unit']}")
    metrics = r["per_layer"] if a.trace else r["end_to_end"]
    correct = r["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
