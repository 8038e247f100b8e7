#!/usr/bin/env python3
"""The repository benchmark: one workload per call.

    python3 perfbench/run.py --workload ds1_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call builds the program and the
benchmark's JVM side from source with scalac (the Spark distribution's
jars, found through SPARK_HOME or `spark-submit` on PATH) into
`$CARGO_TARGET_DIR/perfbench` (default `.bench_build`); later calls
reuse the build while no source changed. The last line of standard
output is the result JSON; `--trace 1` reports the per-layer metrics
instead of the end-to-end ones and writes them, with the spans, under
`<build>/perfbench/trace/`. See perfbench/NOTES.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("ds1_stream", "wide_batches")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        fail("no program sources under src/main/scala: run from the repository root")
    return prog + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(root, build_dir, jars):
    """Compile program + benchmark once per source state; returns the classpath."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + sorted(os.listdir(jars)):
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    key = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    cp_tail = [os.path.join(jars, "*")]
    resources = os.path.join(root, "src/main/resources")
    if os.path.isdir(resources):
        cp_tail.insert(0, resources)
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(stamp) and open(stamp).read() == key):
            fresh = classes + ".new"
            shutil.rmtree(fresh, ignore_errors=True)
            os.makedirs(fresh)
            argfile = os.path.join(build_dir, "sources.txt")
            with open(argfile, "w") as f:
                f.write("\n".join(srcs) + "\n")
            t0 = time.time()
            r = subprocess.run(
                ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                 "-nowarn", "-d", fresh, "-classpath", os.pathsep.join(cp_tail), "@" + argfile],
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout[-4000:])
                fail("build failed")
            shutil.rmtree(classes, ignore_errors=True)
            os.rename(fresh, classes)
            with open(stamp, "w") as f:
                f.write(key)
            print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return os.pathsep.join([classes] + cp_tail)


def run_jvm(classpath, work, args, log_path):
    cmd = ["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    bench = metrics.spec(os.path.join(root, "BENCHMARK.json"))
    build_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classpath = build(root, build_root, spark_jars())

    work = os.path.join(build_root, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        n = cores()
        # ds1_stream's generator thread gets a core of its own
        spark_cores = max(1, n - 1) if a.workload == "ds1_stream" else n
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", os.path.join(work, "raw.json"),
                "--cores", str(spark_cores)]
        # the traced ds1_stream run also measures the streaming-fold layer
        fold = a.workload == "ds1_stream" and a.trace
        data = os.path.join(work, "data")
        if fold:
            import gen_tables
            os.makedirs(data)
            gen_tables.generate(data, a.seed)
            args += ["--data", data]
        rc = run_jvm(classpath, work, args, os.path.join(work, "jvm.log"))
        if rc != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail("workload timed out" if rc is None else f"workload JVM exited with {rc}")
        with open(os.path.join(work, "raw.json")) as f:
            raw = json.load(f)

        checks = [(c["name"], None if c["ok"] else c["detail"]) for c in raw["checks"]]
        attempted = raw["attempted"]
        if fold:
            oc = metrics.oracle_checks(data, os.path.join(work, "fold/results"))
            checks += oc
            attempted += len(oc)
        failed = [c for c in checks if c[1] is not None]
        for name, why in checks:
            print(f"check {'FAIL' if why else 'ok  '} {name}" + (f": {why}" if why else ""))

        kind = "per_layer" if a.trace else "end_to_end"
        names = [m["name"] for m in bench[kind]]
        units = {m["name"]: m["unit"] for m in bench[kind]}
        if a.trace:
            with open(os.path.join(work, "spans.json")) as f:
                spans = json.load(f)
            values = metrics.per_layer(raw, spans, names)
            out_dir = os.path.join(build_root, "trace", f"{a.workload}-seed{a.seed}")
            os.makedirs(out_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(out_dir, "spans.json"))
            with open(os.path.join(out_dir, "per_layer.json"), "w") as f:
                json.dump(values, f, indent=1, sort_keys=True)
            print(f"trace: {len(spans)} spans and per-layer metrics in {out_dir}")
        else:
            values = metrics.end_to_end(raw)
            for line in metrics.tail_notes(raw):
                print("tail:", line)
        if sorted(values) != sorted(names):
            fail(f"metrics {sorted(set(values) ^ set(names))} disagree with BENCHMARK.json")
        print(json.dumps({
            "correct": not failed,
            "attempted": max(1, int(attempted)),
            "failed": len(failed),
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in names},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
