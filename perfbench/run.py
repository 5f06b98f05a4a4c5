#!/usr/bin/env python3
"""graft benchmark: one command that builds, runs and checks a workload.

    python3 perfbench/run.py --workload <rollup_read|dim_build>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles `src/main/scala` and the
harness in `perfbench/src` with the Scala compiler that ships in
`$SPARK_HOME/jars` (cached under `.bench_build/`, keyed by a hash of the
sources), generates the input tables (`gen_data.py`, cached), runs the
workload in one JVM (`perfbench.Harness`), checks every result against
DuckDB, and prints a human-readable report followed by ONE JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. Everything it writes stays under `.bench_build/` in the checkout.
See perfbench/README.md for the metrics, workloads and their rationale.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

BUILD = ".bench_build"
# inputs: rollup_read reads one fixed table set (its seed orders the
# requests); dim_build generates its inputs in the JVM from the seed
SF = {"rollup_read": "0.001", "dim_build": None}
DATA_SEED = 42
HEAP = "4g"
JVM_TIMEOUT_S = 165


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def read_text(path):
    with open(path) as f:
        return f.read()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    except ImportError:
        pass
    fail("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def tree_hash(dirs, suffix):
    h = hashlib.sha256()
    for d in dirs:
        for p in sorted(glob.glob(os.path.join(d, "**", "*" + suffix), recursive=True)):
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, out, sources):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", classpath, "-d", out] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")


def build(jars):
    """Compile the program and the harness once per source hash."""
    src = os.path.join("src", "main", "scala")
    key = tree_hash([src], ".scala") + tree_hash([os.path.join(HERE, "src")], ".scala")
    cls = os.path.join(BUILD, "classes")
    stamp = os.path.join(cls, "stamp")
    if os.path.exists(stamp) and read_text(stamp) == key:
        return cls
    shutil.rmtree(cls, ignore_errors=True)
    main_out, bench_out = os.path.join(cls, "main"), os.path.join(cls, "bench")
    scalac(jars, os.path.join(jars, "*"), main_out,
           sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True)))
    scalac(jars, os.pathsep.join([os.path.join(jars, "*"), main_out]), bench_out,
           sorted(glob.glob(os.path.join(HERE, "src", "*.scala"))))
    with open(stamp, "w") as f:
        f.write(key)
    return cls


def data_dir(sf):
    """Generate (once) the input tables for scale factor `sf`."""
    if sf is None:
        return os.path.join(BUILD, "data", "none")
    key = tree_hash([HERE], "gen_data.py") + f"{sf}/{DATA_SEED}"
    d = os.path.join(BUILD, "data", f"sf{sf}")
    stamp = os.path.join(d, "stamp")
    if not (os.path.exists(stamp) and read_text(stamp) == key):
        shutil.rmtree(d, ignore_errors=True)
        import gen_data
        gen_data.write(d, float(sf), DATA_SEED)
        with open(stamp, "w") as f:
            f.write(key)
    return d


def java_cmd(jars, cls, tmp, main, args):
    """The JVM command line for `main` on the built classes."""
    cp = os.pathsep.join([os.path.join(cls, "main"), os.path.join(cls, "bench"),
                          os.path.join(jars, "*")])
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
             f"-Dspark.local.dir={os.path.abspath(tmp)}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, main] + args)


def run_jvm(jars, cls, args, out, tmp):
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(jars, cls, tmp, "perfbench.Harness", args)
    # streaming checkpoints and fixtures go to the run's temporary dir too
    env = dict(os.environ, SPARK_GRAFT_STREAM_TMP=os.path.abspath(tmp))
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S}s; see {log_path}")
    if rc != 0:
        with open(log_path) as f:
            print(f.read()[-3000:], file=sys.stderr)
        fail(f"harness exited with {rc}")


def git_commit():
    # the ceiling keeps git from searching directories above the checkout
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(os.getcwd()))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10, env=env)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


UNITS = {
    "setup_s": "s", "cold_s": "s", "throughput_rps": "req/s",
    "latency_p50_ms": "ms", "latency_p90_ms": "ms", "cache_mb": "MB",
    "heap_retained_mb": "MB",
}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    for suf, u in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_frac", "ratio")):
        if name.endswith(suf):
            return u
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join("src", "main", "scala")):
        fail("run from the root of a graft checkout (src/main/scala not found)")
    import oracle  # reads the checkout's tools/check.py
    load1 = os.getloadavg()[0]
    jars = spark_jars()
    cls = build(jars)
    data = data_dir(SF[a.workload])
    cpus = len(os.sched_getaffinity(0))
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(BUILD, "runs", run_id)
    tmp = os.path.join(BUILD, "tmp", run_id)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(out)
    try:
        run_jvm(jars, cls, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.abspath(data), "--out", os.path.abspath(out)], out, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    res = json.loads(read_text(os.path.join(out, "result.json")))
    bench = json.loads(read_text("BENCHMARK.json"))

    # correctness: DuckDB checks each type's first result; every request
    # of a type matched that result's fingerprint or already failed, so a
    # wrong check fails every request (untraced and traced) of its type
    checks = oracle.check_run(a.workload, res, os.path.join(out, "results"), data)
    wrong = {t for c, (ok, _) in checks.items() if not ok for t in oracle.request_types(c)}
    by_type = res["by_type"]
    failed = sum(n["attempted"] if t in wrong else n["failed"] for t, n in by_type.items())
    attempted = res["attempted"]
    correct = failed == 0 and not res["notes"] and not wrong

    config = {
        "nproc": cpus, "master": res["master"], "driver_heap": HEAP,
        "heap_max_mb": res["heap_max_mb"], "spark": res["spark_version"],
        "jdk": res["java_version"], "git_commit": git_commit(),
        "src_hash": tree_hash([os.path.join("src", "main", "scala")], ".scala")[:16],
        "sf": SF[a.workload], "sf_dir": os.path.relpath(data), "seed": a.seed,
        "load1_start": load1,
    }
    section = "end_to_end" if a.trace == 0 else "per_layer"
    metrics = {m["name"]: {"value": res[section][m["name"]], "unit": m["unit"]}
               for m in bench[section]}

    print(f"# perfbench {run_id}")
    print("# config " + json.dumps(config, sort_keys=True))
    print(f"# samples timed={res['samples']} traced={res['traced_samples']} "
          f"timed_wall_s={res['timed_wall_s']:.3f} untimed_s={res['untimed_s']:.3f}")
    for t, (ok, msg) in sorted(checks.items()):
        print(f"# check {'OK   ' if ok else 'WRONG'} {t} {msg}")
    for n in res["notes"]:
        print(f"# note {n}")
    print(f"# failed_frac {failed / max(attempted, 1):.6f} ({failed}/{attempted})")
    for k, v in sorted(res["end_to_end"].items()):
        print(f"# e2e   {k:<40} {v:>14.4f} {unit_of(k)}")
    listed = {m["name"] for m in bench["per_layer"]}
    for k, v in res["per_layer"].items():
        if v or k in listed:
            print(f"# layer {k:<40} {v:>14.4f} {unit_of(k)}")
    if a.trace:
        print("# tracing overhead (1 - traced / untraced throughput): "
              f"{res['per_layer']['trace.overhead_frac']:.1%}")
        for n, ms, c in res["self_time_ms"][:25]:
            print(f"# self  {n:<40} {ms:>12.1f} ms over {c} spans")
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", run_id + ".json"), "w") as f:
        json.dump({"config": config, "result": res, "checks": checks,
                   "correct": correct, "failed": failed}, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
