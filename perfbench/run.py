#!/usr/bin/env python3
"""graft benchmark: build graft and the benchmark from source, then run one
workload and print its figures.

    python3 perfbench/run.py --workload sparql_point --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The build (plain scalac from the Spark
distribution, no network) and the generated fixture live under
`.bench_build/` and are reused while the sources are unchanged. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["sparql_point", "sparql_analytic", "graph_inference", "ingest_update"]
# fixture scale: lineitem rows = 6,000,000 x SF
SF = "0.005"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars of $SPARK_HOME, or of the distribution spark-submit runs from."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        die("no Spark distribution found: set SPARK_HOME")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(main, "graft", "Graft.scala")):
        die("graft sources not found: run from the root of a graft checkout")
    found = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(jars):
    """Compile graft and the benchmark into one class directory, once per
    source state."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(classes, ".stamp")
        if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
            return classes, stamp
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        scala = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                 if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
        if len(scala) != 3:
            die("the Spark distribution lacks the Scala compiler jars")
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g",
               f"-Djava.io.tmpdir={BUILD}", "-cp", os.pathsep.join(scala),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
               "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            die("build failed", 1)
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        return classes, stamp


def machine():
    """Cores from the CPU set (what nproc reports), JVM heap from
    MemTotal: half of it in GiB, clamped to 2..8."""
    cores = len(os.sched_getaffinity(0))
    heap = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    heap = min(8, max(2, int(int(line.split()[1]) / 2097152)))
    except OSError:
        pass
    return cores, f"{heap}g"


def revision(stamp):
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], text=True,
                                  capture_output=True, check=True).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    return "src-" + stamp[:12]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat: (busy, steal, total)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[0] + v[1] + v[2], v[7] if len(v) > 7 else 0, sum(v)
    except (OSError, ValueError):
        return 0, 0, 0


def java(jars, classes, heap, run_dir, main, args):
    """Run a benchmark main in its own process group; kill it on timeout."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no JVM perf-data file outside the checkout; temp files stay in the run dir
    cmd += ["-XX:-UsePerfData", f"-Xmx{heap}", "-Xss8m", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), main] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "stdout.log"), "w") as out, \
            open(os.path.join(run_dir, "stderr.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=err, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"stopped by signal {signum}", 128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"run exceeded {RUN_TIMEOUT_S} s", 3)
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)
    if rc != 0:
        for log in ("stderr.log", "stdout.log"):
            with open(os.path.join(run_dir, log)) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"benchmark process exited with {rc}", 1)
    with open(os.path.join(run_dir, "stdout.log")) as f:
        return f.read()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    classes, stamp = build(jars)
    cores, heap = machine()
    run_dir = os.path.join(BUILD, "run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    # the fixture is reused until its generator changes
    with open(os.path.join(HERE, "src", "perfbench", "Data.scala"), "rb") as f:
        data = os.path.join(BUILD, "data", f"sf{SF}-{hashlib.sha256(f.read()).hexdigest()[:12]}")
    try:
        if a.selftest:
            sys.stdout.write(java(jars, classes, heap, run_dir, "perfbench.SelfTest",
                                  [run_dir, data, SF, str(cores)]))
            return
        out = os.path.join(run_dir, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--scratch", run_dir, "--out", out,
                "--cores", str(cores), "--heap", heap, "--sf", SF, "--rev", revision(stamp)]
        with open(os.path.join(BUILD, "data.lock"), "w") as lock:
            # only the first run generates the fixture; others wait for it
            fcntl.flock(lock, fcntl.LOCK_EX)
            c0 = cpu_times()
            java(jars, classes, heap, run_dir, "perfbench.Main", args)
            c1 = cpu_times()
        with open(out) as f:
            report, result = (json.loads(line) for line in f.read().splitlines())
        # machine context: share of CPU time the host took away (steal)
        total = max(1, c1[2] - c0[2])
        report["cpu_steal_pct"] = round(100.0 * (c1[1] - c0[1]) / total, 2)
        report["cpu_busy_pct"] = round(100.0 * (c1[0] - c0[0]) / total, 2)
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.json")
            shutil.copyfile(out + ".spans.json", spans)
            report["spans_file"] = os.path.relpath(spans, ROOT)
        print(json.dumps(report))
        shown = [] if a.trace else [f"{k}={v['value']:.6g} {v['unit']}"
                                    for k, v in result["metrics"].items()]
        print("perfbench: " + "  ".join(shown + [
            f"error_rate={report['error_rate']:.6g} ({result['failed']}/{result['attempted']})",
            f"tail=p{report['tail_percentile']:.1f} of {report['tail_samples']} samples"]))
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
