"""Pipeline benchmark: snapshot ingest, dashboard serving and index lifecycle.

    python3 pipebench/run.py --workload <ingest|serve|index|all> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 pipebench/run.py --selftest

Builds the program from source (pipebench/build.py), runs one workload in a
fresh JVM for --seconds of measurement and prints, last, one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (pipebench/metrics.json
says which layer metric should move which end-to-end metric, on which
workload). --workload all runs the three workloads in turn and reports
every end-to-end metric under its workload-specific name.

Every run works in a private directory under .bench_build/ that it deletes
before exiting; traced runs keep their spans in .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
# the sf0.1 tables the workloads read (a copy of the program's test tables)
DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("ingest", "serve", "index")
RUN_LIMIT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def java_cmd(classes, work, main, args):
    cp = os.pathsep.join([classes] + build.spark_classpath())
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
            + opens + ["-cp", cp, main] + args)


def run_jvm(cmd, work, deadline):
    """Runs the JVM in its own process group; returns (code, stdout lines)."""
    # Spark lets this variable override spark.local.dir; keep scratch in the run
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True,
                            env=env)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("pipebench: run exceeded its time limit", file=sys.stderr)
        return 1, []
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out.splitlines()


def run_one(workload, seed, seconds, trace, classes, deadline):
    """One workload in one JVM; returns its parsed result or None."""
    work = os.path.join(build.OUT, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--data", DATA]
    if trace:
        args += ["--trace-out", os.path.join(build.OUT, "traces", f"{workload}-seed{seed}.json")]
    try:
        code, lines = run_jvm(java_cmd(classes, work, "pipebench.Main", args), work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        print(f"pipebench: {workload} run failed (exit {code})", file=sys.stderr)
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        print(f"pipebench: {workload} printed no result", file=sys.stderr)
        return None


def selftest():
    classes = build.build(test=True)
    work = os.path.join(build.OUT, "work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        code, lines = run_jvm(java_cmd(classes, work, "pipebench.Specs", [work, DATA]), work,
                              time.time() + 600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    return code


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        p.error("--workload is required")
    classes = build.build()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    for w in names:
        # the limit starts after the build: only a checkout's first run builds
        r = run_one(w, a.seed, a.seconds, a.trace, classes, time.time() + RUN_LIMIT_S)
        if r is None:
            return 1
        results[w] = r
    if a.workload == "all":
        metrics = {}
        for w, r in results.items():
            for n, m in r["named"].items():
                metrics[f"{w}.{n}"] = m
        for n, m in metrics.items():
            print(f"{n:32s} {str(m['value']):>22} {m['unit']}")
    else:
        metrics = results[a.workload]["metrics"]
    out = {"correct": all(r["correct"] for r in results.values()),
           "attempted": sum(r["attempted"] for r in results.values()),
           "failed": sum(r["failed"] for r in results.values()),
           "metrics": metrics}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
