"""Run one benchmark workload against graft and print its metrics.

    python3 perfbench/run.py --workload cdc_apply --seed 1 --seconds 5 --trace 0

Run from the root of the repository. The first run builds the engine and
the benchmark from source (perfbench/build.py). The JVM side
(perfbench/scala) makes the seeded inputs, sets up, warms up, runs the
timed loop and the correctness checks, and writes its raw measurements;
this script turns them into the metrics named in BENCHMARK.json, prints
one line per metric and, last, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones (the run is
traced: spans around every call into the engine, Spark jobs attributed to
them).

Every file the run writes stays under .bench_build/ in the current
directory; the run's working directory is removed at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("cdc_apply", "bi_mix")
HEAP = "4g"
TIME_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the same list the
# engine's own build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(jar, args, work, deadline, jvm_extra=()):
    """Run one workload JVM in `work`; return its raw measurements."""
    out = os.path.join(work, "events.json")
    log = os.path.join(work, "jvm.log")
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    env = dict(os.environ,
               SPARK_GRAFT_LOCAL_DIR=local,
               SPARK_GRAFT_TMP=os.path.join(work, "graft-tmp"))
    env.pop("SPARK_GRAFT_CONF", None)
    # no hsperfdata file: the JVM would write it to /tmp, outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", *jvm_extra,
            f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out, "--cpus", str(cpus())])
    os.makedirs(os.path.join(work, "jtmp"))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as lf:
            sys.stderr.write("".join(lf.readlines()[-60:]))
        raise SystemExit(f"run: workload JVM failed ({code})")
    with open(out) as fh:
        return json.load(fh)


def workdir(name):
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", f"{name}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def shared_archive(jar):
    """JVM flags that map the class-data-sharing archive of `jar`'s and
    Spark's classes, made once per build by an untimed training run (the
    bi_mix set-up, no timed loop). It halves JVM and session start on a
    small machine. A failed training run fails the run, and -Xshare:on makes
    a JVM that cannot map the archive fail too, so no run is measured on
    the slower start path."""
    jsa = os.path.join(os.path.dirname(os.path.abspath(jar)), "classes.jsa")
    if not os.path.exists(jsa):
        work = workdir("train")
        try:
            run_jvm(jar, argparse.Namespace(workload="bi_mix", seed=0, seconds=0, trace=0),
                    work, time.monotonic() + TIME_LIMIT_S,
                    [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        os.replace(jsa + ".tmp", jsa)
    return ["-Xshare:on", f"-XX:SharedArchiveFile={jsa}"]


def main(argv):
    args = parse_args(argv)
    # a terminated run still stops its JVM (run_jvm's finally) and removes
    # its working directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    jar = build.build()
    cds = shared_archive(jar)
    work = workdir(args.workload)
    try:
        events = run_jvm(jar, args, work, time.monotonic() + TIME_LIMIT_S, cds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report = metrics.compute(args.workload, events)
    for line in metrics.lines(report):
        print(line)
    wanted = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    out = {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {name: {"value": report["metrics"][name], "unit": unit}
                    for name, unit in wanted.items()},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1:])
