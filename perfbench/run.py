#!/usr/bin/env python3
"""Run one workload of the graft engine benchmark and print its result.

    python3 perfbench/run.py --workload osm --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the engine and
the harness with sbt and caches the java classpath under .bench_work/;
later runs start the JVM directly with `java -cp`. The last line of
standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Every run also appends its full record (pass times, output digests,
errors, cores, memory) to .bench_work/results.jsonl, which diff.py
compares; a traced run keeps its spans in .bench_work/traces/.
`--record` stores the run's output digests in expected.json, under the
workload and seed, as the values later runs with that seed must
reproduce. A run whose seed has none recorded says so on stderr.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
EXPECTED = os.path.join(HERE, "expected.json")
# class-data-sharing archive of the classes a run loads: written when the
# first run after a build exits, mapped by every later run, so the JVM
# start counted in setup_s is not mostly class loading
ARCHIVE = os.path.join(WORK, "classes.jsa")
WORKLOADS = ("osm", "query_mix")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def launch_spec():
    """Classpath and JVM options, rebuilt when any source changed."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    launch = os.path.join(WORK, "launch.txt")
    stamp_file = os.path.join(WORK, "launch.stamp")
    if os.path.isfile(launch) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(launch) as lf:
                    return lf.read().splitlines()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "writeLaunch"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    built = os.path.join(HERE, "target", "launch.txt")
    if rc != 0 or not os.path.isfile(built):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(3, f"build failed (exit {rc}); log in {log}")
    shutil.copyfile(built, launch)
    if os.path.isfile(ARCHIVE):
        os.remove(ARCHIVE)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(launch) as lf:
        return lf.read().splitlines()


def run_java(args, spec, rundir):
    cp, jopts = spec[0], spec[1:]
    archive_tmp = f"{ARCHIVE}.{os.getpid()}"
    if os.path.isfile(ARCHIVE):
        jopts = jopts + [f"-XX:SharedArchiveFile={ARCHIVE}"]
    else:
        jopts = jopts + [f"-XX:ArchiveClassesAtExit={archive_tmp}"]
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(rundir, "result.json")
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmp)
    # -XX:-UsePerfData: no hsperfdata file in the machine's temp directory
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + jopts +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(rundir, 'spark-warehouse')}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", rundir, "--out", out])
    if os.path.isfile(EXPECTED) and not args.record:
        cmd += ["--expected", EXPECTED]
    log = os.path.join(rundir, "java.log")
    with open(log, "w") as fh:
        launched = time.time()
        cmd += ["--launched-ms", str(int(launched * 1000))]
        proc = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=fh,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if os.path.isfile(archive_tmp):
        if rc == 0:
            os.replace(archive_tmp, ARCHIVE)
        else:
            os.remove(archive_tmp)
    if rc != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        return None, rc
    with open(out) as fh:
        result = json.load(fh)
    result["jvm_wall_s"] = time.time() - launched
    return result, rc


def record(result):
    """Store the run's output digests under its workload and seed. Outputs
    recorded for another configuration of the workload are dropped."""
    with open(os.path.join(WORK, "expected.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        data = {}
        if os.path.isfile(EXPECTED):
            with open(EXPECTED) as fh:
                data = json.load(fh)
        entry = data.get(result["workload"], {})
        if entry.get("config") != result["config"]:
            entry = {"config": result["config"], "seeds": {}}
        entry["seeds"][str(result["seed"])] = result["outputs"]
        data[result["workload"]] = entry
        with open(EXPECTED + ".tmp", "w") as fh:
            json.dump(data, fh, indent=1, sort_keys=True)
            fh.write("\n")
        os.replace(EXPECTED + ".tmp", EXPECTED)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's output digests as the expected values")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(2, f"no engine sources at {ROOT} (missing {need})")
    os.makedirs(WORK, exist_ok=True)
    spec = launch_spec()
    rundir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        result, rc = run_java(args, spec, rundir)
        if result is None:
            die(4, f"benchmark JVM failed (exit {rc})")
        if args.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(rundir, "spans.jsonl")
            if os.path.isfile(spans):
                shutil.move(spans, os.path.join(
                    traces, f"{args.workload}-{args.seed}-{int(time.time())}.jsonl"))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    result["finished"] = time.strftime("%Y-%m-%dT%H:%M:%S%z")
    with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(result, sort_keys=True) + "\n")
    for e in result["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    if not args.record and not result["recorded_seed"]:
        print(f"perfbench: no outputs recorded for {args.workload} seed {args.seed}; "
              "outputs were checked only against each other within the run",
              file=sys.stderr)
    if args.record:
        if not result["correct"]:
            die(6, "not recording the outputs of a run that failed")
        record(result)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
