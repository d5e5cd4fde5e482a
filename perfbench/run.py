#!/usr/bin/env python3
"""graft's benchmark: analytic passes and CQL statement traffic.

Usage (from the repository root):
  python3 perfbench/run.py --workload analytic|cql-mixed \
      --seed N --seconds S --trace 0|1

Builds graft and the benchmark's JVM side (perfbench/build.py), generates
the analytic tables (perfbench/gen_data.py), runs the workload in one JVM
at local[nproc] and prints, as the last line of stdout, one JSON object:
the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1),
the operations attempted and failed, and the correctness verdict. The line
before it holds the run's metadata. Traced runs also write their spans and
Spark job records to .bench_build/perfbench/trace-<workload>-<seed>.json.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("analytic", "cql-mixed")
HEAP = "4g"
# a run must end within this many seconds, or 900 when it had to compile
DEADLINE_S, FIRST_DEADLINE_S = 170, 880
# Spark 4 on JDK 17 outside spark-submit needs these (the list in build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


def ensure_data():
    """The analytic tables, regenerated only when gen_data.py changes."""
    gen = os.path.join(build.BENCH, "gen_data.py")
    with open(gen, "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()
    data = os.path.join(build.WORK, "data")
    stamp_file = os.path.join(data, ".stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(data, ignore_errors=True)
        subprocess.run([sys.executable, gen, data], check=True)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return data


def run_jvm(cp, jvm_args, scratch, timeout):
    """Runs perfbench.Main in `scratch`, with its temp and shuffle files
    there too; returns the exit code. The JVM's log goes to
    scratch/jvm.log."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + jvm_args)
    with open(os.path.join(scratch, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=scratch)
        # a SIGTERM to this process must not leave the JVM running
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return -9
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def result(record, trace, reference):
    """The result line: correctness verdict, operations attempted and
    failed, and the end-to-end (trace 0) or per-layer (trace 1) metrics."""
    attempted, failed = metrics.account(record, reference)
    if trace:
        unit = metrics.units()
        values = {k: {"value": v, "unit": unit[k]}
                  for k, v in metrics.per_layer(record).items()}
    else:
        values = {k: {"value": v, "unit": u}
                  for k, (v, u) in metrics.end_to_end(record).items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": values}


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except OSError:
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    t0 = time.monotonic()
    cp, compiled = build.build()
    data = ensure_data()
    scratch = os.path.join(build.WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    out = os.path.join(scratch, "record.json")
    load0 = loadavg()
    try:
        code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--data", data, "--scratch", scratch, "--out", out],
                       scratch, timeout=(FIRST_DEADLINE_S if compiled else DEADLINE_S)
                       - (time.monotonic() - t0))
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(scratch, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: JVM exited with {code}")
        with open(out) as f:
            record = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    load1 = loadavg()

    line = result(record, a.trace, metrics.load_reference())
    trace_file = None
    if a.trace:
        trace_file = os.path.join(build.WORK, f"trace-{a.workload}-{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "end_to_end_traced": {k: v for k, (v, _) in
                                             metrics.end_to_end(record).items()},
                       "per_layer": {k: v["value"] for k, v in line["metrics"].items()},
                       "ops": record["ops"], "spans": record["spans"],
                       "jobs": record["jobs"]}, f)

    facts = {k: v for k, v in record["facts"].items() if k != "codecs"}
    if "codecs" in record["facts"]:
        facts["codec_payloads"] = {c: {k: r[k] for k in ("payloads", "payload_bytes")}
                                   for c, r in record["facts"]["codecs"].items()}
    meta = dict(record["meta"], nproc=len(os.sched_getaffinity(0)), heap=HEAP,
                git_commit=git_commit(), loadavg_start=load0, loadavg_end=load1,
                samples=metrics.samples(record), inputs=facts, trace_file=trace_file,
                table_bytes={n[:-8]: os.path.getsize(os.path.join(data, n))
                             for n in sorted(os.listdir(data)) if n.endswith(".parquet")})
    print("meta " + json.dumps(meta, sort_keys=True))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
