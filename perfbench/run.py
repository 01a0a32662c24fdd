"""Runs one workload of the benchmark and prints its metrics.

    python3 perfbench/run.py --workload sync_steady --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all          # every workload in turn

Builds the program and the benchmark (perfbench/build.py) when their
sources changed, runs the workload in one JVM at local[nproc], checks every
op's output, and prints a summary followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The full record
of a run (inputs, per-op samples, spans) goes to the build directory.

Maintenance: --record-fingerprints re-records the corpus workloads' result
fingerprints into perfbench/fingerprints.json (only after the queries are
verified against their oracles).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
JVM_TIMEOUT_S = 165

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

TRACE_CORE_SITE = """<?xml version="1.0"?>
<configuration>
  <property>
    <name>fs.file.impl</name>
    <value>graft.perfbench.CountingLocalFs</value>
  </property>
</configuration>
"""


def cores():
    return len(os.sched_getaffinity(0))


def jvm(args, workload, trace, extra, log_path):
    """Runs graft.perfbench.Main and returns its raw JSON output; the work
    directory is removed afterwards."""
    out = build.build_dir()
    work = os.path.join(out, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw = os.path.join(work, "raw.json")
    cp = [build.classpath(out)]
    if trace:
        conf = os.path.join(work, "traceconf")
        os.makedirs(conf)
        with open(os.path.join(conf, "core-site.xml"), "w") as fh:
            fh.write(TRACE_CORE_SITE)
        cp.insert(0, conf)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "graft.perfbench.Main",
            "--workload", workload, "--cores", str(cores()),
            "--work", work, "--out", raw, "--fingerprints", FINGERPRINTS,
            "--trace", "1" if trace else "0"] + list(args) + list(extra)
    # the program reads SPARK_GRAFT_* tuning knobs and Spark honours
    # SPARK_LOCAL_DIRS over the session conf; runs must not depend on them
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("the JVM did not finish within %d s" % JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(raw):
        raise RuntimeError("the JVM exited with code %d" % code)
    with open(raw) as fh:
        out = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    return out


def tail(path, n=30):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def record_fingerprints():
    merged = {}
    for w in ("corpus_batch", "corpus_stream"):
        log = os.path.join(build.build_dir(), "logs", "record-%s.log" % w)
        merged.update(jvm(["--seed", "0", "--seconds", "0",
                           "--record-fingerprints"], w, False, [], log))
    with open(FINGERPRINTS, "w") as fh:
        json.dump(merged, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print("recorded", FINGERPRINTS)


def run_one(a, workload):
    """Runs one workload and prints its summary and result line; returns
    the exit code."""
    trace = a.trace == 1
    log = os.path.join(build.build_dir(), "logs",
                       "%s-seed%d-trace%d.log" % (workload, a.seed, a.trace))
    extra = ["--unreadable", str(a.unreadable)] if a.unreadable else []
    if a.generate_only:
        extra.append("--generate-only")
    launch_ms = time.time() * 1000.0
    try:
        raw = jvm(["--seed", str(a.seed), "--seconds", str(a.seconds)],
                  workload, trace, extra, log)
    except Exception as e:  # noqa: BLE001 - report, print no result
        print("perfbench: %s\n%s" % (e, tail(log)), file=sys.stderr)
        return 1
    if a.generate_only:
        print(json.dumps(raw["inputs"], sort_keys=True))
        return 0

    ops = raw["ops"]
    failed = sum(1 for o in ops if o["failures"])
    if trace:
        values, samples, series = metrics.per_layer(raw)
        units = metrics.PER_LAYER
    else:
        values, samples = metrics.end_to_end(raw, launch_ms)
        series = {}
        units = metrics.END_TO_END
    record = {"workload": workload, "seed": a.seed, "nproc": raw["cores"],
              "trace": a.trace, "seconds": a.seconds, "inputs": raw["inputs"],
              "attempted": len(ops), "failed": failed, "metrics": values,
              "samples": samples, "series": series, "raw": raw}
    runs = os.path.join(build.build_dir(), "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, "%s-seed%d-trace%d.json"
                           % (workload, a.seed, a.trace)), "w") as fh:
        json.dump(record, fh, indent=1)

    print("perfbench: workload=%s seed=%d nproc=%d trace=%d inputs=%s"
          % (workload, a.seed, raw["cores"], a.trace,
             json.dumps(raw["inputs"], sort_keys=True)))
    for o in ops:
        for f in o["failures"]:
            print("perfbench: op %d failed: %s" % (o["i"], f))
    for k in units:
        print("perfbench: %-40s %14.6g %-6s (samples %d)"
              % (k, values[k], units[k], samples[k]))
    print("perfbench: failed_frac %.4f (%d of %d ops)"
          % (failed / len(ops), failed, len(ops)))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=metrics.WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--unreadable", type=int, default=0,
                    help="sync_*: make this many source objects unreadable "
                         "(proves that a failed sync is counted)")
    ap.add_argument("--generate-only", action="store_true",
                    help="write the inputs, print their sizes and digest")
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()

    try:
        build.build()
    except Exception as e:  # noqa: BLE001 - any build failure ends the run
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 1
    if a.record_fingerprints:
        record_fingerprints()
        return 0
    if not a.workload:
        ap.error("--workload is required")
    workloads = metrics.WORKLOADS if a.workload == "all" else (a.workload,)
    return max(run_one(a, w) for w in workloads)


if __name__ == "__main__":
    sys.exit(main())
