#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload bucket_load --seed 1 --seconds 10 \
        --trace 0

It builds the engine and the benchmark driver (``build.py``) and the driver
JVM's class-data archive, both once per source tree, generates the
workload's inputs from the seed, runs the driver in one JVM on ``local[4]``,
checks the outputs and prints one JSON result as the last line of standard
output: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.
Everything it writes lives under the checkout and is removed at the end.
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

import gen  # noqa: E402
import stats  # noqa: E402
from build import archive_of, build, log, spark_jars  # noqa: E402

WORKLOADS = ("bucket_load", "table_dml")
JVM_TIMEOUT_S = 160
TRAIN_TIMEOUT_S = 600
HEAP = "3g"

SPANS = {
    "bucket_load": ["ingest.plan", "ingest.execute", "ingest.replay",
                    "views.ordered_read"],
    "table_dml": ["sink.merge_into", "sink.merge_cdc", "sink.merge_full_sync",
                  "sink.delete_mor", "sink.update_mor", "sql.dml",
                  "sink.optimize", "sql.point_read", "sql.range_read",
                  "sql.time_travel", "sink.change_feed"],
}
WRITE_SPANS = ["ingest.execute", "sink.merge_into", "sink.merge_cdc",
               "sink.merge_full_sync", "sink.delete_mor", "sink.update_mor",
               "sql.dml", "sink.optimize"]
READ_SPANS = ["views.ordered_read", "sql.point_read", "sql.range_read",
              "sql.time_travel", "sink.change_feed"]
SHUFFLE_SPANS = ["sink.merge_into", "sink.merge_cdc", "sink.merge_full_sync"]
COUNTS = ["table.data_files", "table.log_files", "table.log_bytes",
          "ledger.rows", "ingest.new_file_frac",
          "table.stored_bytes_per_input_byte"]

# JDK 17 module opens Spark needs outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# -------------------------------------------------------------------- run

def java(jar, jars, work, flags, args, timeout):
    """Run one driver JVM with its output in ``work/jvm.log``; on failure
    print the log's end and stop."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC"] + flags
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([jar, os.path.join(jars, "*")]),
              "perfbench.Main"] + args)
    logfile = os.path.join(work, "jvm.log")
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: driver exceeded {timeout} s")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        with open(logfile) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: driver exited with {p.returncode}")


def class_archive(root, jar, jars):
    """The driver JVM's class-data archive for `jar`, made once per build.

    Mapping Spark's classes from an archive instead of reading and
    verifying them from jars takes 4 to 8 s off each run's set-up on a
    4-core host. The JVM dumps the archive when it exits; this one sets up
    and warms up every workload on seed-0 inputs, so the archive holds the
    classes each of them loads.
    """
    archive = archive_of(jar)
    if os.path.exists(archive):
        return archive
    work = os.path.join(root, ".perfbench_work", f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    try:
        inputs = []
        for w in WORKLOADS:
            inputs.append(os.path.join(work, "inputs", w))
            gen.generate(w, inputs[-1], 0)
        java(jar, jars, work, [f"-XX:ArchiveClassesAtExit={archive}.tmp"],
             ["train", work] + inputs, TRAIN_TIMEOUT_S)
        os.replace(archive + ".tmp", archive)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"class-data archive made in {time.time() - t0:.1f} s")
    return archive


def run_jvm(jar, archive, jars, workload, seed, inputs, work, seconds,
            trace):
    record = os.path.join(work, "record.json")
    java(jar, jars, work, [f"-XX:SharedArchiveFile={archive}"],
         [workload, str(seed), inputs, work, str(seconds), str(trace),
          record], JVM_TIMEOUT_S)
    with open(record) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def kind_times(rec, kind):
    """Latencies of the operations of one kind that completed."""
    return [(o["t1"] - o["t0"]) / 1e3 for o in rec["ops"]
            if o["kind"] == kind and o["ok"]]


def end_to_end(workload, rec, setup_wall_s, gen_cpu_s):
    """Every end-to-end metric as (value, unit, samples), plus the extra
    figures printed in the report.

    Wall-clock figures move 30-60% with the load of other tenants of a
    shared host, CPU time much less: the metrics use CPU time, the report
    keeps both.
    """
    ops = rec["ops"]
    loop_s = (rec["loop_t1"] - rec["loop_t0"]) / 1e3
    m = {"setup_s": (gen_cpu_s + rec["setup_cpu_ms"] / 1e3, "s", 1),
         "cpu_s_per_op": (rec["loop_cpu_ms"] / 1e3 / len(ops), "s",
                          len(ops))}
    extra = {"setup_wall_s": (setup_wall_s, "s", 1),
             "heap_live_mb": (rec["heap_live_mb"], "MB", 1),
             "loop_s": (loop_s, "s", rec["cycles"]),
             "ops_per_s": (len(ops) / loop_s, "1/s", len(ops))}

    def timed(prefix, xs):
        if not xs:
            return None
        t = stats.timing(xs)
        extra[f"{prefix}_p50_s"] = (t["p50"], "s", t["n"])
        extra[f"{prefix}_tail_s"] = (t["tail"], f"s@p{t['tail_pct']:g}",
                                     t["n"])
        return t

    if workload == "bucket_load":
        t = timed("load_batch", kind_times(rec, "load_batch"))
        timed("replay", kind_times(rec, "replay"))
        timed("fresh_read", kind_times(rec, "fresh_read"))
    else:
        t = timed("dml_write", kind_times(rec, "write"))
        timed("dml_read", kind_times(rec, "read"))
    if t is None:
        raise SystemExit("perfbench: no operation completed in the loop")
    c = rec["counts"]
    if "table.stored_bytes_per_input_byte" in c:
        extra["stored_bytes_per_input_byte"] = (
            c["table.stored_bytes_per_input_byte"], "ratio", 1)
    return m, extra


def per_layer(rec):
    names = [s for w in WORKLOADS for s in SPANS[w]]
    extra = {}
    for s in WRITE_SPANS:
        extra.setdefault(s, []).append("output_bytes")
    for s in READ_SPANS:
        extra.setdefault(s, []).extend(["files_read", "input_bytes"])
    for s in SHUFFLE_SPANS:
        extra.setdefault(s, []).append("shuffle_bytes")
    out = stats.span_stats(rec["ops"], names, extra)
    for k in COUNTS:
        out[k] = rec["counts"].get(k, 0.0)
    loop_s = (rec["loop_t1"] - rec["loop_t0"]) / 1e3
    span_s = sum((s["t1"] - s["t0"]) / 1e3
                 for o in rec["ops"] for s in o["spans"])
    out["bench.overhead_frac"] = 1.0 - span_s / loop_s
    return out


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_per_input_byte")):
        return "ratio"
    return "count"


# ------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated runner still stops its driver JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(src/main/scala/graft not found)")
    jars = spark_jars()
    jar = build(root, jars)
    archive = class_archive(root, jar, jars)

    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        # set-up runs from here to the loop's first operation: its CPU time
        # is this process's for generation plus the driver JVM's until the
        # loop; its wall time is read on the clock the driver's record uses
        setup_t0 = time.time()
        cpu_t0 = time.process_time()
        gen.generate(args.workload, inputs, args.seed)
        gen_s = time.time() - setup_t0
        gen_cpu_s = time.process_time() - cpu_t0
        files, size = gen.input_sizes(inputs)
        rec = run_jvm(jar, archive, jars, args.workload, args.seed, inputs,
                      work, args.seconds, args.trace)
        checks = rec["checks"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    setup_wall_s = rec["loop_t0"] / 1e3 - setup_t0
    attempted, failed = stats.failures(rec["ops"], checks)
    correct = stats.correct(rec["ops"], checks)
    e2e, extra = end_to_end(args.workload, rec, setup_wall_s, gen_cpu_s)

    for o in rec["ops"]:
        if not o["ok"]:
            log(f"FAILED {o['kind']}: {o['error']}")
    for c in checks:
        if not c["ok"]:
            log(f"FAILED check {c['name']}: {c['detail']}")
    print(f"workload={args.workload} seed={args.seed} inputs: {files} files "
          f"{size} bytes; closed loop, 1 client; "
          f"setup: gen {gen_s:.3f} s, session "
          f"{rec['session_s']:.3f} s, workload "
          f"{rec['workload_setup_s']:.3f} s, warm-up "
          f"{rec['warmup_s']:.3f} s")
    report = dict(e2e)
    report.update(extra)
    report["ops_failed_frac"] = (failed / attempted, "ratio", attempted)
    for k in sorted(report):
        v, unit, n = report[k]
        print(f"  {k:<30} {v:14.6f} {unit:<10} n={n}")

    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in per_layer(rec).items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
