#!/usr/bin/env python3
"""Benchmark entry point: builds the program if needed, generates the
workload's inputs from the seed, runs the workload in a fresh JVM, checks
its outputs, and prints one JSON line with the metrics.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 12 --trace 0

Run it from the repository root. ``--trace 1`` runs the workload traced
and prints the per-layer metrics instead of the end-to-end ones; spans
are kept under ``.perfbench/traces/``. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("cdc_stream", "table_dml")
SPARK_JARS = "/opt/spark/jars"
HEAP = "3g"
JVM_TIMEOUT_S = 165
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# cdc_stream input: a backlog of `warm_chunks` untimed chunks of
# `warm_events` and `chunks` timed chunks of `chunk_events`, then an
# open-loop tail at `rate` events/s for --seconds; each stream is read
# as a topic of `partitions` partitions
CDC = dict(warm_chunks=2, warm_events=2500, chunks=3, chunk_events=5000,
           rate=200, tick_ms=20, partitions=3,
           employees=2000, emp_share=0.2, delete_share=0.05, update_share=0.1,
           event_span_s=4 * 86_400, disorder_s=1_800, now="2025-03-01")
# base-table scale of table_dml
DML_SCALE = 0.01


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            yield p
        for d, _, files in sorted(os.walk(p)):
            for f in sorted(files):
                yield os.path.join(d, f)


def build(root):
    """Compile the program and the benchmark unless the classes are
    current for these sources; returns the classes directory and whether
    it built."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        fail("no program sources (src/main/scala) under the current directory")
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(root, "perfbench/target/perfbench.stamp")
    classes = os.path.join(root, "perfbench/target/scala-2.13/classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, False
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"],
                       cwd=os.path.join(root, "perfbench"), env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes, True


def run_jvm(classes, scratch, args, log):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={scratch}/tmp",
           f"-Dspark.local.dir={scratch}/spark-local",
           f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
           f"-Dderby.system.home={scratch}/derby",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    cmd += ["-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Main"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=scratch)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            lines = [ln for ln in f if not ln.startswith("\tat ")]
            sys.stderr.write("".join(lines[-40:]))
        fail(f"workload JVM ended with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    classes, built = build(root)
    t0 = time.time() if built else T_START  # set-up excludes a build
    slots = len(os.sched_getaffinity(0))
    scratch = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "data", "out"):
        os.makedirs(os.path.join(scratch, d))
    try:
        import gen
        import check
        data, out = os.path.join(scratch, "data"), os.path.join(scratch, "out")
        args = dict(workload=a.workload, data=data, out=out, scratch=scratch,
                    seconds=a.seconds, trace=a.trace, t0_ms=int(t0 * 1000))
        if a.workload == "cdc_stream":
            feed = os.path.join(data, "feed.tsv")
            backlog = (CDC["warm_chunks"] * CDC["warm_events"]
                       + CDC["chunks"] * CDC["chunk_events"])
            gen.cdc_feed(feed, a.seed, backlog + int(CDC["rate"] * a.seconds),
                         CDC["employees"], CDC["emp_share"], CDC["delete_share"],
                         CDC["update_share"], CDC["event_span_s"], CDC["disorder_s"])
            # one core stays with the open-loop generator thread
            args.update(feed=feed, cores=max(1, slots - 1),
                        **{k: CDC[k] for k in ("warm_chunks", "warm_events", "chunks",
                                               "chunk_events", "rate", "tick_ms",
                                               "partitions", "now")})
        else:
            gen.base_tables(data, a.seed, DML_SCALE)
            args.update(cores=slots)
        os.makedirs(os.path.join(out, "results"), exist_ok=True)
        run_jvm(classes, scratch, args, os.path.join(scratch, "jvm.log"))
        res = json.load(open(os.path.join(out, "jvm_result.json")))
        res["detail"]["jvm_end_s"] = time.time() - t0
        attempted, failed = res["attempted"], res["failed"]
        correct = True
        if a.workload == "cdc_stream":
            bad, reasons = check.cdc(feed, out, gen.FEED_START_US // 1000, CDC["now"])
            failed += len(bad)
            correct = not (reasons and not bad)
        else:
            fails = check.registry(data, out)
            already = set(res["detail"]["failed_queries"])
            new = [q for q in fails if q not in already]
            failed += res["detail"]["passes"] * len(new)
            reasons = [f"{q}: {why}" for q, why in sorted(fails.items())]
        for r in reasons:
            print(f"perfbench: check failed: {r}", file=sys.stderr)
        res["detail"]["checked_s"] = time.time() - t0
        if a.trace:
            traces = os.path.join(root, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            base = os.path.join(traces, f"{a.workload}-seed{a.seed}")
            with open(base + ".json", "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                           "metrics": res["metrics"], "detail": res["detail"]}, f, indent=1)
            spans = os.path.join(out, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, base + ".spans.jsonl")
        # every declared metric of the run's kind, and no other; a layer the
        # workload does not exercise did no work, so it reads 0
        declared = json.load(open(os.path.join(root, "BENCHMARK.json")))
        kind = declared["per_layer" if a.trace else "end_to_end"]
        metrics = {m["name"]: res["metrics"].get(m["name"], {"value": 0.0, "unit": m["unit"]})
                   for m in kind}
        print(json.dumps(res["detail"], separators=(",", ":")), file=sys.stderr)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": min(failed, attempted), "metrics": metrics}))


if __name__ == "__main__":
    main()
