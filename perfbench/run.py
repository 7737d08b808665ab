#!/usr/bin/env python3
"""graft benchmark: one command runs one workload with one seed.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the harness in `perfbench/` (an sbt
project that compiles graft's sources next to its own) when its inputs
changed, stages the workload's inputs under a per-run root in
`.bench_build/`, runs the harness on a local[4] Spark session, checks the
outputs, deletes the run root and prints one JSON object as the last line of
standard output. `--trace 0` reports the end-to-end metrics of
BENCHMARK.json, `--trace 1` the per-layer metrics, and writes the spans to
`.bench_build/traces/`.

`--record` rewrites `perfbench/expected.json` from the run's output digests;
use it only when the inputs or the queries change on purpose.
"""

import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("reference-batch", "corpus-batch", "topology-stream")
SCALE = 0.01
BUILD_TIMEOUT_S = 850
# the harness is killed when a run (not counting a build) reaches this
RUN_TIMEOUT_S = 170
HEAP = "2g"
# topology-stream staging: the backlog is every generated event in `ts`
# order; the live phase publishes one LIVE_ROWS-row file at a seeded uniform
# time within each 1/LIVE_FILES_PER_S slot (LIVE_ROWS * LIVE_FILES_PER_S
# events/s, about half the catch-up drain rate measured when the benchmark
# was defined). Slotted rather than Poisson arrivals: in trial runs a bursty
# seed moved median freshness by a quarter, more than any other effect, so
# the seed varies arrival times but not burstiness.
BACKLOG_FILES = 120
LIVE_ROWS = 60
LIVE_FILES_PER_S = 5.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# per-layer families that only the streaming workload produces
STREAM_ONLY = ("topology.", "state.", "gen.", "baseline.")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(1)


def build_inputs(root):
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), os.path.join(root, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    return [f for f in files if os.path.isfile(f)]


def build(root, out):
    """Compile graft and the harness with sbt unless the last build saw
    exactly the same sources."""
    h = hashlib.sha256()
    for f in build_inputs(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(out, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building the harness with sbt")
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(out, "build.log"), "w") as logf:
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.server.autostart=false",
                               "-Dsbt.log.noformat=true", "compile"],
                              cwd=HERE, env=env, stdout=logf, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        with open(os.path.join(out, "build.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def check_types(chunk, name):
    """Every staged file must hold every event type. The harness reads what
    each store consumed from its cumulative `numInputRows`, and parquet
    skips a file whose statistics exclude a store's pushed-down
    `event_type` filter, so that file's rows would never be counted."""
    missing = set(gen.EVENT_TYPES) - set(chunk["event_type"].to_pylist())
    if missing:
        raise ValueError(f"{name} lacks event types {sorted(missing)}")


def stage_stream(run, seed, seconds):
    """Backlog files, live files and the live schedule for topology-stream."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(run, "data", "events.parquet"))
    events = events.set_column(1, "ts", events["ts"].cast(pa.timestamp("us", tz="UTC")))
    n = events.num_rows
    out = os.path.join(run, "stream")
    os.makedirs(os.path.join(out, "backlog"))
    os.makedirs(os.path.join(out, "live"))
    rows = []
    # mtimes increase with publish order: the file source takes the oldest
    # files first, so files are consumed in the order they were staged
    mtime = time.time() - 100_000
    for i in range(BACKLOG_FILES):
        name = f"backlog/part-{i:05d}.parquet"
        lo, hi = i * n // BACKLOG_FILES, (i + 1) * n // BACKLOG_FILES
        chunk = events.slice(lo, hi - lo)
        check_types(chunk, name)
        pq.write_table(chunk, os.path.join(out, name))
        os.utime(os.path.join(out, name), (mtime + i, mtime + i))
        rows.append(("backlog", name, chunk.num_rows, 0.0))
    rng = random.Random(seed)
    slot = 1000.0 / LIVE_FILES_PER_S
    due = [(i + rng.random()) * slot for i in range(int(seconds * LIVE_FILES_PER_S))]
    shift_us = 30 * 86_400_000_000
    for i, d in enumerate(due):
        start = (i * LIVE_ROWS) % n
        copy = 1 + (i * LIVE_ROWS) // n
        chunk = events.slice(start, LIVE_ROWS)
        chunk = chunk.set_column(0, "event_id", pc.add(chunk["event_id"], copy * n))
        ts = pc.cast(chunk["ts"], pa.int64())
        chunk = chunk.set_column(1, "ts", pc.cast(pc.add(ts, copy * shift_us),
                                                  pa.timestamp("us", tz="UTC")))
        name = f"live/live-{i:05d}.parquet"
        check_types(chunk, name)
        pq.write_table(chunk, os.path.join(out, name))
        os.utime(os.path.join(out, name), (mtime + 10_000 + i,) * 2)
        rows.append(("live", name, chunk.num_rows, d))
    with open(os.path.join(out, "plan.tsv"), "w") as fh:
        for k, name, cnt, d in rows:
            fh.write(f"{k}\t{name}\t{cnt}\t{d!r}\n")


def dir_bytes(path):
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def run_jvm(classes, run, args, trace_out, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cp = os.pathsep.join([classes, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--root", run,
            "--out", os.path.join(run, "result.json"), "--trace-out", trace_out]
    logpath = os.path.join(run, "jvm.log")
    with open(logpath, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("harness timed out")
        finally:
            # also reached when this script is interrupted: the harness
            # never outlives it
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    with open(logpath, errors="replace") as fh:
        text = fh.read()
    if proc.returncode != 0 or not os.path.exists(os.path.join(run, "result.json")):
        sys.stderr.write(text[-6000:])
        return None
    sys.stderr.write("".join(l for l in text.splitlines(True) if l.startswith("[perfbench]")))
    with open(os.path.join(run, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    t_start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not here; run from the repository root")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json is not here; run from the repository root")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None and not (tool == "java" and "JAVA_HOME" in os.environ):
            die(f"{tool} is not on PATH")
    if "SPARK_HOME" not in os.environ:
        die("SPARK_HOME must name the Spark installation")
    with open(spec_path) as fh:
        spec = json.load(fh)

    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    t_build = time.time()
    classes = build(root, out)
    # a run that had to build gets its full run time after the build
    deadline = t_start + RUN_TIMEOUT_S + (time.time() - t_build if time.time() - t_build > 5 else 0)

    run = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("data", "tmp", "local"):
        os.makedirs(os.path.join(run, d))
    trace_out = os.path.join(out, "traces", f"{args.workload}-seed{args.seed}.json")
    try:
        t0 = time.perf_counter()
        gen.generate(os.path.join(run, "data"), SCALE)
        if args.workload == "topology-stream":
            stage_stream(run, args.seed, args.seconds)
        gen_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        res = run_jvm(classes, run, args, trace_out, deadline)
        log(f"inputs staged in {gen_s:.1f} s, harness ran {time.perf_counter() - t1:.1f} s")
        tmp_left = dir_bytes(os.path.join(run, "tmp"))
    finally:
        shutil.rmtree(run, ignore_errors=True)
    if res is None:
        die("harness failed")

    failed = res["failed"]
    for e in res["errors"]:
        log(f"error: {e}")
    mismatches = []
    if args.workload != "topology-stream":
        exp_path = os.path.join(HERE, "expected.json")
        expected = json.load(open(exp_path)) if os.path.exists(exp_path) else {}
        if args.record:
            expected.update(res["digests"])
            with open(exp_path, "w") as fh:
                json.dump(dict(sorted(expected.items())), fh, indent=1)
                fh.write("\n")
        for name, got in res["digests"].items():
            if expected.get(name) != got:
                mismatches.append(name)
                log(f"output mismatch: {name}: got {got}, expected {expected.get(name)}")
    for name, ok in res["checks"].items():
        if not ok:
            log(f"check failed: {name}")
    failed += len(mismatches)

    m = dict(res["metrics"])
    if args.trace == 0:
        m["setup_s"] = m["setup_s"] + gen_s
        names = [(x["name"], x["unit"]) for x in spec["end_to_end"]]
    else:
        m["sources.tmp_bytes_left"] = float(tmp_left)
        names = [(x["name"], x["unit"]) for x in spec["per_layer"]]
        if args.workload != "topology-stream":
            for n, _ in names:
                if n.startswith(STREAM_ONLY):
                    m.setdefault(n, 0.0)
    missing = [n for n, _ in names if n not in m]
    if missing:
        die(f"metrics missing from the run: {', '.join(missing)}")
    correct = not mismatches and all(res["checks"].values()) and not res["errors"]
    result = {"correct": correct, "attempted": int(res["attempted"]), "failed": int(failed),
              "metrics": {n: {"value": m[n], "unit": u} for n, u in names}}
    print(json.dumps(result))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
