#!/usr/bin/env python3
"""Benchmark of the graft playback source and query registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload playback-bulk --seed 1 --seconds 10 --trace 0

The first run builds the program and the benchmark JVM from source with
sbt (``perfbench/build.sbt`` depends on the checkout's own build) and
caches the classpath under ``.bench_build/perfbench``. Each run starts
one JVM (``perfbench.Main``) at ``local[nproc]``, which writes its raw
observations as JSON; this script checks the outputs, computes the
metrics (``metrics.py``) and prints, as the last line of standard
output, ``{"correct", "attempted", "failed", "metrics"}``. The line
before it is a detail record: the workload's own metric names with units
and sample counts, the error rate, and the run's stamp (nproc, load
average before and after, JVM and Spark versions, source digest and git
commit when there is one).

``--trace 1`` runs the workload again with tracing: spans are kept in
memory and written to ``.bench_build/perfbench/traces/``, and the
per-layer metrics are printed instead of the end-to-end ones.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ["playback-bulk", "queries"]
RUN_LIMIT_S = 170          # one measured run
FIRST_RUN_LIMIT_S = 880    # a run that builds first
JVM_HEAP = "3g"

END_TO_END = {
    "throughput_per_s": "1/s",
    "setup_s": "s",
}

PER_LAYER = {
    "source.index_build_ms": "ms",
    "source.latest_offset_ms": "ms",
    "source.skipped_ticks": "count",
    "source.read_rows_per_s": "1/s",
    "source.tasks_per_batch": "count",
    "stream.build_ms": "ms",
    "stream.parse_ms_per_mrow": "ms",
    "stream.ts_rewrite_ms_per_mrow": "ms",
    "engine.add_batch_ms": "ms",
    "engine.query_planning_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.commit_offsets_ms": "ms",
    "engine.trigger_gap_ms": "ms",
    "fine.readings_per_s": "1/s",
    "fine.batch_p50_ms": "ms",
    "fine.add_batch_ms": "ms",
    "fine.query_planning_ms": "ms",
    "fine.wal_commit_ms": "ms",
    "fine.commit_offsets_ms": "ms",
    "fine.trigger_gap_ms": "ms",
    "fine.skipped_ticks": "count",
    "tables.load_ms": "ms",
    "jvm.live_heap_peak_mb": "MB",
    "jvm.gc_ms": "ms",
    "jvm.gc_count": "count",
    "spark.executor_busy_share": "ratio",
    "trace.overhead_share": "ratio",
}
for _layer in metrics.SELF_LAYERS:
    PER_LAYER[f"trace.self_ms.{_layer}"] = "ms"
for _q in metrics.QUERY_NAMES:
    for _f, _u in [("wall_ms", "ms"), ("cold_ms", "ms"), ("jobs", "count"), ("stages", "count"),
                   ("tasks", "count"), ("shuffle_bytes", "B"), ("spill_bytes", "B")]:
        PER_LAYER[f"query.{_q}.{_f}"] = _u


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files(root):
    """Every file the build reads: the program's and the benchmark's."""
    tops = ["build.sbt", os.path.join("project", "build.properties"),
            os.path.join("perfbench", "build.sbt"),
            os.path.join("perfbench", "project", "build.properties")]
    out = [t for t in tops if os.path.isfile(os.path.join(root, t))]
    for d in [os.path.join("src", "main"), os.path.join("perfbench", "src")]:
        for base, dirs, files in os.walk(os.path.join(root, d)):
            dirs.sort()
            out += [os.path.relpath(os.path.join(base, f), root) for f in sorted(files)]
    return out


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def add_opens(java_options):
    """The --add-opens flags among the program build's JVM options."""
    out = []
    for flag, value in zip(java_options, java_options[1:]):
        if flag == "--add-opens":
            out += [flag, value]
    return out


def build(root, state_dir, src_digest):
    """Compiles the program and the benchmark; returns the JVM classpath
    and the --add-opens flags the program's build runs Spark with."""
    stamp = os.path.join(state_dir, "build.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b.get("digest") == src_digest and "add_opens" in b and all(
                os.path.exists(p) for p in b["classpath"].split(os.pathsep) if "classes" in p):
            return b["classpath"], b["add_opens"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(state_dir, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath", "printGraftJavaOptions"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=out,
            stderr=subprocess.STDOUT, start_new_session=True)
        code = wait(proc, FIRST_RUN_LIMIT_S - RUN_LIMIT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if code != 0:
        fail("build failed:\n" + "\n".join(lines[-30:]))
    cp = [ln.strip() for ln in lines if os.pathsep in ln and "classes" in ln
          and not ln.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    opens = add_opens([ln[len("javaOption "):].strip() for ln in lines
                       if ln.startswith("javaOption ")])
    with open(stamp, "w") as fh:
        json.dump({"digest": src_digest, "classpath": cp[-1], "add_opens": opens}, fh)
    return cp[-1], opens


def wait(proc, limit_s):
    """Waits for the process; kills its whole group past the limit."""
    try:
        return proc.wait(timeout=max(1, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, opens, args, work, cache, raw_path, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"] + opens
    cmd += ["-cp", classpath, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work, cache, raw_path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        code = wait(proc, deadline - time.monotonic())
    if code != 0 or not os.path.isfile(raw_path):
        with open(log, errors="replace") as fh:
            tail = fh.read().splitlines()[-40:]
        fail(("timed out" if code is None else f"benchmark JVM exited {code}") + ":\n" +
             "\n".join(tail))
    with open(raw_path) as fh:
        return json.load(fh)


def cpu_ticks():
    """(steal, total) clock ticks over all CPUs so far, where the kernel
    reports them; the difference over a run is the share of CPU time a
    hypervisor took away from the machine running the benchmark."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields[:8])
    except (OSError, ValueError):
        return None


def read_spans(path):
    if not path or not os.path.isfile(path):
        return []
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def steal_share(before, after):
    if not before or not after or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        fail("run from the root of a checkout: build.sbt and src/main are missing")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    load_before = os.getloadavg()
    ticks_before = cpu_ticks()
    files = source_files(root)
    src_digest = digest(root, files)
    classpath, opens = build(root, state, src_digest)

    t_run = time.monotonic()
    work = os.path.join(state, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    try:
        raw = run_jvm(classpath, opens, args, work, os.path.join(state, "cache"), raw_path,
                      min(t_run + RUN_LIMIT_S, t_start + FIRST_RUN_LIMIT_S))
        # the raw document of every run, and the spans of a traced one,
        # are kept for inspection
        kept = os.path.join(state, "traces" if args.trace else "raw")
        os.makedirs(kept, exist_ok=True)
        stem = os.path.join(kept, f"{args.workload}-seed{args.seed}")
        shutil.copyfile(raw_path, stem + ".raw.json")
        spans_path = None
        if args.trace:
            spans_path = stem + ".spans.jsonl"
            shutil.copyfile(os.path.join(work, "spans.jsonl"), spans_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spans = read_spans(spans_path)
    nproc = raw["stamp"]["nproc"]

    if args.workload == "queries":
        with open(os.path.join(HERE, "fingerprints.json")) as fh:
            pinned = json.load(fh)
        samples = metrics.query_samples(raw)
        bad = metrics.fingerprint_failures(samples, pinned)
        attempted, failed = len(samples), len(bad)
        e2e, detail = metrics.query_end_to_end(raw), metrics.query_detail(raw)
        layers = metrics.query_layers(raw, spans, nproc) if args.trace else {}
        detail["mismatched_queries"] = sorted(set(bad))
    else:
        attempted, failed = metrics.playback_checks(raw)
        e2e, detail = metrics.playback_end_to_end(raw), metrics.playback_detail(raw)
        layers = metrics.playback_layers(raw, spans, nproc) if args.trace else {}
        detail["verify"] = raw["verify"]

    detail["error_rate"] = {"value": failed / attempted, "unit": "ratio", "n": attempted}
    detail["live_heap_peak_mb"] = {"value": raw["heap_after_gc_peak_mb"], "unit": "MB",
                                   "n": raw["gc_events"]}
    stamp = dict(raw["stamp"])
    stamp.update({
        "loadavg_before": list(load_before), "loadavg_after": list(os.getloadavg()),
        "cpu_steal_share": steal_share(ticks_before, cpu_ticks()),
        "source_digest": src_digest, "git_commit": git_commit(root),
        "run_s": round(time.monotonic() - t_start, 3), "spans_file": spans_path,
    })

    out = {}
    if args.trace:
        for name, unit in PER_LAYER.items():
            # a layer the workload never enters did no work in it: 0
            v = layers.get(name, 0)
            if v is None:
                fail(f"{name} could not be measured in {args.seconds} s")
            out[name] = {"value": v, "unit": unit}
    else:
        for name, unit in END_TO_END.items():
            v = e2e[name]
            if v is None:
                fail(f"{name} could not be measured in {args.seconds} s")
            out[name] = {"value": v, "unit": unit}

    print(json.dumps({"detail": {"workload": args.workload, "seed": args.seed,
                                 "seconds": args.seconds, "trace": args.trace,
                                 "metrics": detail, "stamp": stamp}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
