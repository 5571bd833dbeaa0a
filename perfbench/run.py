#!/usr/bin/env python3
"""The repository benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload <pyramid_batch|blob_append|catalog_slice>
        --seed <n> --seconds <s> --trace <0|1>

It builds the program and the harness from source (once per source state),
generates the workload's inputs from the seed, runs the harness JVM
(perfbench.Main) and checks the outputs. The last line of standard output is
one JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
The line before it is the run's record (seed, nproc, load average, versions,
source revision, raw samples). See perfbench/README.md for every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("pyramid_batch", "blob_append", "catalog_slice")
# input sizes (see README.md, "Sizing")
PYRAMID_POINTS = 10_000
BLOB_POINTS = 10_000
CATALOG_SF = 0.001
SETUP_REPS = 3
JVM_HEAP = "3g"
RUN_LIMIT_S = 170

END_TO_END = {"setup_s": "s", "cold_op_s": "s", "op_s": "s",
              "rows_per_s": "rows/s", "error_rate": "ratio"}
# entry-name prefixes of the catalog slice (CatalogSlice.Names)
FAMILIES = ("stream", "geo", "emb")
PER_LAYER = dict(
    [(f"sources.{m}", "s") for m in ("scan_s", "write_s", "commit_s")]
    + [("sources.bytes_read", "bytes"), ("sources.bytes_written", "bytes"),
       ("sources.files_written", "count"), ("functions.quantize_s", "s")]
    + [(f"plans.{m}", "s") for m in ("analysis_s", "optimization_s", "planning_s")]
    + [("plans.exchanges", "count"), ("plans.plan_chars", "chars")]
    + [(f"operators.{m}", "s") for m in ("pyramid_s", "blobs_s", "merge_s")]
    + [("operators.shuffle_write_bytes", "bytes"), ("operators.shuffle_read_bytes", "bytes"),
       ("operators.shuffle_records", "count"), ("operators.spill_bytes", "bytes"),
       ("operators.fetch_wait_s", "s"), ("operators.task_skew", "ratio"),
       ("operators.gc_s", "s"), ("operators.cpu_busy_ratio", "ratio"),
       ("operators.jobs", "count"), ("operators.stages", "count"),
       ("operators.tasks", "count")]
    + [("queries.build_s", "s"), ("queries.exec_s", "s")]
    + [(f"queries.{f}.s", "s") for f in FAMILIES]
    + [("queries.failed", "count")]
    + [("streaming.batches", "count"), ("streaming.add_batch_s", "s"),
       ("streaming.commit_s", "s"), ("streaming.query_planning_s", "s"),
       ("streaming.state_rows", "count")]
    + [("session.start_s", "s"), ("session.stage_data_s", "s"), ("session.warmup_s", "s"),
       ("trace.overhead_s", "s")])


def median(xs):
    """Median of a non-empty sample; the mean of the two middle values when
    the count is even."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of an empty sample")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Every file the build reads: the program's build and sources, and the
    harness's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_built(stamp):
    """Compiles with sbt unless this source state is already built."""
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "perfbench-stamp")
    cp_file = os.path.join(target, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log = os.path.join(target, "build.log")
    os.makedirs(target, exist_ok=True)
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def stage_inputs(workload, seed, data):
    """Generates the workload's inputs into `data`, with the per-user-group
    point totals the output check expects (pyramid_batch, blob_append).
    blob_append's stored base blob table is written here too, in the
    pipeline's output format. Returns the input rows one operation reads:
    all corpus rows, all locations, or stored blobs plus new points."""
    if os.path.exists(data):
        shutil.rmtree(data)
    os.makedirs(data)
    if workload == "catalog_slice":
        tables = gen.catalog(seed, CATALOG_SF)
        gen.write_tables(tables, data)
        return sum(t.num_rows for t in tables.values())
    n = PYRAMID_POINTS if workload == "pyramid_batch" else BLOB_POINTS
    table, totals = gen.locations(seed, n)
    if workload == "pyramid_batch":
        gen.write_tables({"locations": table}, data)
        rows = table.num_rows
    else:
        base, delta = gen.split_last_day(table)
        blobs = gen.blobs(base)
        gen.write_heatmaps(blobs, os.path.join(data, "base-heatmaps"))
        gen.write_tables({"delta": delta}, data)
        rows = len(blobs) + delta.num_rows
    with open(os.path.join(data, "totals.tsv"), "w") as fh:
        fh.writelines(f"{g}\t{n}\n" for g, n in sorted(totals.items()))
    return rows


def git_commit():
    """HEAD of the checkout when it is a git work tree of its own, else None."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def run_jvm(args, nproc, work, data, rows, deadline):
    target = os.path.join(HERE, "target")
    with open(os.path.join(target, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(target, "jvm-options.txt")) as fh:
        opts = [o for o in fh.read().split("\n") if o and not o.startswith("-Xmx")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    # a fixed heap: no heap-growth collections early in the run
    cmd = (["java"] + opts + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
                              "-cp", cp,
                              "perfbench.Main",
                              "--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--nproc", str(nproc), "--data", data, "--rows", str(rows),
                              "--work", work,
                              "--result", result])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(10.0, deadline - time.monotonic())).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness JVM failed ({rc})")
    with open(result) as fh:
        return json.load(fh)


def summarize(workload, rec, gen_s, oracle_failures, trace):
    """(correct, attempted, failed, metrics) from the harness record."""
    cold, samples = rec["cold"], rec["samples"]
    traced = rec["traced"]
    ops = [cold, rec["settle"]] + samples + traced
    attempted = len(ops)
    failed = sum(1 for s in ops if s["error"] is not None)
    check_ok = rec["check_error"] is None and not oracle_failures
    if not check_ok:
        failed += 1
    ok = [s["seconds"] for s in samples if s["error"] is None]
    correct = check_ok and bool(ok)
    # with every timed operation failed, their times still make a number
    times = ok or [s["seconds"] for s in samples]
    ses = rec["session"]
    stage_data_s = gen_s
    if not trace:
        op_s = median(times)
        m = {
            "setup_s": ses["start_s"] + stage_data_s + ses["warmup_s"],
            "cold_op_s": cold["seconds"],
            "op_s": op_s,
            "rows_per_s": rec["rows"] / op_s,
            # Laplace's rule of succession: (failed + 1) / (attempted + 2),
            # never 0, so a bound can be a share of it
            "error_rate": (failed + 1) / (attempted + 2),
        }
        units = END_TO_END
    else:
        traced_ok = [t for t in traced if t["error"] is None] or traced
        m = {name: median([t["metrics"].get(name, 0.0) for t in traced_ok])
             for name in PER_LAYER}
        m["queries.failed"] = max(t["metrics"].get("queries.failed", 0.0) for t in traced) \
            + len(oracle_failures)
        m["session.start_s"] = ses["start_s"]
        m["session.stage_data_s"] = stage_data_s
        m["session.warmup_s"] = ses["warmup_s"]
        traced_s = [t["seconds"] for t in traced if t["error"] is None] \
            or [t["seconds"] for t in traced]
        m["trace.overhead_s"] = median(traced_s) - median(times)
        units = PER_LAYER
    metrics = {k: {"value": v, "unit": units[k]} for k, v in m.items()}
    return correct, attempted, failed, metrics


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    began = time.monotonic()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to {HERE}: run from a full checkout")
    stamp = source_hash()
    ensure_built(stamp)
    deadline = time.monotonic() + RUN_LIMIT_S
    load_start = os.getloadavg()
    nproc = len(os.sched_getaffinity(0))

    work = os.path.join(ROOT, ".bench_build", "perfbench", args.workload)
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    try:
        gen_times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            rows = stage_inputs(args.workload, args.seed, os.path.join(work, f"data-{rep}"))
            gen_times.append(time.perf_counter() - t0)
        data = os.path.join(work, f"data-{SETUP_REPS - 1}")
        rec = run_jvm(args, nproc, work, data, rows, deadline)
        oracle_failures = []
        if args.workload == "catalog_slice":
            oracle_failures = oracle.compare(data, os.path.join(work, "oracle"))
        correct, attempted, failed, metrics = summarize(
            args.workload, rec, median(gen_times), oracle_failures, args.trace == 1)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "spark_version": rec["spark_version"],
            "java_version": f'{rec["java_vm"]} {rec["java_version"]}',
            "git_commit": git_commit(), "source_hash": stamp,
            "rows_per_op": rec["rows"], "op_samples": len(rec["samples"]),
            "op_seconds": [s["seconds"] for s in rec["samples"]],
            "traced_seconds": [t["seconds"] for t in rec["traced"]],
            "setup_reps_gen_s": gen_times,
            "settle_s": rec["settle"]["seconds"],
            "errors": [s["error"] for s in [rec["cold"], rec["settle"]] + rec["samples"]
                       + rec["traced"] if s["error"]],
            "check_error": rec["check_error"], "oracle_failures": oracle_failures,
            "session": rec["session"], "cold_s": rec["cold"]["seconds"],
            "wall_s": time.monotonic() - began,
        }
        print(json.dumps({"record": record}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
