"""The repo benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload ref_etl --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (build.py), runs the
workload in its own JVM, checks its outputs, and prints as the last line
of stdout one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``; names and units from BENCHMARK.json). The
full result record - samples, checks, stamps, and for traced runs the
spans - is written under ``.bench_results/``. Exits 1 if a check fails.
"""

import argparse
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import stats  # noqa: E402

DEADLINE_S = 170
# a ceiling only: the heap grows with what the workload keeps live. The
# serial collector sizes it from the live data after each collection
# (Min/MaxHeapFreeRatio), so peak resident memory follows the workload's
# allocation; G1 grows it by GC time, which moved the peak by up to a
# third between runs of the same workload.
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def git_commit():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def host_cpu_ticks():
    """(steal, total) CPU ticks of this host so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(classes, args, run_dir, deadline):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    jars = build.spark_jars()
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xmx{JVM_HEAP}", "-XX:+UseSerialGC",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}", "-Dspark.ui.enabled=false",
           "-cp", f"{classes}:{jars}/*", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", str(run_dir)]
    steal0 = host_cpu_ticks()
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=run_dir)

        def stop(signum, frame):
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {args.workload} did not finish in time; log in {run_dir}/jvm.log")
    if code != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-15:]
        raise SystemExit(f"perfbench: JVM exited {code}:\n" + "\n".join(tail))
    rec = json.loads((run_dir / "record.json").read_text())
    steal1 = host_cpu_ticks()
    if steal0 and steal1 and steal1[1] > steal0[1]:
        # the share of the host's CPU time taken from this VM while the
        # JVM ran: wall times from a run with a high share are slow
        rec["stamps"]["host_steal_share"] = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
    return rec


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    metric_specs = spec["per_layer"] if args.trace else spec["end_to_end"]

    classes, source_digest = build.build()
    build_s = time.monotonic() - start
    run_dir = ROOT / ".bench_runs" / f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    # a build may take its own budget; the run itself keeps the usual one
    rec = run_jvm(classes, args, run_dir, time.monotonic() + DEADLINE_S - min(build_s, 5.0))

    if args.trace:
        values = stats.per_layer(rec, [m["name"] for m in metric_specs])
        extra = {}
    else:
        values, extra = stats.end_to_end(rec)
    failed_checks = [k for k, ok in rec["checks"].items() if not ok]
    correct = not failed_checks and rec["failed"] == 0
    result = {
        "correct": correct,
        "attempted": max(1, rec["attempted"]),
        "failed": rec["failed"] + len(failed_checks),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metric_specs},
    }

    lat = rec["latency_ms"]
    detail = {
        "stamps": {**rec["stamps"], "git_commit": git_commit(), "source_sha256": source_digest,
                   "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
                   "jvm_heap": JVM_HEAP, "host": socket.gethostname()},
        "workload": args.workload,
        "result": result,
        "latency": {**extra, "ms": lat},
        "peak_heap_after_gc_mb": rec["peak_heap_after_gc_mb"],
        "setup": rec["setup"],
        "checks": rec["checks"],
        "errors": rec["errors"],
        "series_medians": {k: statistics.median(v) for k, v in rec["series"].items() if v},
        "trace": rec["trace_data"],
    }
    out = ROOT / ".bench_results" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(detail, indent=1))
    summary = {k: v for k, v in detail.items() if k != "trace"}
    print(json.dumps(summary), file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
