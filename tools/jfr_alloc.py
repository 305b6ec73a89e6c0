#!/usr/bin/env python3
"""Bucket a JFR allocation profile by engine subsystem.

Reads the `jdk.ObjectAllocationSample` events of a recording and sums
their weights (the bytes each sample stands for) into one bucket per
sample: the first subsystem in RULES, in list order, that has a frame on
the sample's stack. Order matters where subsystems nest: a broadcast
serializes through Spark's serializer, so "broadcast" is listed before
"serialization"; the Tungsten page a sort takes is "pages", whatever
operator asked for it.

    # record (any JVM that inherits JAVA_TOOL_OPTIONS, e.g. a perfbench run)
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/r.jfr \\
      python3 perfbench/run.py --workload ref_etl --seed N --seconds 16 --trace 0
    python3 tools/jfr_alloc.py /tmp/r.jfr            # runs `jfr print` itself
    python3 tools/jfr_alloc.py alloc.json --top 15   # or a saved
        # `jfr print --json --stack-depth 64 --events jdk.ObjectAllocationSample` dump

`--top N` also lists, for the "other" bucket, the N heaviest innermost
frames outside the JDK and the Scala library, to see what a new rule
should catch. `jfr print` keeps 5 frames per stack by default, too few
to reach the subsystem frame of most samples; a .jfr input is printed
with 64.
"""

import argparse
import json
import subprocess
import sys
from collections import Counter

# (bucket, class-name prefix, part of the method name or None for any
#  method, "class.method" the frame must be called from or None)
RULES = [
    ("pages", "org/apache/spark/memory/TaskMemoryManager", "allocatePage", None),
    ("pages", "org/apache/spark/unsafe/memory/HeapMemoryAllocator", None, None),
    ("broadcast", "org/apache/spark/broadcast/", None, None),
    ("task serialization", "org/apache/spark/scheduler/TaskSetManager", None, None),
    ("task serialization", "org/apache/spark/scheduler/DAGScheduler", "submitMissingTasks", None),
    ("task serialization", "org/apache/spark/serializer/", None,
     "org/apache/spark/executor/Executor$TaskRunner.run"),
    ("parquet writer", "org/apache/spark/sql/execution/datasources/parquet/ParquetOutputWriter", None, None),
    ("parquet writer", "org/apache/parquet/hadoop/InternalParquetRecordWriter", None, None),
    ("parquet writer", "org/apache/parquet/hadoop/ParquetFileWriter", None, None),
    ("parquet reader", "org/apache/spark/sql/execution/datasources/parquet/", None, None),
    ("parquet reader", "org/apache/parquet/", None, None),
    ("WordPiece", "graft/functions/WordPieceTokenize", None, None),
    ("npy decode", "graft/functions/NpyDecode", None, None),
    ("npy decode", "graft/io/Npy", None, None),
    ("json", "org/apache/spark/sql/catalyst/json/", None, None),
    ("json", "com/fasterxml/jackson/", None, None),
    ("codegen compile", "org/codehaus/", None, None),
    ("codegen compile", "org/apache/spark/sql/catalyst/expressions/codegen/", None, None),
    ("shuffle", "org/apache/spark/shuffle/", None, None),
    ("block manager", "org/apache/spark/storage/", None, None),
    ("listeners / status", "org/apache/spark/status/", None, None),
    ("listeners / status", "org/apache/spark/scheduler/AsyncEventQueue", None, None),
    ("catalyst planning", "org/apache/spark/sql/catalyst/rules/RuleExecutor", None, None),
    ("query execution", "org/apache/spark/sql/execution/QueryExecution", None, None),
    ("generated row code", "org/apache/spark/sql/catalyst/expressions/GeneratedClass", None, None),
    ("result collection", "org/apache/spark/sql/execution/SparkPlan", "getByteArrayRdd", None),
    ("result collection", "org/apache/spark/sql/execution/SparkPlan", "decodeUnsafeRows", None),
    ("closure cleaning", "org/apache/spark/util/ClosureCleaner", None, None),
    ("compression", "net/jpountz/", None, None),
    ("compression", "com/github/luben/zstd/", None, None),
    ("serialization", "org/apache/spark/serializer/", None, None),
    ("class loading", "jdk/internal/loader/", None, None),
    ("class loading", "java/lang/ClassLoader", None, None),
    ("hadoop", "org/apache/hadoop/", None, None),
    ("graft (other)", "graft/", None, None),
    ("perfbench", "perfbench/", None, None),
]


def load_events(path):
    if path.endswith(".jfr"):
        out = subprocess.run(
            ["jfr", "print", "--json", "--stack-depth", "64",
             "--events", "jdk.ObjectAllocationSample", path],
            check=True, capture_output=True, text=True).stdout
        doc = json.loads(out)
    else:
        with open(path) as f:
            doc = json.load(f)
    return [e["values"] for e in doc["recording"]["events"]
            if e["type"] == "jdk.ObjectAllocationSample"]


def frames_of(event):
    trace = event.get("stackTrace") or {}
    return [(f["method"]["type"]["name"], f["method"]["name"]) for f in trace.get("frames", [])]


def bucket(frames):
    callers = [f"{c}.{m}" for c, m in frames[1:]] + [None]
    for name, cls, method, caller in RULES:
        if any(c.startswith(cls) and (method is None or method in m)
               and (caller is None or up == caller)
               for (c, m), up in zip(frames, callers)):
            return name
    return "other"


def first_own_frame(frames):
    """The innermost frame outside the JDK and the Scala library."""
    for c, m in frames:
        if not c.startswith(("java/", "jdk/", "sun/", "scala/")):
            return f"{c}.{m}"
    return "%s.%s" % frames[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording", help=".jfr file, or a `jfr print --json` dump")
    ap.add_argument("--top", type=int, default=0,
                    help="list the N heaviest own frames of the 'other' bucket")
    args = ap.parse_args()

    events = load_events(args.recording)
    if not events:
        sys.exit("jfr_alloc: no jdk.ObjectAllocationSample events in the recording")
    weight, count, other = Counter(), Counter(), Counter()
    for e in events:
        fr = frames_of(e)
        b = bucket(fr)
        weight[b] += e["weight"]
        count[b] += 1
        if b == "other" and fr:
            other[first_own_frame(fr)] += e["weight"]
    total = sum(weight.values())
    print(f"{'bucket':<22} {'MB':>10} {'share':>7} {'samples':>8}")
    for b, w in weight.most_common():
        print(f"{b:<22} {w / 2**20:>10.1f} {w / total:>7.1%} {count[b]:>8}")
    print(f"{'total':<22} {total / 2**20:>10.1f} {1:>7.1%} {len(events):>8}")
    if args.top:
        print("\nheaviest own frames in 'other':")
        for f, w in other.most_common(args.top):
            print(f"  {w / 2**20:>10.1f} MB  {f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
