#!/usr/bin/env python3
"""Spark jobs per benchmark call kind, from a Spark event log and an
omebench trace.

    python3 tools/jobs_per_call.py <event-log dir> \\
        .bench_build/omebench/traces/<workload>-<seed>.jsonl

Make both with one traced run, event logging switched on through system
properties (nothing in the benchmark changes):

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=file:$PWD/evlog" \\
      python3 omebench/run.py --workload ome --seed 7 --seconds 10 --trace 1

Every job the traced window starts carries the call's span id as the local
property `omebench.span`; the trace names each span's call kind. A job is
labelled by its result stage's call site: the API of the first frame
(`DataFrameReader.parquet` is a schema inference, `Dataset.head` a
`head()`, `hasNext` a `toLocalIterator` partition) and the first frame of
the code that called Spark. An adaptive query stage, which Spark submits
from its own threads, is labelled by its operator (`Exchange`,
`BroadcastExchange`) and its query's call site. Micro-batch jobs all carry
the stream's `start` call site.

For each call kind the script prints the number of traced calls, the
median jobs per call (the figure `scheduler.jobs` sums over a pass), and
each label's jobs per call with the median duration of its jobs. Event
logs compressed with zstd (Spark's default) are read through the `zstd`
command.
"""
import collections
import glob
import json
import os
import statistics
import subprocess
import sys

SPAN_KEY = "omebench.span"
# the first frame of a job Spark submits from its own thread pool
ASYNC = "withThreadLocalCaptured"


def event_lines(log_dir):
    """The JSON lines of every event-log file under `log_dir`."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(f)
                   and os.path.basename(f).startswith(("events_", "local-",
                                                       "app-")))
    if not files:
        sys.exit("no event-log files under %s" % log_dir)
    for f in files:
        if f.endswith(".zstd"):
            data = subprocess.run(["zstd", "-dc", f], check=True,
                                  stdout=subprocess.PIPE).stdout.decode()
        else:
            with open(f) as fh:
                data = fh.read()
        for line in data.splitlines():
            if line.strip():
                yield line


def frame_name(frame):
    """`pkg.Cls$.method(File.scala:12)` -> `Cls.method`."""
    qualified = frame.split("(", 1)[0]
    parts = qualified.split(".")
    return "%s.%s" % (parts[-2].rstrip("$"), parts[-1]) if len(parts) > 1 \
        else qualified


def call_site(details):
    """A call-site label: the API frame and the first frame of the code
    that called Spark."""
    frames = [f.strip() for f in details.splitlines() if f.strip()]
    if not frames:
        return "?"
    label = frame_name(frames[0])
    caller = next((f for f in frames
                   if not f.startswith(("org.apache.spark.", "scala.",
                                        "java."))), None)
    return label if caller is None else "%s @ %s" % (label, frame_name(caller))


def load_jobs(log_dir):
    """Job id -> (span id, call-site label, duration ms)."""
    starts, ends, queries = {}, {}, {}
    for line in event_lines(log_dir):
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            queries[str(e["executionId"])] = call_site(e.get("details", ""))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get(SPAN_KEY)
            if span is None:
                continue
            result = max(e["Stage Infos"], key=lambda s: s["Stage ID"])
            details = result.get("Details", "")
            starts[e["Job ID"]] = (span, details, props,
                                   e["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"]
    out = {}
    for j, (span, details, props, t0) in starts.items():
        label = call_site(details)
        query = queries.get(props.get("spark.sql.execution.id"))
        if ASYNC in details and query is not None:
            # an adaptive query stage, submitted from Spark's own thread
            # pool: name the stage's operator and the query's call site
            scope = json.loads(props.get("spark.rdd.scope", "{}"))
            label = "%s stage of %s" % (scope.get("name", "query"), query)
        out[j] = (span, label, ends.get(j, t0) - t0)
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    log_dir, trace = sys.argv[1], sys.argv[2]
    kinds = {}
    with open(trace) as fh:
        for line in fh:
            s = json.loads(line)
            if s["parent"] is None:
                kinds[s["span"]] = s["name"]
    jobs = load_jobs(log_dir)
    per_call = collections.defaultdict(collections.Counter)
    durations = collections.defaultdict(list)
    for span, label, ms in jobs.values():
        if span in kinds:
            per_call[span][label] += 1
            durations[(kinds[span], label)].append(ms)
    calls = collections.defaultdict(list)
    for span, kind in kinds.items():
        calls[kind].append(span)

    print("| call | calls | jobs/call | result-stage call site "
          "| jobs/call | median job ms |")
    print("|---|---|---|---|---|---|")
    total = 0.0
    for kind in sorted(calls):
        spans = calls[kind]
        med = statistics.median(sum(per_call[s].values()) for s in spans)
        total += med
        labels = collections.Counter()
        for s in spans:
            labels.update(per_call[s])
        first = True
        for label, n in labels.most_common():
            print("| %s | %s | %s | `%s` | %.1f | %.0f |" % (
                kind if first else "", len(spans) if first else "",
                "%g" % med if first else "", label, n / len(spans),
                statistics.median(durations[(kind, label)])))
            first = False
        if first:
            print("| %s | %d | 0 | | | |" % (kind, len(spans)))
    print("\nsum over call kinds of median jobs per call: %g" % total)


if __name__ == "__main__":
    main()
