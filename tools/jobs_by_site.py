#!/usr/bin/env python3
"""Spark jobs grouped by call site, from one application's event log.

Usage: jobs_by_site.py <event log>

<event log> is what `spark.eventLog.dir` received for one application:
a single log file, or a rolling log directory (`eventlog_v2_<app>`,
read in file-index order). Files ending in .zst/.zstd are read through
`zstd -dc`; anything else is read as plain JSON lines. To record one
from any graft main or benchmark run, set

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///<dir>"

(SparkConf reads `spark.*` system properties).

A job's call site is the name of its last stage (the result stage, the
highest stage id of the job), which Spark sets to the short call site,
e.g. `parquet at Q.scala:127`. A job's time is its completion time minus
its submission time. Output: one row per call site, most jobs first,
with the job count and the summed job seconds, then a total row.
"""
import json
import os
import re
import subprocess
import sys
from collections import defaultdict


def _lines(path):
    if path.endswith((".zst", ".zstd")):
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             stdout=subprocess.PIPE).stdout
        return out.decode("utf-8").splitlines()
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def _files(path):
    if not os.path.isdir(path):
        return [path]
    rolled = [n for n in os.listdir(path) if n.startswith("events_")]

    def index(name):
        m = re.match(r"events_(\d+)_", name)
        return int(m.group(1)) if m else 0
    return [os.path.join(path, n) for n in sorted(rolled, key=index)]


def events(path):
    """Every event of the log, in order, as parsed JSON objects."""
    for f in _files(path):
        for line in _lines(f):
            if line.strip():
                yield json.loads(line)


def jobs_by_site(evs):
    """{site: (jobs, job seconds)} over the jobs that both started and
    ended in `evs`."""
    started = {}
    sites = defaultdict(lambda: [0, 0.0])
    for e in evs:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            last = max(e["Stage Infos"], key=lambda s: s["Stage ID"])
            started[e["Job ID"]] = (last["Stage Name"], e["Submission Time"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in started:
            site, t0 = started.pop(e["Job ID"])
            row = sites[site]
            row[0] += 1
            row[1] += (e["Completion Time"] - t0) / 1000.0
    return {s: (n, t) for s, (n, t) in sites.items()}


def render(table):
    rows = sorted(table.items(), key=lambda kv: (-kv[1][0], -kv[1][1], kv[0]))
    out = [f"{'jobs':>6} {'job_s':>9}  site"]
    out += [f"{n:>6} {t:>9.3f}  {s}" for s, (n, t) in rows]
    out.append(f"{sum(n for n, _ in table.values()):>6} "
               f"{sum(t for _, t in table.values()):>9.3f}  (total)")
    return "\n".join(out)


def main(argv):
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    print(render(jobs_by_site(events(argv[0]))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
