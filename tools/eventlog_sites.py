#!/usr/bin/env python3
"""Per-call-site work of a Spark event log.

Usage: python3 tools/eventlog_sites.py <event log> [--ops N] [--prefix graft.]

Reads one Spark event log (plain JSON lines, or zstd-compressed through the
`zstd` CLI when the name ends in .zst/.zstd) and prints, for each call site,
the SQL queries, jobs, tasks, task CPU ms and task deserialize CPU ms it ran,
divided by N operations (default 1).

A call site is the first stack frame under `--prefix` (default `graft.`):
for a SQL execution, of its `SQLExecutionStart.details`; for a job outside
any SQL execution (an RDD action), of its first stage's call site. Jobs,
tasks and CPU of a SQL execution count at the execution's site.

To record a log, run the workload with
  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///<dir>"
(the directory must exist).
"""
import argparse
import collections
import json
import subprocess
import sys


def lines(path):
    if path.endswith((".zst", ".zstd")):
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             stdout=subprocess.PIPE).stdout
        return out.decode("utf-8").splitlines()
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def site(details, prefix):
    for frame in (details or "").splitlines():
        frame = frame.strip()
        if frame.startswith(prefix):
            return frame
    return "(no %s frame)" % prefix


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--ops", type=float, default=1.0,
                    help="operations in the log; every count is divided by it")
    ap.add_argument("--prefix", default="graft.")
    a = ap.parse_args()

    exec_site = {}
    stage_site = {}
    stats = collections.defaultdict(lambda: collections.Counter())
    for raw in lines(a.log):
        if not raw.strip():
            continue
        e = json.loads(raw)
        ev = e.get("Event", "")
        if ev.endswith("SparkListenerSQLExecutionStart"):
            s = site(e.get("details"), a.prefix)
            exec_site[str(e["executionId"])] = s
            stats[s]["queries"] += 1
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            xid = props.get("spark.sql.execution.id")
            infos = sorted(e.get("Stage Infos", []), key=lambda i: i["Stage ID"])
            if xid is not None and xid in exec_site:
                s = exec_site[xid]
            else:
                s = site(infos[-1].get("Details") if infos else "", a.prefix)
            stats[s]["jobs"] += 1
            for i in infos:
                stage_site[i["Stage ID"]] = s
        elif ev == "SparkListenerTaskEnd":
            s = stage_site.get(e.get("Stage ID"), "(unknown stage)")
            m = e.get("Task Metrics") or {}
            stats[s]["tasks"] += 1
            stats[s]["cpu_ns"] += m.get("Executor CPU Time", 0)
            stats[s]["deser_ns"] += m.get("Executor Deserialize CPU Time", 0)

    cols = ("queries", "jobs", "tasks")
    total = collections.Counter()
    rows = []
    for s, c in stats.items():
        total.update(c)
        rows.append((c["cpu_ns"], s, c))
    rows.sort(key=lambda r: (-r[0], r[1]))
    n = a.ops
    print("%8s %8s %8s %10s %10s  %s" % (cols + ("cpu_ms", "deser_ms", "site")))
    for _, s, c in rows + [(0, "TOTAL", total)]:
        print("%8.1f %8.1f %8.1f %10.1f %10.1f  %s" % (
            c["queries"] / n, c["jobs"] / n, c["tasks"] / n,
            c["cpu_ns"] / 1e6 / n, c["deser_ns"] / 1e6 / n, s))
    return 0


if __name__ == "__main__":
    sys.exit(main())
