#!/usr/bin/env python3
"""Per-cycle timeline of the LayeredPipeline hops from a Spark event log.

Usage:
    python3 scripts/hop_timeline.py EVENT_LOG [--names h1,h2,...]

EVENT_LOG is an uncompressed event log: one file, an `eventlog_v2_*`
directory (its rolled `events_N_*` files are read in order), or a
directory of either, one application each. Turn the log on for any JVM,
the benchmark harness included, without touching its code:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
      -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:///tmp/ev"

Each hop's micro-batches come from the streaming progress events. A hop
is named from its sources: `LedgerSource[<topic>]` descriptions map to
the hop that consumes those topics, and the two visit-log consumers are
told apart by F2's map state (T2 has none). `--names` instead names the
queries in the order they started, repeating the list for every set-up
(needed for logs whose sources do not print their topic).

A cycle starts with an `ods_dwd` batch that read rows (the ODS
append). For each cycle it prints every hop batch that started in it:
start and end in ms after the cycle start, trigger (`triggerExecution`)
and `addBatch` ms, input rows, and for stateful hops the state store's
put and get counts, timers registered and fired, and timer-processing ms
(summed over partitions). The cycle's last line is when its last batch
ended.
"""
import argparse
import datetime as dt
import json
import os
import re
import sys

TOPIC_HOPS = {
    ("dwd_order_info",): "dwd_order_wide",
    ("dwd_page_log",): "dwd_keyword",
    ("dwm_order_wide",): "dwm_gmv",
    ("dwm_unique_visit", "dwm_user_jump"): "dwm_visitor",
}


def log_files(path):
    """One list of event-log files per application under `path`."""
    if os.path.isfile(path):
        return [[path]]
    names = sorted(os.listdir(path))
    parts = [n for n in names if n.startswith("events_")]
    if parts:
        parts.sort(key=lambda n: int(n.split("_")[1]))
        return [[os.path.join(path, n) for n in parts]]
    apps = []
    for n in names:
        if not n.startswith("."):
            apps.extend(log_files(os.path.join(path, n)))
    return apps


def hop_name(progress):
    """The hop a progress event belongs to, or None when unknown."""
    descs = [s["description"] for s in progress["sources"]]
    if any(d.startswith("MemoryStream") for d in descs):
        return "ods_dwd"
    topics = tuple(sorted(m.group(1) for d in descs
                          for m in [re.match(r"LedgerSource\[(.+)\]$", d)] if m))
    if topics == ("dwd_visit_log",):
        ops = progress["stateOperators"]
        maps = sum(o["customMetrics"].get("numMapStateVars", 0) for o in ops)
        return "dwd_uv" if maps else "dwd_jump"
    return TOPIC_HOPS.get(topics)


def epoch_ms(iso):
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def read_app(files, names):
    """(app id, [batch dicts]) of one application's log."""
    app, started, batches = "?", {}, []
    for f in files:
        with open(f, errors="replace") as fh:
            for line in fh:
                if "StreamingQueryListener" not in line and "ApplicationStart" not in line:
                    continue
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerApplicationStart":
                    app = e.get("App ID", app)
                elif ev.endswith("QueryStartedEvent"):
                    started.setdefault(e["runId"], len(started))
                elif ev.endswith("QueryProgressEvent"):
                    p = e["progress"]
                    name = (names[started.get(p["runId"], 0) % len(names)] if names
                            else hop_name(p)) or "query-" + p["id"][:8]
                    ops = p["stateOperators"]

                    def cm(k):
                        return sum(o["customMetrics"].get(k, 0) for o in ops)
                    start = epoch_ms(p["timestamp"])
                    batches.append({
                        "hop": name, "batch": p["batchId"], "start": start,
                        "end": start + p["batchDuration"],
                        "trigger": p["durationMs"].get("triggerExecution", 0),
                        "add": p["durationMs"].get("addBatch", 0),
                        "rows": p.get("numInputRows",
                                      sum(s["numInputRows"] for s in p["sources"])),
                        "state": bool(ops), "puts": cm("rocksdbPutCount"),
                        "gets": cm("rocksdbGetCount"),
                        "reg": cm("numRegisteredTimers"),
                        "fired": cm("numExpiredTimers"),
                        "timer_ms": cm("timerProcessingTimeMs")})
    batches.sort(key=lambda b: b["start"])
    return app, batches


def print_app(app, batches):
    print(f"app {app}: {len(batches)} hop batches")
    starts = [b["start"] for b in batches if b["hop"] == "ods_dwd" and b["rows"] > 0]
    if not starts:
        print("  no ods_dwd batch with rows: no cycles")
        return
    head = (f"  {'start':>7} {'end':>7}  {'hop':<15} {'batch':>5} {'rows':>6} "
            f"{'trigger':>7} {'addBatch':>8} {'puts':>7} {'gets':>7} "
            f"{'t.reg':>6} {'t.fired':>7} {'timer_ms':>8}")
    groups = [("before cycle 1", None, [b for b in batches if b["start"] < starts[0]])]
    for i, s in enumerate(starts):
        nxt = starts[i + 1] if i + 1 < len(starts) else float("inf")
        groups.append((f"cycle {i + 1}", s,
                       [b for b in batches if s <= b["start"] < nxt]))
    for title, t0, bs in groups:
        if not bs:
            continue
        t0 = bs[0]["start"] if t0 is None else t0
        print(f"{title} ({len(bs)} batches)")
        print(head)
        for b in bs:
            state = (f"{b['puts']:>7} {b['gets']:>7} {b['reg']:>6} {b['fired']:>7} "
                     f"{b['timer_ms']:>8}" if b["state"] else "")
            print(f"  {b['start'] - t0:>7.0f} {b['end'] - t0:>7.0f}  {b['hop']:<15} "
                  f"{b['batch']:>5} {b['rows']:>6} {b['trigger']:>7} {b['add']:>8} "
                  f"{state}".rstrip())
        print(f"  last batch ended at {max(b['end'] for b in bs) - t0:.0f} ms")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", help="event-log file or directory")
    ap.add_argument("--names", default="",
                    help="comma-separated hop names in query start order")
    a = ap.parse_args()
    names = [n for n in a.names.split(",") if n]
    apps = log_files(a.log)
    if not apps:
        sys.exit(f"no event log under {a.log}")
    for files in apps:
        print_app(*read_app(files, names))


if __name__ == "__main__":
    main()
