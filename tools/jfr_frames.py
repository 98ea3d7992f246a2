#!/usr/bin/env python3
"""Inclusive sample counts of named frames in a JFR recording, per thread group.

Usage:
    python3 tools/jfr_frames.py REC.jfr|REC.json [--from S] [--to S]
        [--frame NAME ...] [--group LABEL=REGEX ...] [--events TYPE,...]

A `.jfr` is exported with
    jfr print --json --stack-depth 64 --events <TYPES> REC.jfr
(the default stack depth of 5 hides the callers); a `.json` is read as such
an export. Events are streamed one at a time: an export of a minute-long
profile runs to gigabytes.

For each thread group the tool prints its sample count in the window and,
for each NAME, the samples whose stack holds a frame `<class>.<method>`
equal to NAME or ending in `.NAME` (inclusive: a sample counts once however
many of its frames match). `--from`/`--to` are seconds after the first
exported event. Threads are grouped by the first `--group` whose regex
matches the thread's Java name (default: `task` = Spark executor task
threads, `driver` = `main` and the engine's `graft-*` threads); the rest
are `other`.

Example, attributing the write-path permission calls of a benchmark run:
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/ij.jfr,settings=profile \\
      python3 perfbench/run.py --workload ingest-join --seed 9173 --seconds 12 --trace 0
    python3 tools/jfr_frames.py /tmp/ij.jfr \\
      --frame RawLocalFileSystem.setPermission \\
      --frame NioRawLocalFileSystem.setPermission --frame ProcessImpl.forkAndExec
"""
import argparse
import datetime
import json
import re
import subprocess
import sys

DEFAULT_EVENTS = "jdk.ExecutionSample,jdk.NativeMethodSample"
DEFAULT_GROUPS = [("task", r"^Executor task launch worker"),
                  ("driver", r"^(main|graft-.*)$")]
CHUNK = 1 << 20


def events(stream):
    """Yield the objects of the recording's "events" array one at a time."""
    dec = json.JSONDecoder()
    buf = ""
    while True:                       # skip to the array's opening bracket
        chunk = stream.read(CHUNK)
        if not chunk:
            return
        buf += chunk
        i = buf.find('"events"')
        j = buf.find("[", i) if i >= 0 else -1
        if j >= 0:
            buf = buf[j + 1:]
            break
    pos, eof = 0, False
    while True:
        while pos < len(buf) and buf[pos] in " \t\r\n,":
            pos += 1
        if pos < len(buf) and buf[pos] == "]":
            return
        try:
            if pos >= len(buf):
                raise json.JSONDecodeError("need input", buf, pos)
            obj, pos = dec.raw_decode(buf, pos)
            yield obj
        except json.JSONDecodeError:
            if eof:
                raise
            chunk = stream.read(CHUNK)
            eof = not chunk
            buf, pos = buf[pos:] + chunk, 0


def timestamp(s):
    """Seconds since the epoch of a JFR ISO time (nanoseconds cut to micros)."""
    m = re.match(r"(.*T\d\d:\d\d:\d\d)(?:\.(\d+))?Z$", s)
    t = datetime.datetime.fromisoformat(m.group(1)).replace(tzinfo=datetime.timezone.utc)
    return t.timestamp() + (float("0." + m.group(2)) if m.group(2) else 0.0)


def frame_names(ev):
    frames = ((ev.get("values") or {}).get("stackTrace") or {}).get("frames") or []
    for f in frames:
        m = f.get("method") or {}
        cls = ((m.get("type") or {}).get("name") or "").replace("/", ".")
        yield f"{cls}.{m.get('name', '')}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--from", dest="t0", type=float, default=0.0)
    ap.add_argument("--to", dest="t1", type=float, default=float("inf"))
    ap.add_argument("--frame", action="append", default=[])
    ap.add_argument("--group", action="append", default=[],
                    help="LABEL=REGEX over the thread's Java name")
    ap.add_argument("--events", default=DEFAULT_EVENTS)
    a = ap.parse_args()
    groups = [tuple(g.split("=", 1)) for g in a.group] or DEFAULT_GROUPS
    groups = [(label, re.compile(rx)) for label, rx in groups]
    wanted = set(a.events.split(","))

    if a.recording.endswith(".json"):
        proc, stream = None, open(a.recording, encoding="utf-8")
    else:
        proc = subprocess.Popen(
            ["jfr", "print", "--json", "--stack-depth", "64", "--events", a.events,
             a.recording], stdout=subprocess.PIPE, encoding="utf-8")
        stream = proc.stdout

    labels = [g[0] for g in groups] + ["other"]
    totals = {g: 0 for g in labels}
    hits = {g: {f: 0 for f in a.frame} for g in labels}
    first = last = None
    for ev in events(stream):
        if ev.get("type") not in wanted:
            continue
        v = ev.get("values") or {}
        t = timestamp(v["startTime"])
        first = t if first is None else first
        last = t
        if not a.t0 <= t - first < a.t1:
            continue
        name = (v.get("sampledThread") or {}).get("javaName") or ""
        g = next((label for label, rx in groups if rx.search(name)), "other")
        totals[g] += 1
        names = list(frame_names(ev))
        for f in a.frame:
            if any(n == f or n.endswith("." + f) for n in names):
                hits[g][f] += 1
    if proc is not None and proc.wait() != 0:
        sys.exit(f"jfr print exited {proc.returncode}")
    if first is None:
        sys.exit("no samples of " + a.events)

    span = last - first
    print(f"window {a.t0:g}-{min(a.t1, span):.1f} s of {span:.1f} s; events {a.events}")
    w = max([len(f) for f in a.frame] + [8])
    print(f"{'group':8} {'samples':>8}  " + "  ".join(f"{f:>{w}}" for f in a.frame))
    for g in labels:
        if not totals[g]:
            continue
        cells = [f"{hits[g][f]} ({100.0 * hits[g][f] / totals[g]:.1f}%)" for f in a.frame]
        print(f"{g:8} {totals[g]:8d}  " + "  ".join(f"{c:>{w}}" for c in cells))


if __name__ == "__main__":
    main()
