#!/usr/bin/env python3
"""Aggregate the CPU samples of a JDK Flight Recorder file by frame.

Usage:
  python3 tools/jfr_hotspots.py REC.jfr --bench-result RESULT.json
      [--caller java.util.Formatter ...] [--contains SUBSTR ...]

Reads `jdk.ExecutionSample` events through the JDK's `jfr print` (streamed,
so a large recording is never held in memory) at the recording depth DEPTH.
Keeps the samples of Spark's executor task threads (THREAD) taken after the
set-up: --bench-result reads the set-up seconds (session start, input
generation, warm-up) from the perfbench result file of the recorded run.
Prints:

- each frame's self share (top of stack) and inclusive share (anywhere in
  the stack, once per sample), the TOP of each;
- for each --caller prefix, the first `graft.` frame (outside the prefix)
  below the first frame that starts with it, with its line: who calls into
  that JDK code, or into that graft class;
- for each --contains substring, the share of samples with a frame whose
  name holds it, e.g. `--contains minhashSignature UTF8String.split
  java.util.regex` attributes the samples under a method or a JDK/Spark
  routine in one line each (Scala objects' frames read `Dedup$.name`).

Line numbers are approximate inside frames that C2 inlined: JFR charges an
inlined callee's samples to a nearby line of the caller, so a "hot line"
may be one that rarely runs. Before acting on a hot line, confirm it by
counting how often that line actually executes (e.g. a counter probe on a
seeded input). A profile once charged 6.5 % of the samples to the old
tokenizer's tag-name fallback, which ran 0.2 times per page.

Record with a stack depth of DEPTH (the default depth of 64 cuts regex and
Formatter stacks before their callers), e.g.
  JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions:stackdepth=512 \\
    -XX:StartFlightRecording=filename=/tmp/rec.jfr,settings=profile" \\
    python3 perfbench/run.py --workload extract_mix --seed 3 --seconds 6 --trace 0
  python3 tools/jfr_hotspots.py /tmp/rec.jfr \\
    --bench-result .bench_build/results/extract_mix-seed3-trace0.json
"""
import argparse
import collections
import json
import re
import subprocess
import sys

FRAME = re.compile(r"^\s+(\S+)\((.*?)\)(?:\s+line:\s*(-?\d+))?")
TIME = re.compile(r"startTime = (\d+):(\d+):(\d+(?:\.\d+)?)")
SAMPLED_THREAD = re.compile(r'sampledThread = "(.*)" \(')
DEPTH = 512
THREAD = "Executor task launch worker"
TOP = 25


def samples(path):
    """Yield (seconds since midnight, thread name, [(frame, line), ...] top first)."""
    cmd = ["jfr", "print", "--events", "jdk.ExecutionSample", "--stack-depth", str(DEPTH), path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    t, thread, frames, in_stack = None, None, [], False
    for line in proc.stdout:
        if line.startswith("jdk.ExecutionSample"):
            t, thread, frames, in_stack = None, None, [], False
        elif in_stack:
            m = FRAME.match(line)
            if m:
                frames.append((m.group(1), m.group(3)))
            elif line.strip() == "]":
                in_stack = False
        elif line.startswith("}"):
            if t is not None:
                yield t, thread or "", frames
        else:
            s = line.strip()
            if s.startswith("startTime"):
                m = TIME.search(s)
                if m:
                    t = int(m.group(1)) * 3600 + int(m.group(2)) * 60 + float(m.group(3))
            elif s.startswith("sampledThread"):
                m = SAMPLED_THREAD.search(s)
                thread = m.group(1) if m else s
            elif s.startswith("stackTrace = ["):
                in_stack = True
    if proc.wait() != 0:
        sys.exit("jfr print failed on %s" % path)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("jfr")
    ap.add_argument("--bench-result", required=True,
                    help="perfbench result JSON of the recorded run; its set-up seconds are dropped")
    ap.add_argument("--caller", action="append", default=[],
                    help="frame prefix, e.g. java.util.Formatter; repeatable")
    ap.add_argument("--contains", nargs="+", action="extend", default=[], metavar="SUBSTR",
                    help="print the share of samples with a frame name holding each SUBSTR")
    args = ap.parse_args()
    with open(args.bench_result) as f:
        r = json.load(f)
    skip = r["setup_session_s"] + sum(r["setup_generate_s"]) + r["setup_warmup_s"]

    self_n, incl_n = collections.Counter(), collections.Counter()
    callers = {p: collections.Counter() for p in args.caller}
    contains = collections.Counter()
    t0, kept, dropped = None, 0, 0
    for t, thread, frames in samples(args.jfr):
        if t0 is None:
            t0 = t
        if THREAD not in thread or not frames:
            continue
        if (t - t0) % 86400 < skip:
            dropped += 1
            continue
        kept += 1
        self_n[frames[0][0]] += 1
        names = {f for f, _ in frames}
        for name in names:
            incl_n[name] += 1
        for sub in args.contains:
            if any(sub in name for name in names):
                contains[sub] += 1
        for prefix, counter in callers.items():
            hit = next((i for i, (f, _) in enumerate(frames) if f.startswith(prefix)), None)
            if hit is None:
                continue
            caller = next(("%s:%s" % (f, line) for f, line in frames[hit + 1:]
                           if f.startswith("graft.") and not f.startswith(prefix)),
                          "(no graft. caller)")
            counter[caller] += 1

    print("%d %r samples kept, %d dropped in the first %.1f s" % (kept, THREAD, dropped, skip))
    if not kept:
        return
    for title, counter in (("self", self_n), ("inclusive", incl_n)):
        print("\n%s share (top %d)" % (title, TOP))
        for name, n in counter.most_common(TOP):
            print("  %5.1f%%  %6d  %s" % (100.0 * n / kept, n, name))
    for prefix, counter in callers.items():
        total = sum(counter.values())
        print("\nfirst graft. caller below %s (%d samples, %.1f%%)" % (prefix, total, 100.0 * total / kept))
        for name, n in counter.most_common(TOP):
            print("  %6d  %s" % (n, name))
    if args.contains:
        print("\nsamples with a frame containing")
        for sub in args.contains:
            n = contains[sub]
            print("  %5.1f%%  %6d  %s" % (100.0 * n / kept, n, sub))


if __name__ == "__main__":
    main()
