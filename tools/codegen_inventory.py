#!/usr/bin/env python3
"""Generated-class inventory of a Spark run, per rep.

    python3 tools/codegen_inventory.py codegen.log [--last N] [--detail REP]

Reads the log that tools/codegen-log4j2.properties writes (CodeGenerator at
DEBUG, FileFormatWriter at INFO, thread name on every record) and splits it
into segments at every write-job commit; in a perfbench run each rep ends
with its sink's commit, so every segment after the input generation is one
rep (its output check runs at the start of the next segment).

Spark's codegen cache is keyed by (context class loader, source). In local
mode the driver threads and the task threads have different loaders, so a
whole-stage class compiled on the driver for its compile check is compiled
again on a task thread. Per segment this prints:

    compiles   compile records (cache misses)
    sources    distinct generated sources
    keys       distinct (driver|task, source) cache keys compiled, split
               by side
    wsc/expr   keys of whole-stage classes vs expression classes
               (projections, orderings, predicates)
    changed    sources not compiled in the previous segment

and then, for each changed source, the most similar source of the previous
segment and their first differing line: a literal or counter baked into
generated code shows up there. The summary line gives medians over the
last N complete segments. --detail REP lists every key of segment REP with
the operators its code holds (from the variable prefixes Spark's codegen
uses: scan_, bhj_, agg_, smj_, ...).

Only misses are logged, so at the default cache size `keys` counts the
keys that were evicted before their reuse, not the whole working set, and
a key that hit in one rep and missed in the next reads as changed. For the
working set, run once (a measurement, not a setting to keep) with
-Dspark.sql.codegen.cache.maxEntries=1 added to JAVA_TOOL_OPTIONS: every
access then compiles, `keys` is every key the rep touches and `changed`
is exact.

Run a benchmark with the configuration, from the repository root:

    JAVA_TOOL_OPTIONS=-Dlog4j2.configurationFile=tools/codegen-log4j2.properties \\
      python3 perfbench/run.py --workload ops_cleanup --seed 3 --seconds 6 --trace 0
    python3 tools/codegen_inventory.py codegen.log
"""
import argparse
import hashlib
import re
import statistics
import sys

RECORD = re.compile(r"^@@ (\S+) \[(.*)\] (\w+) (\w+): (.*)$")
TASK_THREAD = "Executor task launch worker"
KIND = re.compile(r"class (GeneratedIteratorForCodegenStage|Specific\w+)")
STAGE_ID = re.compile(r"// codegenStageId=(\d+)")
OP_PREFIX = re.compile(r"\b([a-z]+)_[a-zA-Z]+[a-zA-Z0-9]*_\d+\b")


class Compile:
    def __init__(self, thread, source):
        self.thread = thread
        self.source = source
        self.digest = hashlib.sha256(source.encode()).hexdigest()[:12]
        m = KIND.search(source)
        self.kind = ("WholeStage" if m and m.group(1).startswith("Generated")
                     else m.group(1)[len("Specific"):] if m else "Unknown")
        self.side = "task" if thread.startswith(TASK_THREAD) else "driver"
        self.lines = source.count("\n")

    @property
    def key(self):
        return (self.side, self.digest)

    def operators(self):
        seen = []
        for p in OP_PREFIX.findall(self.source):
            if p not in seen:
                seen.append(p)
        return seen

    def stage(self):
        m = STAGE_ID.search(self.source)
        return m.group(1) if m else "-"


def records(path):
    """(thread, level, logger, message) per record; continuation lines are
    appended to the message."""
    cur = None
    with open(path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            m = RECORD.match(line.rstrip("\n"))
            if m:
                if cur:
                    yield cur
                cur = [m.group(2), m.group(3), m.group(4), m.group(5)]
            elif cur:
                cur[3] += "\n" + line.rstrip("\n")
    if cur:
        yield cur


def segments(path):
    """Compiles per segment; a segment ends at a write-job commit. The last
    segment, after the final commit, is returned too (incomplete)."""
    segs, cur = [], []
    for thread, level, logger, msg in records(path):
        if logger == "CodeGenerator" and level == "DEBUG":
            cur.append(Compile(thread, msg))
        elif logger == "FileFormatWriter" and " committed." in msg:
            segs.append(cur)
            cur = []
    segs.append(cur)
    return segs


def first_difference(a, b):
    for i, (x, y) in enumerate(zip(a.splitlines(), b.splitlines())):
        if x != y:
            return i, x.strip(), y.strip()
    return None


def summarize(seg, prev):
    keys = {c.key: c for c in seg}
    prev_sources = {c.digest for c in prev} if prev is not None else None
    changed = ([] if prev_sources is None else
               sorted({c.digest: c for c in seg if c.digest not in prev_sources}.values(),
                      key=lambda c: (c.kind, c.lines)))
    return {
        "compiles": len(seg),
        "sources": len({c.digest for c in seg}),
        "keys": len(keys),
        "driver": sum(1 for k in keys if k[0] == "driver"),
        "task": sum(1 for k in keys if k[0] == "task"),
        "wsc": sum(1 for c in keys.values() if c.kind == "WholeStage"),
        "expr": sum(1 for c in keys.values() if c.kind != "WholeStage"),
        "changed": changed,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log")
    ap.add_argument("--last", type=int, default=5,
                    help="complete segments the summary medians cover (default 5)")
    ap.add_argument("--detail", type=int, default=None,
                    help="list every cache key of this segment")
    a = ap.parse_args()

    segs = segments(a.log)
    complete = len(segs) - 1
    print("seg  compiles  sources  keys  driver  task  wsc  expr  changed")
    rows = []
    for i, seg in enumerate(segs):
        s = summarize(seg, segs[i - 1] if i > 0 else None)
        tag = "" if i < complete else "  (after the last commit)"
        print(f"{i:3d}  {s['compiles']:8d}  {s['sources']:7d}  {s['keys']:4d}  "
              f"{s['driver']:6d}  {s['task']:4d}  {s['wsc']:3d}  {s['expr']:4d}  "
              f"{len(s['changed']) if i > 0 else '-':>7}{tag}")
        if i < complete:
            rows.append(s)
    last = rows[-a.last:] if a.last > 0 else []
    if last:
        med = {k: statistics.median(r[k] for r in last)
               for k in ("compiles", "sources", "keys", "driver", "task", "wsc", "expr")}
        med["changed"] = statistics.median(len(r["changed"]) for r in last)
        print(f"median of the last {len(last)} complete segments: " +
              ", ".join(f"{k} {v:g}" for k, v in med.items()))
        start = complete - len(last)
        for i in range(max(1, start), complete):
            prev = {c.digest: c for c in segs[i - 1]}
            for c in rows[i]["changed"]:
                like = [p for p in prev.values() if p.kind == c.kind and p.lines == c.lines]
                diff = first_difference(c.source, like[0].source) if like else None
                where = (f"line {diff[0]}: {diff[1][:90]!r} (was {diff[2][:90]!r})"
                         if diff else "no source of the same kind and length before")
                print(f"  seg {i} changed {c.kind} ({c.lines} lines, {c.digest}): {where}")

    if a.detail is not None:
        seg = segs[a.detail]
        count = {}
        for c in seg:
            count[c.key] = count.get(c.key, 0) + 1
        firsts = {}
        for c in seg:
            firsts.setdefault(c.key, c)
        print(f"\nsegment {a.detail}: {len(firsts)} keys")
        for key, c in firsts.items():
            print(f"  {c.side:6s} {c.kind:18s} stage {c.stage():>3s} {c.lines:5d} lines "
                  f"x{count[key]} {c.digest}  {c.thread[:40]:40s} "
                  f"{' '.join(c.operators())[:120]}")


if __name__ == "__main__":
    sys.exit(main())
