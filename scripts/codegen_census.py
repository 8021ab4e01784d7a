#!/usr/bin/env python3
"""Count Spark's generated-code compiles from a CodeGenerator DEBUG log.

Run a Spark JVM with scripts/log4j2-codegen.xml as its log4j2 config; it
logs each source CodeGenerator compiles (DEBUG, on the compiling thread)
followed by "Code generated in N ms" (INFO, same thread). This script
pairs the two per thread and prints:

  - compiles, distinct sources and the total compile ms;
  - the compiles (and their ms) of a source that an earlier compile in the
    same log had already compiled: work a large enough codegen cache would
    not have done;
  - the same split by the compiling thread: a task thread ("Executor task
    launch worker ..."), a streaming query's thread ("stream execution
    thread ..."), or another driver thread;
  - the sources that cost the most, by total ms.

A source is identified by the text the log holds for it. Spark truncates a
logged source to spark.sql.codegen.logging.maxLines lines (1000) and says
so with the total line count, so two long sources that share their first
1000 lines and their length count as one.

Usage:
  python3 scripts/codegen_census.py LOG [LOG ...]

The log is the file scripts/log4j2-codegen.xml writes (its codegen.log
system property); README, "Performance notes", has the command.
"""
import argparse
import hashlib
import re
import sys
from collections import defaultdict

# a thread name may hold brackets ("stream execution thread for [id = ...]")
HEAD = re.compile(r"^\d\d:\d\d:\d\d\.\d{3} (TRACE|DEBUG|INFO|WARN|ERROR|FATAL) "
                  r"\[(.*)\] (\S+): ?(.*)$")
DONE = re.compile(r"Code generated in ([0-9.]+) ms")
CLASS = re.compile(r"^/\* \d+ \*/ +(?:final |public |private |static )*class (\w+)", re.M)


def thread_kind(t):
    if t.startswith("Executor task launch worker"):
        return "task"
    if t.startswith("stream execution thread"):
        return "stream"
    return "driver"


def records(lines):
    """(level, thread, logger, text) per log record; continuation lines
    (the body of a logged source) belong to the record above them."""
    cur = None
    for ln in lines:
        m = HEAD.match(ln.rstrip("\n"))
        if m:
            if cur:
                yield cur
            cur = [m.group(1), m.group(2), m.group(3), [m.group(4)]]
        elif cur:
            cur[3].append(ln.rstrip("\n"))
    if cur:
        yield cur


def compiles(paths):
    """(thread, source digest, class name, source chars, ms) per compile, in
    log order."""
    pending = {}
    out = []
    for p in paths:
        with open(p, errors="replace") as f:
            for level, thread, logger, body in records(f):
                if logger != "CodeGenerator":
                    continue
                text = "\n".join(body)
                if level == "DEBUG":
                    m = CLASS.search(text)
                    pending[thread] = (hashlib.sha1(text.encode()).hexdigest(),
                                       m.group(1) if m else "?", len(text))
                elif level == "INFO":
                    d = DONE.search(text)
                    if d and thread in pending:
                        h, cls, n = pending.pop(thread)
                        out.append((thread, h, cls, n, float(d.group(1))))
    return out


TOP = 10  # sources listed by total ms


def census(cs):
    seen = set()
    by_src = defaultdict(lambda: [0, 0.0, "", 0])
    kinds = defaultdict(lambda: [0, 0.0, 0, 0.0])  # compiles, ms, recompiles, recompile ms
    total = [0, 0.0, 0, 0.0]
    for thread, h, cls, n, ms in cs:
        again = h in seen
        seen.add(h)
        for acc in (total, kinds[thread_kind(thread)]):
            acc[0] += 1
            acc[1] += ms
            if again:
                acc[2] += 1
                acc[3] += ms
        s = by_src[h]
        s[0] += 1
        s[1] += ms
        s[2], s[3] = cls, n

    def row(a):
        return {"compiles": a[0], "ms": round(a[1], 1),
                "recompiles": a[2], "recompile_ms": round(a[3], 1)}

    return {
        **row(total),
        "distinct_sources": len(seen),
        "by_thread": {k: row(v) for k, v in sorted(kinds.items())},
        "top_sources": [
            {"class": c, "chars": n, "compiles": k, "ms": round(ms, 1), "digest": h[:12]}
            for h, (k, ms, c, n) in sorted(by_src.items(), key=lambda kv: -kv[1][1])[:TOP]],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("logs", nargs="+")
    r = census(compiles(ap.parse_args().logs))
    print(f"compiles {r['compiles']}  distinct sources {r['distinct_sources']}  "
          f"compile {r['ms'] / 1000:.2f} s")
    share = 100.0 * r["recompile_ms"] / r["ms"] if r["ms"] else 0.0
    print(f"re-compiles of an already compiled source: {r['recompiles']}  "
          f"{r['recompile_ms'] / 1000:.2f} s ({share:.0f}% of compile time)")
    for k, v in r["by_thread"].items():
        print(f"  {k:7s} threads: {v['compiles']:5d} compiles  {v['ms'] / 1000:7.2f} s  "
              f"(re-compiles {v['recompiles']}, {v['recompile_ms'] / 1000:.2f} s)")
    if r["top_sources"]:
        print("costliest sources (total ms):")
        for s in r["top_sources"]:
            print(f"  {s['ms']:9.1f} ms  {s['compiles']:4d} x  {s['chars']:7d} chars  "
                  f"{s['class']}  {s['digest']}")


if __name__ == "__main__":
    sys.exit(main())
