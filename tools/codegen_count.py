#!/usr/bin/env python3
"""Count Spark's Janino compiles in a CodeGenerator log written through
tools/codegen-log4j2.properties.

    python3 tools/codegen_count.py /tmp/graft_codegen.log [trace.json]

Prints one JSON object: `compiles` ("Code generated in" lines),
`compile_ms` (their sum), `distinct_sources` (distinct SHA-256 of the
DEBUG source blocks), `times_compiled` (how many sources were compiled
n times, keyed by n). With a perfbench trace (`--trace 1`), also
`per_pass`: the compiles in each traced mix pass, a pass running from
its first operation's start to the next pass's first start (the last
pass ends at its last operation's end).
"""
import collections
import hashlib
import json
import re
import sys

HEAD = re.compile(r"^@@ (\d+) (\w+) ")
TOOK = re.compile(r"Code generated in ([0-9.]+) ms")


def parse(path):
    """(compile events as (epoch ms, ms taken), source hashes)."""
    compiles, sources, block = [], [], None

    def close():
        if block is not None:
            sources.append(hashlib.sha256("".join(block).encode()).hexdigest())

    with open(path, errors="replace") as fh:
        for line in fh:
            m = HEAD.match(line)
            if not m:
                if block is not None:
                    block.append(line)
                continue
            close()
            block = [] if m.group(2) == "DEBUG" else None
            took = TOOK.search(line)
            if took:
                compiles.append((int(m.group(1)), float(took.group(1))))
    close()
    return compiles, sources


def passes(trace_path, ops_per_pass=7):
    with open(trace_path) as fh:
        spans = json.load(fh)["spans"]
    q = sorted((s for s in spans if s["kind"] == "query"), key=lambda s: s["start_ms"])
    groups = [q[i:i + ops_per_pass] for i in range(0, len(q), ops_per_pass)]
    bounds = []
    for i, g in enumerate(groups):
        end = groups[i + 1][0]["start_ms"] if i + 1 < len(groups) else g[-1]["end_ms"]
        bounds.append((g[0]["start_ms"], end))
    return bounds


def main(argv):
    compiles, sources = parse(argv[1])
    times = collections.Counter(collections.Counter(sources).values())
    out = {"compiles": len(compiles),
           "compile_ms": round(sum(ms for _, ms in compiles), 1),
           "distinct_sources": len(set(sources)),
           "times_compiled": {str(n): times[n] for n in sorted(times)}}
    if len(argv) > 2:
        out["per_pass"] = [sum(1 for t, _ in compiles if a <= t < b)
                           for a, b in passes(argv[2])]
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv)
