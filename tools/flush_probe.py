#!/usr/bin/env python3
"""Time the three file operations whose cost tells a slow-flush disk from a
fast one.

On ext4 (default `auto_da_alloc`), renaming a file over an existing name and
truncating a non-empty file before rewriting it both start writeback of the
new data and wait for it; renaming to a name that does not exist yet does
not. When the disk's flush is slow, the first two cost milliseconds each and
the third stays in microseconds. The ingest path creates only new files, so
only the third kind sits on it.

    python3 tools/flush_probe.py [DIR]

DIR defaults to the current directory; the probe works in a fresh temporary
subdirectory of it and removes that afterwards. It runs 3 rounds of 30
operations each, printing one line per round and operation (ms/op), then
one JSON line with each operation's median over the rounds.
"""
import json
import os
import statistics
import sys
import tempfile
import time


def rename_over(d, n):
    dst = os.path.join(d, "over")
    with open(dst, "w") as f:
        f.write("0")
    t0 = time.perf_counter()
    for i in range(n):
        tmp = os.path.join(d, f"over.{i}.tmp")
        with open(tmp, "w") as f:
            f.write(str(i))
        os.rename(tmp, dst)
    return time.perf_counter() - t0


def truncate_rewrite(d, n):
    p = os.path.join(d, "trunc")
    with open(p, "w") as f:
        f.write("0")
    t0 = time.perf_counter()
    for i in range(n):
        with open(p, "w") as f:  # O_TRUNC on a non-empty file
            f.write(str(i))
    return time.perf_counter() - t0


def rename_new(d, n):
    t0 = time.perf_counter()
    for i in range(n):
        tmp = os.path.join(d, f"new.{i}.tmp")
        with open(tmp, "w") as f:
            f.write(str(i))
        os.rename(tmp, os.path.join(d, f"new-{i}"))
    return time.perf_counter() - t0


ROUNDS = 3
OPS = 30
PROBES = [("rename_over_ms", rename_over), ("truncate_rewrite_ms", truncate_rewrite),
          ("rename_new_ms", rename_new)]


def main():
    base = sys.argv[1] if len(sys.argv) > 1 else "."
    per_op = {name: [] for name, _ in PROBES}
    for r in range(ROUNDS):
        for name, fn in PROBES:
            with tempfile.TemporaryDirectory(prefix="flush_probe.", dir=base) as d:
                ms = fn(d, OPS) * 1000.0 / OPS
            per_op[name].append(ms)
            print(f"round {r + 1} {name} {ms:.3f}")
    print(json.dumps({name: round(statistics.median(v), 3) for name, v in per_op.items()}))


if __name__ == "__main__":
    main()
