#!/usr/bin/env python3
"""Compare two `graft.Explain` outputs key by key, ignoring what changes
from run to run or with a code move: expression ids (#N), plan ids,
object hashes, RDD numbers, the source line of an RDD's call site, and
sbt / Spark log lines. Prints the first differing key and line and
exits 1 on any difference, else the key count and exits 0.
Usage: plan_diff.py <explain_a.txt> <explain_b.txt>
"""
import re
import sys

MASKS = [(re.compile(p), r) for p, r in [
    (r"#\d+L?", "#N"), (r"plan_id=\d+", "plan_id=N"),
    (r"@[0-9a-f]{4,}", "@H"), (r"RDD\[\d+\]", "RDD[N]"),
    (r"\.scala:\d+", ".scala:N")]]
HEADER = re.compile(r"========== (\S+) ==========")
NOISE = re.compile(r"^(\[(success|warn|error)\]|\d\d/\d\d/\d\d \d\d:\d\d:\d\d )")


def plans(path):
    out, key = {}, None
    for line in open(path, encoding="utf-8", errors="replace"):
        line = re.sub(r"^\[info\] ", "", line.rstrip("\n"))
        if HEADER.search(line):
            key = HEADER.search(line).group(1)
            out[key] = []
        elif key is not None and not NOISE.match(line):
            for pat, rep in MASKS:
                line = pat.sub(rep, line)
            out[key].append(line)
    return out


a, b = plans(sys.argv[1]), plans(sys.argv[2])
for key in sorted(set(a) | set(b)):
    la, lb = a.get(key, ["<missing key>"]), b.get(key, ["<missing key>"])
    if la != lb:
        i = next((i for i, (x, y) in enumerate(zip(la, lb)) if x != y), min(len(la), len(lb)))
        print(f"first difference: {key} (line {i + 1})")
        print("  a:", la[i] if i < len(la) else "<end of plan>")
        print("  b:", lb[i] if i < len(lb) else "<end of plan>")
        sys.exit(1)
print(f"plans identical over {len(a)} keys")
