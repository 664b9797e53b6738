#!/usr/bin/env python3
"""Compare benchmark reports taken under one run config.

    python3 perfbench/compare.py BASE.json [BASE2.json ...] -- NEW.json [NEW2.json ...]

Each file is a report run.py writes to .bench_build/results/. All reports
must share the workload, trace mode, run length and machine config (nproc,
Spark master, heap, Spark version, analytics scale factor, offered rate);
only the seed may differ. A mix is refused with the fields that differ, so
two configs are never compared silently. Prints each metric's median on
both sides, the new/base ratio and, given four or more base reports, their
spread (inter-quartile range over median): a ratio inside that spread is
not resolved.
"""
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

MAY_DIFFER = {"seed", "git_head", "source_digest"}


def load(paths):
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def main(argv):
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not new:
        print(__doc__, file=sys.stderr)
        return 2
    ref = base[0]["config"]
    for r in base + new:
        bad = sorted(k for k in set(ref) | set(r["config"])
                     if k not in MAY_DIFFER and ref.get(k) != r["config"].get(k))
        if bad:
            print("refusing to compare: configs differ in " +
                  ", ".join(f"{k} ({ref.get(k)!r} vs {r['config'].get(k)!r})" for k in bad),
                  file=sys.stderr)
            return 2
    for name in base[0]["metrics"]:
        bv = [r["metrics"][name]["value"] for r in base]
        b = statistics.median(bv)
        n = statistics.median(r["metrics"][name]["value"] for r in new)
        unit = base[0]["metrics"][name]["unit"]
        ratio = f"{n / b:.3f}" if b else "n/a"
        spread = f"{stats.spread(bv):.3f}" if len(bv) >= 4 and b else "n/a"
        print(f"{name:48s} {b:14.4f} {n:14.4f} {unit:8s} new/base {ratio} base spread {spread}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
