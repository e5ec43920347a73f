#!/usr/bin/env python3
"""Print each gate's growth exponent between two Bench records.

    python3 tools/growth.py <base record> <scaled record> <N>

Both records are Bench fidelity files (SPARK_GRAFT_BENCH_FULL); the
scaled one ran on the base testdata replicated N times
(graft.ScaleTestdata). A gate's exponent is log(t_N / t_1) / log N over
its published times: 0 means its time did not grow with the data, 1
means it grew linearly. Gates print largest exponent first. A gate that
has no time in either record is listed as missing, and the script then
exits 1.
"""
import json
import math
import sys


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    base, scaled = (json.load(open(p))["queries"] for p in sys.argv[1:3])
    n = float(sys.argv[3])
    if n <= 1:
        sys.exit("N must be greater than 1")
    rows, missing = [], []
    for gate in sorted(set(base) | set(scaled)):
        if gate not in base or gate not in scaled:
            missing.append(gate)
            continue
        t1 = max(base[gate]["published"], 1e-3)
        tn = max(scaled[gate]["published"], 1e-3)
        rows.append((math.log(tn / t1) / math.log(n), gate, t1, tn))
    print(f"{'gate':<28} {'t_1 s':>8} {'t_N s':>8} {'exponent':>9}")
    for e, gate, t1, tn in sorted(rows, reverse=True):
        print(f"{gate:<28} {t1:>8.3f} {tn:>8.3f} {e:>+9.2f}")
    for gate in missing:
        print(f"{gate:<28} missing from a record")
    sys.exit(1 if missing else 0)


if __name__ == "__main__":
    main()
