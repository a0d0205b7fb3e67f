"""Compare two benchmark artifacts written with ``run.py --artifact``.

    python3 perfbench/compare.py BASE.json NEW.json

Refuses (exit 2) unless both come from the same workload on hosts with
the same fingerprint: cores, memory, Spark and Java versions, driver
heap and ``SPARK_GRAFT_CPUS``.  The seed and the commit may differ.
Prints each metric's two values and their ratio (new / base).
"""

from __future__ import annotations

import json
import sys

IDENTITY_KEYS = ("seed", "commit")


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.load(open(p)) for p in argv)
    if base["workload"] != new["workload"]:
        print(f"refused: workloads differ ({base['workload']} vs {new['workload']})", file=sys.stderr)
        return 2
    keys = (set(base["fingerprint"]) | set(new["fingerprint"])) - set(IDENTITY_KEYS)
    diff = sorted(k for k in keys if base["fingerprint"].get(k) != new["fingerprint"].get(k))
    if diff:
        for k in diff:
            print(f"refused: fingerprint {k}: {base['fingerprint'].get(k)!r} vs {new['fingerprint'].get(k)!r}", file=sys.stderr)
        return 2
    for name, m in base["metrics"].items():
        if name in new["metrics"]:
            a, b = m["value"], new["metrics"][name]["value"]
            ratio = f"{b / a:.3f}" if a else "n/a"
            print(f"{name}: {a:.6g} -> {b:.6g} {m['unit']} (x{ratio})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
