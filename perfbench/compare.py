"""Compare two run records written by ``run.py``.

    python3 perfbench/compare.py BASE.json NEW.json

Records live in ``.perfbench/records/``.  Two records from hosts of a
different shape (core count, or the engine's ``SPARK_GRAFT_CPUS``) are
refused: their numbers do not compare.  For one traced and one untraced
record of the same workload the difference of their end-to-end numbers
is the tracing overhead.
"""

from __future__ import annotations

import json
import sys

HOST_KEY = ("nproc", "spark_graft_cpus")


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.load(open(p)) for p in argv)
    for key in HOST_KEY:
        if base["host"].get(key) != new["host"].get(key):
            print(f"refusing to compare: host {key} differs "
                  f"({base['host'].get(key)} vs {new['host'].get(key)})",
                  file=sys.stderr)
            return 2
    if base["workload"] != new["workload"]:
        print("refusing to compare different workloads", file=sys.stderr)
        return 2
    overhead = base["trace"] != new["trace"]
    if overhead and base["trace"]:
        base, new = new, base
    print(f"workload {base['workload']}: seed {base['seed']} vs {new['seed']}"
          + ("  (traced minus untraced = tracing overhead)" if overhead else ""))
    for k, b in base["e2e"].items():
        n = new["e2e"][k]
        rel = (n - b) / b if b else float("nan")
        print(f"  {k:16s} {b:14.4f} {n:14.4f} {n - b:+14.4f} {rel:+8.1%}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
