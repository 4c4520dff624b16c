"""Compare two result records written by run.py (``.perfbench_results/*.json``).

    python3 perfbench/compare.py BEFORE.json AFTER.json

Prints each metric of both records and the relative change. Records from
different core counts, Spark masters, workloads or trace modes are refused as
incomparable (exit code 2): a number taken at 32 cores says nothing about 4.
"""

from __future__ import annotations

import json
import sys

MUST_MATCH = (
    ("host", "nproc"),
    ("host", "master"),
    ("workload",),
    ("trace",),
)


def _get(rec: dict, path: tuple[str, ...]):
    for key in path:
        rec = rec.get(key, {}) if isinstance(rec, dict) else {}
    return rec


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv)
    for path in MUST_MATCH:
        if _get(a, path) != _get(b, path):
            name = ".".join(path)
            print(f"refused: {name} differs ({_get(a, path)!r} vs {_get(b, path)!r})",
                  file=sys.stderr)
            return 2
    print(f"{a['workload']} on {a['host']['master']}: seed {a['seed']} vs seed {b['seed']}")
    for name in sorted(set(a["metrics"]) | set(b["metrics"])):
        x, y = a["metrics"].get(name), b["metrics"].get(name)
        change = f"{100.0 * (y - x) / x:+.1f}%" if x and y is not None else "n/a"
        print(f"  {name:56s} {x!s:>14.14} {y!s:>14.14} {change:>9}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
