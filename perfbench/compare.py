"""Compare two benchmark artifacts metric by metric.

    python3 perfbench/compare.py BASE.json NEW.json

Prints, for every end-to-end (and, when both have them, per-layer) metric,
the base value, the new value, new minus base and new / base. Refuses
(exit 2) to compare artifacts of different workloads or taken with a
different number of CPUs: those differences are the box, not the code.
"""

from __future__ import annotations

import json
import sys


def refusal(base: dict, new: dict) -> str | None:
    """Why two artifacts must not be compared, or None if they may be."""
    a, b = base["provenance"], new["provenance"]
    if a["cpus"] != b["cpus"]:
        return f"cpus differ: {a['cpus']} vs {b['cpus']}"
    if a["workload"] != b["workload"]:
        return f"workloads differ: {a['workload']} vs {b['workload']}"
    return None


def rows(base: dict, new: dict) -> list[tuple[str, float, float]]:
    out = []
    for section in ("end_to_end", "per_layer"):
        a, b = base.get(section, {}), new.get(section, {})
        out += [(k, a[k], b[k]) for k in a if k in b]
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        base = json.load(f)
    with open(argv[1]) as f:
        new = json.load(f)
    why = refusal(base, new)
    if why:
        print(f"REFUSED: {why}")
        return 2
    for name, a, b in rows(base, new):
        ratio = f"{b / a:.3f}" if a else "-"
        print(f"{name:40s} {a:14.6g} {b:14.6g} {b - a:+14.6g} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
