"""Print the next ``ROTATED`` set from a CORRECTNESS file.

Usage:
    python tools/rotate_window.py CORRECTNESS_r06.json

Prints a ready-to-paste ``ROTATED`` frozenset literal for
``connected_data_lake_spark/plans/__init__.py``: the current set plus the
stable name of every query in the file that passed all three gates
(rows + schema + hash), and a summary of the entries that did not.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main(path: str) -> int:
    from connected_data_lake_spark.plans import ROTATED

    with open(path) as fh:
        rec = json.load(fh)
    passed = {
        name
        for name, r in rec.items()
        if r.get("rows_match") and r.get("schema_match") and r.get("hash_match")
    }
    green = {name.removeprefix("z_") for name in passed}
    bad = {name: r.get("err") or "mismatch" for name, r in rec.items() if name not in passed}
    print(f"# {len(green)} green of {len(rec)} checked in {path}; {len(green - ROTATED)} newly rotated")
    if bad:
        print(f"# NOT green (fix before rotating): {bad}")
    print("ROTATED = frozenset(")
    print("    {")
    for name in sorted(ROTATED | green):
        print(f'        "{name}",')
    print("    }")
    print(")")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
