"""Audit the driver correctness window against past CORRECTNESS records.

The per-round driver gate verifies only the FIRST 50 declared query names
alphabetically; the ``ROTATED`` set (plans/__init__.py) must keep every
never-verified name inside that window and park already-verified names
behind the ``z_`` prefix. This prints the current arrangement and flags
violations:

    python tools/window_check.py

Exit code 1 if any never-verified query sits OUTSIDE the window (it would
silently never receive a driver correctness row).
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

WINDOW = 50


def main() -> int:
    from connected_data_lake_spark.plans import all_specs

    names = sorted(all_specs())
    window = names[:WINDOW]

    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        for name, row in json.load(open(path)).items():
            if row.get("rows_match") and row.get("hash_match") is not False:
                green.add(name.removeprefix("z_"))

    unverified_in = [n for n in window if n.removeprefix("z_") not in green]
    unverified_out = [n for n in names[WINDOW:] if n.removeprefix("z_") not in green]

    print(f"{len(names)} declared queries; window = first {WINDOW} alphabetically")
    print(f"window tail: {window[-1]!r}; first outside: {names[WINDOW] if len(names) > WINDOW else None!r}")
    print(f"in-window, awaiting driver verification ({len(unverified_in)}): {unverified_in}")
    print(f"OUTSIDE window, never verified ({len(unverified_out)}): {unverified_out}")
    if unverified_out:
        print(f"  STRANDED — fix the ROTATED set: {unverified_out}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
