"""Derive each workload's frozen deck from measured per-query latencies.

A run times a deck: one representative per stratum of the workload's
members, not every member. The rule, applied to the latencies of a
``--deck all`` run of each workload:

- a stratum is a group of the membership (sql_olap, py_udf, lake_rw) and,
  within it, a family: the first tag other than ``lakeops``. Families with
  fewer than MIN_STRATUM members are pooled into the group's ``other``;
- the representative is the stratum member whose median latency is nearest
  the stratum's median latency (ties by name), leaving out EXCLUDED names;
- it stands for the stratum's share of the workload's members: the
  queries workload weights its metrics by that share.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --deck all
    python3 perfbench/run.py --workload lake_rw --seed 1 --seconds 10 --deck all
    python3 perfbench/deck.py .perfbench/last-queries.json .perfbench/last-lake_rw.json

rewrites ``measured_s``, ``strata`` and ``deck`` in membership.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MEMBERSHIP = os.path.join(HERE, "membership.json")
MIN_STRATUM = 7

#: names left out of decks: their oracle check is flipped on generated
#: inputs by in-query ROUND ties, which Spark and DuckDB round one unit
#: apart (ROADMAP item 5). ``--deck all`` still runs and checks them.
EXCLUDED = (
    "z_events_tumbling_hourly",
    "z_fn_date_bin",
    "z_join_bucketed_colocated",
    "z_q1_pricing_summary",
    "z_q3_shipping_priority",
    "z_q6_forecast_revenue",
)


def family(tags) -> str:
    return next((t for t in tags if t != "lakeops"), "other")


def strata(members: dict[str, list[str]], tags: dict[str, tuple]) -> dict[str, list[str]]:
    """``"group/family"`` -> sorted members, small families pooled."""
    out: dict[str, list[str]] = {}
    for group, names in members.items():
        fams: dict[str, list[str]] = {}
        for n in names:
            fams.setdefault(family(tags[n]), []).append(n)
        for fam, ns in fams.items():
            key = fam if len(ns) >= MIN_STRATUM else "other"
            out.setdefault(f"{group}/{key}", []).extend(ns)
    return {k: sorted(v) for k, v in sorted(out.items())}


def derive(membership: dict, tags: dict[str, tuple], measured: dict[str, float]) -> dict:
    """Per workload: its strata (members, median latency, representative)
    and its deck."""
    out = {}
    by_stratum = strata(membership["members"], tags)
    for wname, spec in membership["workloads"].items():
        rows = {}
        for key, names in by_stratum.items():
            if key.split("/")[0] not in spec["groups"]:
                continue
            mid = statistics.median(measured[n] for n in names)
            pick = min((n for n in names if n not in EXCLUDED),
                       key=lambda n: (abs(measured[n] - mid), n))
            rows[key] = {"members": len(names), "median_s": round(mid, 4), "deck": pick,
                         "deck_s": round(measured[pick], 4)}
        out[wname] = {"groups": spec["groups"], "strata": rows,
                      "deck": [r["deck"] for r in rows.values()]}
    return out


def measured_of(record: dict) -> dict[str, float]:
    """Median timed latency per declared query of a ``--deck all`` record."""
    samples: dict[str, list[float]] = {}
    for op in record["ops"]:
        if op.get("query") and op.get("timed") and "error" not in op:
            samples.setdefault(op["kind"], []).append(op["s"])
    return {n: statistics.median(v) for n, v in samples.items()}


def main(paths: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from connected_data_lake_spark.plans import all_specs

    with open(MEMBERSHIP) as fh:
        membership = json.load(fh)
    measured = {}
    for path in paths:
        with open(path) as fh:
            record = json.load(fh)
        if record["provenance"]["deck"] != "all":
            raise SystemExit(f"{path}: not a --deck all run")
        measured.update({n: round(v, 4) for n, v in measured_of(record).items()})
    missing = set().union(*map(set, membership["members"].values())) - set(measured)
    if missing:
        raise SystemExit(f"no timed sample of {sorted(missing)}")
    tags = {n: s.tags for n, s in all_specs().items()}
    membership["workloads"] = derive(membership, tags, measured)
    membership["measured_s"] = dict(sorted(measured.items()))
    with open(MEMBERSHIP, "w") as fh:
        json.dump(membership, fh, indent=1)
        fh.write("\n")
    for wname, w in membership["workloads"].items():
        print(wname, w["deck"])
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
