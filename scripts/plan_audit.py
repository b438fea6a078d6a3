"""Full-surface physical-plan inventory -> PLANS.json.

``tests/test_plans.py`` pins the plan features of ~40 hand-picked keys;
this script sweeps EVERY registry key and records a per-key plan
fingerprint — shuffle-exchange count, broadcast count, scan count,
join strategies, TakeOrderedAndProject, and any CartesianProduct —
so a round-over-round diff of ``PLANS.json`` surfaces a plan
regression (a dropped broadcast, an extra exchange, a global sort
creeping in) on keys no hand-written test happens to cover.

Plans are built lazily (``explain`` only, nothing executes), so the
sweep costs seconds per key; streaming/eager keys that cannot be
explained as one lazy plan are skipped (``registry.EAGER``).

Usage:
    python scripts/plan_audit.py [--sf-dir /root/testdata/sf0.01] \
        [--out PLANS.json] [--prev PLANS.json]

With ``--prev``, prints a diff of fingerprints vs the previous
artifact (new keys, removed keys, changed node counts) and exits 1 if
any key GAINED an exchange, lost a broadcast, or acquired a cartesian
product — the regression directions; improvements only inform.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

def fingerprint(plan: str) -> dict:
    """Node-type counts that matter at scale, from a formatted plan."""

    def n(pat: str) -> int:
        return len(re.findall(pat, plan, re.M))

    return {
        # ^(k) Exchange rows are shuffle exchanges; broadcasts print as
        # BroadcastExchange / BroadcastQueryStage lines.
        "shuffle_exchanges": n(r"^\(\d+\) Exchange"),
        "broadcast_exchanges": n(r"^\(\d+\) BroadcastExchange"),
        "scans": n(r"^\(\d+\) Scan parquet"),
        "broadcast_hash_joins": n(r"BroadcastHashJoin"),
        "sort_merge_joins": n(r"SortMergeJoin"),
        "bnl_joins": n(r"BroadcastNestedLoopJoin"),
        "cartesian": n(r"CartesianProduct"),
        "windows": n(r"^\(\d+\) Window"),
        "sorts": n(r"^\(\d+\) Sort"),
        "take_ordered": n(r"TakeOrderedAndProject"),
        "in_memory_scans": n(r"^\(\d+\) InMemoryTableScan"),
    }


# Regression = any of these moving in the listed direction.
WORSE = {
    "shuffle_exchanges": +1,  # gained a shuffle
    "sort_merge_joins": +1,  # lost a broadcast to SMJ
    "cartesian": +1,  # never acceptable
    "scans": +1,  # re-scanning a table (decorrelation regression)
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(_HERE, "PLANS.json"))
    ap.add_argument("--prev", default=None)
    args = ap.parse_args()

    prev = None
    if args.prev and os.path.exists(args.prev):
        with open(args.prev) as fh:
            prev = json.load(fh).get("keys", {})

    from spark_streaming_clustering_spark.operators.registry import (
        EAGER,
        PLAN_PROXIES,
        QUERIES,
    )
    from spark_streaming_clustering_spark.plans import formatted_plan
    from spark_streaming_clustering_spark.session import get_spark

    spark = get_spark()
    t0 = time.time()
    keys: dict[str, dict] = {}
    failed: list[str] = []
    for k, fn in sorted(QUERIES.items()):
        if k in EAGER:
            continue
        try:
            # A key with internal lineage truncation (localCheckpoint)
            # is fingerprinted via its registered lazy proxy plan —
            # the built result's plan is a post-truncation RDD scan
            # (review finding r7).
            keys[k] = fingerprint(
                formatted_plan(PLAN_PROXIES.get(k, fn)(spark, args.sf_dir))
            )
        except Exception as exc:  # noqa: BLE001 — inventory, keep going
            failed.append(k)
            print(f"EXPLAIN-FAIL {k}: {exc}", file=sys.stderr)

    # keys can be empty (every explain failed, or an empty registry) —
    # next(iter(...)) would raise a confusing RuntimeError inside the
    # comprehension (review finding r6)
    first = next(iter(keys.values()), {})
    totals = {f: sum(v[f] for v in keys.values()) for f in first}
    out = {
        "_meta": {
            "n_keys": len(keys),
            "n_eager_skipped": len(EAGER),
            "failed": failed,
            "sf_dir": args.sf_dir,
            "wall_sec": round(time.time() - t0, 1),
            "totals": totals,
        },
        "keys": keys,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(
        f"{len(keys)} keys fingerprinted in {out['_meta']['wall_sec']}s -> "
        f"{args.out}; totals: {totals}"
    )

    rc = 1 if (failed or totals.get("cartesian", 0) or not keys) else 0
    if prev is not None:
        regressions = []
        for k, fp in keys.items():
            if k not in prev:
                print(f"NEW {k}: {fp}")
                continue
            for field, direction in WORSE.items():
                # an older artifact may predate a fingerprint field —
                # treat the missing value as 0 rather than KeyError
                # (review finding r6)
                prev_v = prev[k].get(field, 0)
                delta = fp[field] - prev_v
                if delta * direction > 0:
                    regressions.append((k, field, prev_v, fp[field]))
        for k in prev:
            if k not in keys and k not in EAGER:
                print(f"REMOVED {k}")
        for k, field, a, b in regressions:
            print(f"REGRESSION {k}: {field} {a} -> {b}")
        if regressions:
            rc = 1
        else:
            print("no plan regressions vs previous artifact")
    return rc


if __name__ == "__main__":
    sys.exit(main())
