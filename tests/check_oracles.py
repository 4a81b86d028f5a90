"""Fast standalone oracle check: python -m tests.check_oracles [names...]

Mirrors the driver's t2 gate over every registered query at sf0.01
(SPARK_GRAFT_ORACLE_SF_DIR overrides the fixture dir — the sf0.1
float-determinism spot-checks run through this).

`--json PATH` additionally writes one row per checked query, so each
round can commit the FULL-registry sweep as ORACLES_r{N}.json next to
the driver's ~50-row CORRECTNESS file (VERDICT r06 item 4): the
staleness debt of the 50-slot driver window stops being a blind spot
because the all-queries claim becomes a committed, re-runnable
artifact instead of builder prose.
"""

from __future__ import annotations

import json
import os
import sys
import time

from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY
from calculate_file_content_size_for_vector_db_spark.session import get_spark, release_cache
from tests.oracle_harness import duck_connection, run_one

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# Per-row cost budget (VERDICT r10 item 6): the full-registry sweep
# must keep fitting inside a round (ORACLES_r10 totaled 486s, with
# composed store-writing flagships at 26s/16.8s the heaviest rows
# ever). Any row above this at sf0.01 is printed as a SLOW outlier at
# the end of the sweep — visible before flagship creep breaks the
# per-round artifact, not after.
SLOW_ROW_SEC = 30.0

# Sweep TOTAL budget (VERDICT r11 item 4): the full-registry sweep
# crept 486s (r10) -> 560s (r11), +15%/round — doubling in ~5 rounds
# if untracked. The total (full sweeps only — subset runs are
# development probes) is recorded in the JSON artifact and compared
# against this declared ceiling; an over-budget sweep prints a
# TOTAL-BUDGET line so the creep is a tracked number each round, not
# verdict archaeology. Raise the ceiling only with a PLANS.md note
# naming the flagships that justify it.
TOTAL_BUDGET_SEC = 900.0


def main() -> int:
    argv = sys.argv[1:]
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    only = set(argv)
    spark = get_spark(app_name="check-oracles", cpus=16, shuffle_partitions=16)
    con = duck_connection(SF_DIR)
    failures = 0
    rows: dict[str, dict] = {}
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            problems = run_one(spark, con, name, q.fn, q.oracle, SF_DIR)
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(e).__name__}: {e}"]
        dt = time.time() - t0
        # drop every frame and checkpoint the row persisted (several
        # operators cache internal artifacts per call — bands/shingles,
        # edge stores): without this the cache accumulates across all
        # ~290 rows, and late rows pay eviction/GC pressure for early
        # rows' leftovers (the same per-op hygiene tools/scale_check.py
        # applies)
        release_cache(spark)
        tag = "no-oracle" if q.oracle is None else "oracle"
        rows[name] = {
            "status": ("fail" if problems else ("green_rows_only" if q.oracle is None else "green")),
            "problems": problems,
            "sec": round(dt, 1),
        }
        if problems:
            failures += 1
            print(f"FAIL {name} [{tag}] ({dt:.1f}s)")
            for p in problems:
                print(f"     {p}")
        else:
            print(f"ok   {name} [{tag}] ({dt:.1f}s)")
    total_sec = round(sum(r["sec"] for r in rows.values()), 1)
    full_sweep = not only
    if json_path:
        summary = {
            "sf_dir": SF_DIR,
            "n_queries": len(rows),
            "n_green": sum(r["status"] == "green" for r in rows.values()),
            "n_green_rows_only": sum(
                r["status"] == "green_rows_only" for r in rows.values()
            ),
            "n_fail": failures,
            "total_sec": total_sec,
            "total_budget_sec": TOTAL_BUDGET_SEC if full_sweep else None,
            "over_total_budget": (full_sweep and total_sec > TOTAL_BUDGET_SEC),
            "queries": rows,
        }
        with open(json_path, "w") as f:
            json.dump(summary, f, indent=1)
        print(f"wrote {json_path}")
    slow = {n: r["sec"] for n, r in rows.items() if r["sec"] > SLOW_ROW_SEC}
    for n, s in sorted(slow.items(), key=lambda kv: -kv[1]):
        print(f"SLOW {n}: {s:.1f}s > {SLOW_ROW_SEC:.0f}s per-row budget (PLANS.md sweep-cost note)")
    if full_sweep:
        status = "over" if total_sec > TOTAL_BUDGET_SEC else "within"
        print(
            f"TOTAL {total_sec:.1f}s {status} the {TOTAL_BUDGET_SEC:.0f}s sweep budget"
            + (" — trim flagships or raise with a PLANS.md note" if status == "over" else "")
        )
    print(f"{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
