"""Solo-wobble protocol: exonerate (or confirm) a per-query bench
regression by running the query ALONE, outside the 339-query suite.

The shared host runs the driver's bench suite back-to-back in one JVM;
GC pauses, CPU steal, and cache-eviction storms land on random queries
each run (observed swings: 2.5s <-> 27s with identical plans). When a
round's BENCH_r{N} shows a query slower than the previous round, this
protocol decides "host weather vs real regression" (the caea762
precedent):

1. fresh session, then bench.py's ``warm_up`` (codegen, workers and the
   base-table read-through),
2. one cold pass (per-query codegen), then 3 warm passes -> best-of-3,
3. plan-digest diff against the committed PLAN_SUMMARY.json baseline
   (shape is scale-invariant; built at sf0.001 like the baseline).

Verdict rule: solo warm best-of at/below the prior round's level AND
an unchanged digest => interference, document in the query docstring.
A digest diff, or a solo time that reproduces the regression, is a
real regression — fix it. When the host itself is degraded (the
0a9ae17 control-experiment case), add a same-session control: solo-run
2-3 stable never-regressed queries and compare against their committed
BENCH_FULL values to measure the host factor.

Usage: python tools/solo_wobble.py <query_name> [sf_dir]
Prints one JSON line: cold, warm_runs, warm_best_of_3,
plan_digest_unchanged, digest_diff.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import ROOT, infer_sf, start_session, time_passes, warm_up  # noqa: E402


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from sensor_data_pipeline_spark.plans import REGISTRY

    spec = REGISTRY[name]
    spark = start_session(f"solo-{name}")

    # The digest runs before the warm-up. The warm-up caches nothing,
    # so the order leaves the digest's scan leaves as they are. For PIN
    # queries the digest executes the sf0.001 pin builds and so
    # compiles their stages' codegen, which flatters the "cold" pass
    # below. The verdict rule reads warm_best_of_3, never cold; cold is
    # advisory context only.
    import plan_summary as ps

    digest = ps.digest_full(lambda: spec.spark(spark, "/root/testdata/sf0.001"))
    base = json.load(open(os.path.join(ROOT, "PLAN_SUMMARY.json")))["queries"][name]
    diff = {k: (base.get(k), digest.get(k)) for k in set(base) | set(digest)
            if base.get(k) != digest.get(k)}

    # bench.py's warm-up, after the digest (see above)
    warm_up(spark, sf_dir)
    runs = time_passes(spark, spec, sf_dir, 4)  # pass 0 = cold (codegen); 1-3 = warm best-of-3

    result = {
        "query": name, "sf_dir": sf_dir, "cold": runs[0],
        "warm_runs": runs[1:], "warm_best_of_3": min(runs[1:]),
        "plan_digest_unchanged": not diff, "digest_diff": diff,
    }
    print(json.dumps(result))

    # WOBBLE.json ledger (battery-guard binding, VERDICT r9 item 4):
    # record the run against the CURRENT committed battery so
    # tests/test_scale_coverage.py can check every flagged regression
    # was wobbled against the battery that flagged it. Verdict rule
    # (the protocol above): unchanged digest + solo best at/below
    # 1.25x the previous battery's level = interference; anything
    # else needs a human look and is recorded as "regression-check".
    battery_path = os.path.join(ROOT, "BATTERY.json")
    battery = {}
    if os.path.exists(battery_path):
        with open(battery_path) as f:
            battery = json.load(f)
    # Ledger only for runs at the battery's own scale factor — compare
    # the RECORDED sf (bench.infer_sf on both paths), not a string
    # suffix, so symlinked/copied fixture dirs still bind (ADVICE r10).
    sf_match = battery and infer_sf(os.path.realpath(sf_dir)) == battery.get("sf")
    if battery and not sf_match:
        print(
            f"WOBBLE.json ledger NOT written: sf_dir {sf_dir} (sf="
            f"{infer_sf(os.path.realpath(sf_dir))}) does not match the "
            f"battery's sf={battery.get('sf')} — the gate needs a run at "
            "the battery's scale"
        )
    if sf_match:
        flag = battery.get("regressions_vs_prev", {}).get(name)
        prev_level = flag["prev"] if flag else battery["queries"].get(name)
        verdict = (
            "interference"
            if not diff and prev_level and min(runs[1:]) <= prev_level * 1.25
            else "regression-check"
        )
        ledger_path = os.path.join(ROOT, "WOBBLE.json")
        ledger = {}
        if os.path.exists(ledger_path):
            with open(ledger_path) as f:
                ledger = json.load(f)
        ledger[name] = {
            "battery_value": battery["queries"].get(name),
            "prev_battery_value": prev_level,
            "solo_best": min(runs[1:]),
            "solo_runs": runs[1:],
            "cold": runs[0],
            "plan_digest_unchanged": not diff,
            "verdict": verdict,
        }
        with open(ledger_path, "w") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
        print(f"WOBBLE.json[{name}] = {verdict}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
