"""Optimization-round probe: per-query solo measurement + plan capture.

For each named query, sets up bench.py's environment through its
measurement core (``start_session`` + ``warm_up``: page-cache
read-through, no base-table .cache() since the r12 methodology ruling)
and then:

1. captures ``df.explain("formatted")`` to a file in ``--plans DIR``
   (before/after evidence; the r11/r12 rounds' dumps are in commit
   0ebdf1c under ``plans/r11/`` and ``plans/r12/``),
2. times a cold pass + N warm passes with ``bench.time_passes`` (fresh
   ``spec.spark(...)`` build per pass, so plan-construction cost is
   included — the number bench.py reports),
3. optionally times a noop-sink pass (guide §1.4: computation without
   the collect/Arrow-transfer cost) so collect-dominated queries are
   distinguishable from compute-dominated ones.

Usage:
    python tools/opt_probe.py [--plans DIR] [--suffix before|after]
        [--noop] [--runs N] [--sf SF_DIR] q1 [q2 ...]

Prints one JSON line per query:
    {"query": ..., "cold": s, "warm": [s, ...], "best": s,
     "noop": s|null, "plan_file": path}
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release_storage, start_session, time_passes, warm_up  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--plans", default=None, help="directory for explain captures")
    ap.add_argument("--suffix", default=None, help="file suffix (before/after)")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from sensor_data_pipeline_spark.plans import REGISTRY

    spark = start_session("opt-probe")
    warm_up(spark, args.sf)

    for name in args.queries:
        spec = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"opt-probe:{name}")
        plan_file = None
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = spec.spark(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            sfx = f"_{args.suffix}" if args.suffix else ""
            plan_file = os.path.join(args.plans, f"{name}{sfx}.txt")
            with open(plan_file, "w") as f:
                f.write(buf.getvalue())
        cold, *warms = time_passes(spark, spec, args.sf, 1 + args.runs)
        noop_s = None
        if args.noop:
            dfn = spec.spark(spark, args.sf)
            t2 = time.perf_counter()
            dfn.write.format("noop").mode("overwrite").save()
            noop_s = round(time.perf_counter() - t2, 3)
        # per query, so a late-listed query is measured under the same
        # storage headroom as an early one (ADVICE r11)
        release_storage(spark)
        print(
            json.dumps(
                {
                    "query": name,
                    "cold": cold,
                    "warm": warms,
                    "best": min([cold] + warms),
                    "noop": noop_s,
                    "plan_file": plan_file,
                }
            ),
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
