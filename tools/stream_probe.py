"""Instrumented streaming drain: where does per-batch time go?

VERDICT r11 item 6: the streaming family (~6 queries x 2-4s) is the
largest untouched cost, and the multi-batch epochs are the tested
semantics — so before touching anything, measure the per-batch
breakdown (offset/commit-log persistence vs state-store work vs
planning vs actual processing) and decide what is config-addressable.

Runs the named streaming queries once each, after bench.py's
``warm_up``, subscribed to ``streaming.drain.observing``, then prints
per-batch ``durationMs`` maps (Spark's own breakdown: triggerExecution,
queryPlanning, getBatch, latestOffset, walCommit, commitOffsets,
addBatch) and state-operator commit times.

Usage: python tools/stream_probe.py [--sf SF_DIR] q170 [q162 ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize, start_session, warm_up  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from sensor_data_pipeline_spark.plans import REGISTRY
    from sensor_data_pipeline_spark.streaming.drain import observing

    spark = start_session("stream-probe")
    warm_up(spark, args.sf)

    for name in args.queries:
        spec = REGISTRY[name]
        batches: list = []
        t0 = time.perf_counter()
        with observing(batches.extend):
            n = materialize(spec.spark(spark, args.sf))
        wall = round(time.perf_counter() - t0, 3)
        total_trigger = sum(p.durationMs.get("triggerExecution", 0) for p in batches)
        print(f"=== {name}: {n} rows, wall {wall}s, "
              f"{len(batches)} batches, trigger-total {total_trigger}ms")
        for p in batches:
            row = {
                "name": p.name,
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
                "state": [
                    {
                        "commitTimeMs": s.commitTimeMs,
                        "numStateRows": s.numRowsTotal,
                        "memoryUsedBytes": s.memoryUsedBytes,
                    }
                    for s in p.stateOperators
                ],
            }
            print(json.dumps(row, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
