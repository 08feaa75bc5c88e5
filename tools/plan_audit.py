"""Anti-pattern audit over every declared query's PHYSICAL plan.

Builds (never executes, beyond the eager pins some plans contain) every REGISTRY plan — the count is whatever
``len(REGISTRY)`` says, never hardcoded here — and flags the shapes
that do not survive a 100x scale-up:

- ``cartesian``: CartesianProduct — an all-pairs join that isn't a
  broadcast nested loop. Always a scale killer.
- ``global_window``: a Window operator with an empty partitionBy —
  one task sorts the world.
- ``python_udf``: row-at-a-time BatchEvalPython — the 10-100x-slower
  Python path where an Arrow variant exists.
- ``lazy_pin_partial_consumer``: a lazy pin (``pins.pin(lazy=True)``)
  under a final plan that holds a limit-style consumer (CollectLimit /
  GlobalLimit / LocalLimit), which may stop before reading every
  partition; Spark then re-runs the whole pin build in an end-of-job
  fill-in job. Never ALLOW-listable: make the pin eager or drop the
  limit.
- ``rescan``: the same parquet table scanned more than RESCAN_MAX
  times in one plan — loop lineage re-derivation (persist the
  invariant instead). Round 6 dropped RESCAN_MAX 6 -> 3 after pinning
  the whole >3-scan cluster; the only remaining >3 shapes are the
  ALLOW-listed exact-vs-approx audit double-reads.

Findings derive from the tools/plan_summary.py digest, so one plan
build per query serves this audit, the committed PLAN_SUMMARY.json
artifact, and the pytest regression gate.

Known-and-justified exceptions live in ALLOW; a finding not listed
there fails the audit (exit 1), so new anti-patterns can't land
silently. ALLOW entries match the FULL reason string (``python_udf``,
``rescan:documentsx4``) — never a bare prefix, which would whitelist
every future rescan of any table for that query (ADVICE r5).
Run: ``python tools/plan_audit.py [sf_dir]``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RESCAN_MAX = 3

#: reasons no ALLOW entry can excuse (unexplained_findings keeps them)
NEVER_ALLOWED = frozenset({"global_window_unbounded", "lazy_pin_partial_consumer"})

#: query -> full reason strings that are understood and acceptable at
#: scale. Rescan entries name the table AND the count
#: (``rescan:<table>x<n>``), so a plan regression to a higher count
#: fails the audit even for an allowed query.
ALLOW: dict[str, set[str]] = {
    # deliberate API-surface exercise of the row-at-a-time Arrow UDF
    "q122_arrow_python_udf": {"python_udf"},
    # UDTFs run on the Python worker path BY DEFINITION — these two
    # queries exist to exercise the Spark 4 UDTF surface (SURVEY §2.8);
    # both are bounded (q94 expands a 25-row dim, q204's analyze-time
    # polymorphism is the feature under test), so the slow path never
    # touches fact-table mass
    "q94_udtf_expand": {"python_udf"},
    "q204_polymorphic_udtf": {"python_udf"},
    # true exact-vs-approx audit double-read: q93 runs the brute-force
    # baseline AND the IVF probe against the same corpus to measure
    # recall — each path legitimately reads embeddings twice (query
    # panel + corpus side), and collapsing them would audit the index
    # against itself
    "q93_ann_recall": {"rescan:embeddingsx4"},
    # q389 is the same exact-vs-approx audit shape for multi-probe
    # sign-LSH: the pinned candidate build reads embeddings twice
    # (corpus buckets + the 8-row query panel's pushdown scan) and the
    # exact baseline reads the same pair again — 4 scans, 2 of them
    # panel-trivial, and collapsing them would audit the index against
    # itself (the q93 rationale verbatim)
    "q389_multiprobe_lsh_recall": {"rescan:embeddingsx4"},
    # ------------------------------------------------------------------
    # Bounded global windows. Round 6 found the global-window detector
    # had been DEAD since round 3 (Spark 4 prints a Window node's
    # partition spec only when non-empty, so the empty-bracket regex
    # never matched); the rebuilt tree-walk detector flags these ten.
    # Each windows a frame whose row count is bounded by CONSTRUCTION
    # (an aggregate/domain table, never corpus rows), so the one-task
    # sort is O(bound), not O(data). Windows above a global limit
    # (the ranked-top-k idiom) are auto-exempted by the digest itself.
    # ------------------------------------------------------------------
    "q239_mixture_allocation": {"global_window"},  # source census (|sources| rows)
    "q249_vocab_growth": {"global_window"},  # 10-row decile grid cumulative
    "q257_ks_distribution_drift": {"global_window"},  # distinct-length CDF (value domain)
    "q263_supplier_skyline": {"global_window"},  # post-agg lag-domain table
    "q290_kaplan_meier": {"global_window"},  # distinct event days (time domain)
    "q300_largest_remainder_alloc": {"global_window"},  # 25-row nation frame
    "q312_chi2_independence": {"global_window"},  # contingency cells (category product)
    "q315_bh_fdr_control": {"global_window"},  # 25-brand p-value ranking
    "q319_psi_drift_audit": {"global_window"},  # decile fences (10 bins)
    "q337_curriculum_interleave": {"global_window"},  # source census index
    "q346_waterfill_source_caps": {"global_window"},  # |sources|-row census (level bracket + remainder rank)
    "q349_zipf_octave_profile": {"global_window"},  # <=64-row octave frame (lag over the pinned spectrum; the 1-row-total crossJoin between pin and window defeats the dominator walk but cannot unbound it)
    "q371_novelty_decay_curve": {"global_window"},  # <=64-row octave frame (running sum over bin()-length octaves of a bigint doc_id)
    "q374_conformal_quality_gate": {"global_window"},  # value-domain CDF (the q257 counting-quantile idiom: cumulative over the bounded n_chars histogram, never rows)
    "q379_temperature_mixture": {"global_window"},  # |sources|-row census (ordered cumulative denominators — the q288 no-unordered-float-total rule)
    "q383_vocab_coverage_curve": {"global_window"},  # vocab-bounded frequency frame (rank + cumulative mass over groupBy(s) output, never rows)
    "q384_neyman_allocation": {"global_window"},  # |source x lang| strata frame (ordered weight cumulative + largest-remainder rank)
    "q385_hdr_quantile_sketch": {"global_window"},  # bounded bucket-histogram CDF (<= 64<<3 rows); the exact side's window is PARTITIONED per quantile over one located bucket
    "q386_kish_design_effect": {"global_window"},  # |source x lang| strata frame, twice (both schemes' cumulative + largest-remainder rank)
}


def findings_from_digest(digest: dict) -> list[str]:
    """Anti-pattern reasons for one plan digest (tools/plan_summary
    schema). Shared by the CLI and the pytest gate. The rescan count
    sums final-plan scans AND scans executed inside pin builds
    (pin / persist) — the total physical reads per run, so
    a pin cannot hide a rescan regression (round-6 ADVICE).
    ``global_window_unbounded`` (an empty-partition window with no
    limit/aggregate/pin dominating every input path) is emitted as its
    own reason and is NEVER_ALLOWED — the ALLOW contract for
    ``global_window`` is that the digest machine-verified a bound on
    every input path; so is ``lazy_pin_partial_consumer``."""
    if "error" in digest:
        return [f"plan_error: {digest['error']}"]
    from tools.plan_summary import combined_scans

    f: list[str] = []
    if digest.get("cartesian"):
        f.append("cartesian")
    if digest.get("global_windows_unbounded", 0) > 0:
        f.append("global_window_unbounded")
    elif digest.get("global_window"):
        f.append("global_window")
    # pin_python_rowwise counts BatchEvalPython executed INSIDE
    # pin/persist builds — without it a pin-hidden
    # row-wise UDF only ever reached the undifferentiated pin_python
    # counter and the absolute python_udf gate was blind to it
    # (round-7 ADVICE; only the baseline-relative regression gate
    # could catch growth)
    if digest.get("python_rowwise", 0) + digest.get("pin_python_rowwise", 0) > 0:
        f.append("python_udf")
    if digest.get("lazy_pins", 0) and digest.get("partial_limit"):
        f.append("lazy_pin_partial_consumer")
    for tbl, cnt in sorted(combined_scans(digest).items()):
        if cnt > RESCAN_MAX:
            f.append(f"rescan:{tbl}x{cnt}")
    return f


def unexplained_findings(
    findings: dict[str, list[str]], allow: dict[str, set[str]] | None = None
) -> dict[str, list[str]]:
    """Findings minus the ALLOW list. Shared by the CLI and the pytest
    gate (tests/test_plan_shapes.py) so the two can't drift. Matching
    is exact on the full reason string; NEVER_ALLOWED reasons stay."""
    allow = ALLOW if allow is None else allow
    out = {
        name: [r for r in reasons if r in NEVER_ALLOWED or r not in allow.get(name, set())]
        for name, reasons in findings.items()
    }
    return {k: v for k, v in out.items() if v}


def audit_digests(digests: dict[str, dict]) -> dict[str, list[str]]:
    findings = {name: findings_from_digest(d) for name, d in digests.items()}
    return {k: v for k, v in findings.items() if v}


def audit(sf_dir: str) -> dict[str, list[str]]:
    from tools.plan_summary import summarize

    return audit_digests(summarize(sf_dir))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    findings = audit(sf_dir)
    unexplained = unexplained_findings(findings)
    print(json.dumps({"findings": findings, "unexplained": unexplained}, indent=1, sort_keys=True))
    return 1 if unexplained else 0


if __name__ == "__main__":
    raise SystemExit(main())
