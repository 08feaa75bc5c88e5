"""Pure-Python unit tests for the plan-audit/plan-summary tooling —
no Spark session, so the gate semantics themselves are guarded cheaply:

- the regression gate must catch a seeded mutant (a removed
  pin shows up as a scan-count increase vs the committed
  baseline),
- ALLOW matching must be exact on the full reason string (round-5
  ADVICE: prefix matching would let `rescan:documentsx8` ride an
  allowance written for `rescan:documentsx4`),
- findings derive from digests deterministically.
"""

from __future__ import annotations

from bench import default_driver_mem
from tools.plan_audit import RESCAN_MAX, findings_from_digest, unexplained_findings
from tools.plan_summary import regressions


def _digest(**kw):
    base = {
        "scans": {},
        "exchanges": 0,
        "broadcasts": 0,
        "pins": 0,
        "codegen_spans": 1,
        "python": 0,
        "python_rowwise": 0,
        "cartesian": False,
        "global_window": False,
    }
    base.update(kw)
    return base


def test_seeded_mutant_scan_increase_fails_regression_gate():
    # the q167 mutant: deleting the pairs pin turns 1
    # embeddings scan into 6 — must be flagged even though other
    # counters improve
    baseline = {"q167": _digest(scans={"embeddings": 1}, pins=3)}
    mutated = {"q167": _digest(scans={"embeddings": 6}, pins=0)}
    regr = regressions(mutated, baseline)
    assert "q167" in regr and any(r.startswith("scans:embeddings") for r in regr["q167"])


def test_regression_gate_ignores_improvements_and_new_queries():
    baseline = {"q1": _digest(scans={"orders": 4}, exchanges=5)}
    current = {
        "q1": _digest(scans={"orders": 1}, exchanges=2),  # improved
        "q999": _digest(scans={"orders": 9}),  # new: absolute audit covers it
    }
    assert regressions(current, baseline) == {}


def test_regression_gate_ignores_exchange_wobble():
    # exchange counts are session-history-sensitive for cached plans
    # (CacheManager reuse changes how a rebuilt plan prints), so they
    # are artifact-only — never a regression trigger
    baseline = {"q1": _digest(exchanges=23)}
    current = {"q1": _digest(exchanges=54)}
    assert regressions(current, baseline) == {}


def test_regression_gate_flags_python_and_cartesian_appearing():
    baseline = {"q1": _digest()}
    current = {"q1": _digest(python=2, cartesian=True)}
    regr = regressions(current, baseline)
    assert set(regr) == {"q1"}
    assert any("python" in r for r in regr["q1"])
    assert any("cartesian" in r for r in regr["q1"])


def test_findings_from_digest_thresholds():
    ok = _digest(scans={"documents": RESCAN_MAX})
    assert findings_from_digest(ok) == []
    over = _digest(scans={"documents": RESCAN_MAX + 1}, python_rowwise=1, global_window=True)
    f = findings_from_digest(over)
    assert f == ["global_window", "python_udf", f"rescan:documentsx{RESCAN_MAX + 1}"]


def test_allow_matching_is_exact_not_prefix():
    findings = {"q": ["rescan:documentsx8"]}
    # an allowance for x4 must NOT whitelist an x8 regression
    assert unexplained_findings(findings, {"q": {"rescan:documentsx4"}}) == findings
    assert unexplained_findings(findings, {"q": {"rescan:documentsx8"}}) == {}


def test_rescan_gate_sums_final_and_pin_scans():
    # round-6 ADVICE: pins collapsed lineage, so a query whose pin
    # build scanned embeddings 4x committed scans={} and the rescan
    # audit was blind (q339's real shape before the round-7 fix)
    hidden = _digest(scans={}, pin_scans={"embeddings": RESCAN_MAX + 1})
    assert findings_from_digest(hidden) == [f"rescan:embeddingsx{RESCAN_MAX + 1}"]
    split = _digest(scans={"events": 2}, pin_scans={"events": 2})
    assert findings_from_digest(split) == ["rescan:eventsx4"]


def test_regression_gate_sees_pin_hidden_scan_increase():
    # deleting a pin moves scans from pin_scans to scans (or vice
    # versa); only the COMBINED total may not grow
    baseline = {"q": _digest(scans={}, pin_scans={"embeddings": 2})}
    moved = {"q": _digest(scans={"embeddings": 2}, pin_scans={})}
    assert regressions(moved, baseline) == {}
    grown = {"q": _digest(scans={"embeddings": 1}, pin_scans={"embeddings": 2})}
    regr = regressions(grown, baseline)
    assert "q" in regr and any(r.startswith("scans:embeddings 2->3") for r in regr["q"])


def test_unbounded_global_window_is_its_own_reason():
    # an empty-partition window with no limit/aggregate/pin dominating
    # every input path is a distinct finding that outranks (replaces)
    # the allow-able `global_window` reason
    d = _digest(global_window=True, global_windows_unbounded=1)
    assert findings_from_digest(d) == ["global_window_unbounded"]


def test_allow_list_never_admits_unbounded_global_windows():
    # the ALLOW contract: `global_window` entries are admissible ONLY
    # because the digest machine-checked a bound on every input path;
    # nothing in the committed ALLOW may name the unbounded reason, and
    # an ALLOW entry naming a NEVER_ALLOWED reason excuses nothing
    from tools.plan_audit import ALLOW, NEVER_ALLOWED

    for name, reasons in ALLOW.items():
        assert not reasons & NEVER_ALLOWED, name
    for reason in NEVER_ALLOWED:
        assert unexplained_findings({"q": [reason]}, {"q": {reason}}) == {"q": [reason]}


def test_lazy_pin_under_partial_limit_is_a_finding():
    # a lazy pin fills inside its consuming action; a limit-style
    # consumer may stop early and trigger the end-of-job fill-in job
    # that re-runs the build. A top-k (TakeOrderedAndProject) reads
    # every row and is not partial; an eager pin is already filled.
    bad = "lazy_pin_partial_consumer"
    assert bad in findings_from_digest(_digest(lazy_pins=2, partial_limit=True))
    assert bad not in findings_from_digest(_digest(lazy_pins=2, partial_limit=False))
    assert bad not in findings_from_digest(_digest(lazy_pins=0, partial_limit=True))


def test_pin_hidden_rowwise_python_triggers_absolute_python_udf():
    # round-7 ADVICE: a BatchEvalPython inside a pin build used to fold
    # into the undifferentiated pin_python counter, so the ABSOLUTE
    # python_udf finding never fired for it (only the baseline-relative
    # regression gate could catch growth). pin_python alone (Arrow
    # batch ops inside a pin) must NOT trigger; pin_python_rowwise must.
    arrow_in_pin = _digest(pin_python=2, pin_python_rowwise=0)
    assert "python_udf" not in findings_from_digest(arrow_in_pin)
    rowwise_in_pin = _digest(pin_python=2, pin_python_rowwise=1)
    assert "python_udf" in findings_from_digest(rowwise_in_pin)


def test_regression_gate_flags_pin_rowwise_growth():
    baseline = {"q": _digest(pin_python=1, pin_python_rowwise=0)}
    grown = {"q": _digest(pin_python=1, pin_python_rowwise=1)}
    regr = regressions(grown, baseline)
    assert "q" in regr and any("pin_python_rowwise" in r for r in regr["q"])


def test_driver_mem_default_capped_at_half_of_ram():
    # a swap-less 15 GiB host must not get a heap that can outgrow RAM;
    # a large host keeps the suite-sized 24g
    gib = 2**30
    assert int(default_driver_mem(15 * gib)[:-1]) * gib <= 15 * gib // 2
    assert default_driver_mem(64 * gib) == "24g"
    assert default_driver_mem(48 * gib) == "24g"
    assert default_driver_mem(1 * gib) == "1g"


def test_live_mutant_rescan_hidden_inside_pin_fails_gate(spark):
    """Round-7 VERDICT item 7: the pin-capture tests proved capture
    WORKS; this mutant proves the gate FAILS when it matters. The
    mutant hides a (RESCAN_MAX+1)-way self-union of nation inside a
    pin build — the final plan's only leaf is the pin's
    ExistingRDD, so a capture-blind audit would commit scans={} and
    pass. The combined digest must produce an unexplained rescan
    finding."""
    from sensor_data_pipeline_spark.pins import pin
    from sensor_data_pipeline_spark.sources.tables import load_table
    from tools.plan_summary import digest_full

    sf = "/root/testdata/sf0.001"

    def build():
        n = load_table(spark, "nation", sf).select("n_nationkey", "n_name")
        u = n
        for _ in range(RESCAN_MAX):  # RESCAN_MAX+1 parquet scans total
            u = u.unionByName(load_table(spark, "nation", sf).select("n_nationkey", "n_name"))
        pinned = pin(u)
        return pinned.groupBy("n_name").count()

    d = digest_full(build)
    assert d["scans"] == {}, d["scans"]  # the blindness being seeded
    findings = findings_from_digest(d)
    assert f"rescan:nationx{RESCAN_MAX + 1}" in findings, (findings, d)
    # and nothing in the committed ALLOW list excuses the mutant
    assert unexplained_findings({"mutant": findings})["mutant"]


def test_live_mutant_rowwise_udf_hidden_inside_pin_fails_gate(spark):
    """Round-7 ADVICE, end-to-end: a row-at-a-time Python UDF executed
    only INSIDE a pin build never appears in the final plan
    (whose leaf is the pin). digest_full must surface it as
    pin_python_rowwise and the absolute audit must emit python_udf."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from sensor_data_pipeline_spark.pins import pin
    from sensor_data_pipeline_spark.sources.tables import load_table
    from tools.plan_summary import digest_full

    sf = "/root/testdata/sf0.001"
    slow = F.udf(lambda x: int(x) * 2, LongType(), useArrow=False)

    def build():
        n = load_table(spark, "nation", sf).select("n_nationkey")
        pinned = pin(n.withColumn("d", slow("n_nationkey")))
        return pinned.groupBy().sum("d")

    d = digest_full(build)
    assert d["python_rowwise"] == 0, d  # final plan is clean: that is the trap
    assert d["pin_python_rowwise"] >= 1, d
    assert "python_udf" in findings_from_digest(d)
