"""Per-query physical-plan digest artifact (PLAN_SUMMARY.json).

The scale review reads physical plans by hand; this tool condenses
every declared query's executed plan into the counters that matter at
100 TB so the whole suite can be audited at a glance:

- ``scans``: real FileSourceScan leaves per table in the FINAL plan
  (cache-aware — scans printed inside InMemoryRelation definitions are
  not counted; see tools/plan_audit.py for the round-5 false-positive
  story),
- ``pin_scans``: parquet scans executed INSIDE pins — the build plans
  of ``pins.pin`` (seen through its observer) plus each cached
  InMemoryRelation's build plan (deduped by canonicalized-plan
  hashCode, exactly the CacheManager's own dedup key). Round-6 ADVICE:
  pins collapse lineage into ExistingRDD/InMemoryTableScan leaves, so
  heavily pinned queries committed ``scans: {}`` digests and the
  rescan audit was blind to regressions upstream of any pin. The
  audit's rescan check now sums ``scans`` + ``pin_scans`` per table —
  the TOTAL number of times the table is physically read per run.
- ``pin_python``: Python-path operators running inside those pin
  builds (same blindness fix, for the python counters),
- ``exchanges``: shuffle boundaries (hash/range/single),
- ``broadcasts``: BroadcastExchange count (small-dim discipline),
- ``pins``: InMemoryTableScan + Scan ExistingRDD leaves (persist /
  pin reuse points),
- ``lazy_pins``: pins built with ``lazy=True``; ``partial_limit``: the
  final plan holds a CollectLimit / GlobalLimit / LocalLimit. Together
  they flag a lazy pin whose consumer may stop early (tools/plan_audit.py
  ``lazy_pin_partial_consumer``),
- ``codegen_spans``: WholeStageCodegen regions (JVM-side coverage),
- ``python``: BatchEvalPython / ArrowEvalPython / FlatMapGroupsInPandas
  etc. (the deliberate Python-path surface),
- ``python_rowwise``: BatchEvalPython only — the row-at-a-time slow
  path the plan audit gates on,
- ``cartesian`` / ``global_window``: anti-pattern booleans, so the
  audit (tools/plan_audit.py) and the pytest regression gate can run
  off ONE plan build per query,
- ``global_windows_unbounded``: empty-partition Windows whose input is
  NOT provably bounded (no limit/aggregate/pin dominating every
  row-producing path) — these are never ALLOW-listable; the ten
  domain-bounded windows the round-6 audit admitted each carry an
  aggregate on every input path, and that bound is now MACHINE-checked
  instead of prose (round-6 VERDICT item 6).

The committed PLAN_SUMMARY.json doubles as the plan-shape BASELINE:
tests/test_plan_shapes.py fails if any query's digest gets worse than
the committed one (more scans of a table, more python, a cartesian
appearing) — so a removed pin or a new rescan can't land
silently even when it stays under the audit's absolute thresholds.

Run: ``python tools/plan_summary.py [sf_dir]`` — writes
PLAN_SUMMARY.json at the repo root.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sensor_data_pipeline_spark.pins import observing  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUMMARY_PATH = os.path.join(ROOT, "PLAN_SUMMARY.json")


_LIMIT_NODES = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")
#: limits that may stop before reading every partition (a top-k reads all)
_PARTIAL_LIMITS = ("CollectLimit", "GlobalLimit", "LocalLimit")
_AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


def _walk(node, visit) -> None:
    visit(node)
    it = node.children().iterator()
    while it.hasNext():
        _walk(it.next(), visit)


def _path_class(node) -> str:
    """Boundedness of the frame a node produces, for the global-window
    audit: ``limit`` (a global limit bounds every path — the
    ranked-top-k idiom, auto-exempt), ``bounded`` (every leaf path
    passes an aggregate or a reviewed pin before reaching row-producing
    leaves — ALLOW-listable with a named bound), or ``unbounded``
    (some path reaches a data leaf with nothing bounding it — never
    acceptable: one task would sort the world). The round-6 detector
    exempted a Window if ANY limit appeared anywhere in its subtree,
    so a limit on the small side of a join whose other input is
    corpus-sized slipped through (round-6 ADVICE); this classifier
    requires EVERY path to be bounded."""
    name = node.nodeName()
    if any(k in name for k in _LIMIT_NODES):
        return "limit"
    if any(k in name for k in _AGG_NODES):
        return "bounded"
    # a pin leaf hides its lineage; the pin site itself is reviewed
    # (pin_scans digests its build plan), and a mutant windowing raw
    # UNPINNED corpus rows still classifies unbounded
    if "InMemoryTableScan" in name or "ExistingRDD" in name:
        return "bounded"
    # literal leaves are bounded by construction: a LocalTableScan /
    # OneRowRelation holds driver-memory rows, and a Range with a
    # small static element count is a grid literal (q249's 10-row
    # decile spine), not data
    if "LocalTableScan" in name or "OneRowRelation" in name or "EmptyRelation" in name:
        return "bounded"
    if name == "Range":
        try:
            if int(node.numElements()) <= 1_000_000:  # py4j converts BigInt
                return "bounded"
        except Exception:
            pass
        return "unbounded"
    ch = node.children()
    if ch.isEmpty():
        return "unbounded"
    classes = []
    it = ch.iterator()
    while it.hasNext():
        classes.append(_path_class(it.next()))
    if "unbounded" in classes:
        return "unbounded"
    if all(c == "limit" for c in classes):
        return "limit"
    return "bounded"


def _scan_leaves(jplan) -> tuple[dict[str, int], int]:
    """(parquet scans per table, pin-leaf count) for one physical plan."""
    scans: dict[str, int] = {}
    pins = 0
    leaves = jplan.collectLeaves()
    for i in range(leaves.size()):
        head = leaves.apply(i).toString().splitlines()[0]
        m = re.search(r"parquet[^\n]*?(\w+)\.parquet", head)
        if m:
            scans[m.group(1)] = scans.get(m.group(1), 0) + 1
        if "InMemoryTableScan" in head or "Scan ExistingRDD" in head:
            pins += 1
    return scans, pins


def _python_count(txt: str) -> int:
    return len(
        re.findall(
            r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas"
            r"|MapInPandas|PythonMapInArrow|FlatMapCoGroupsInPandas"
            r"|AggregateInPandas",
            txt,
        )
    )


def _rowwise_count(txt: str) -> int:
    """Row-at-a-time BatchEvalPython only — the 10-100x slow path the
    absolute python_udf audit gates on. Counted identically in final
    plans, pin-build plans and cache-build plans so no pin can reclass
    the slow path as undifferentiated pin_python (round-7 ADVICE)."""
    return txt.count("BatchEvalPython")


def _fold_cache_builds(
    jplan, acc_scans: dict[str, int], seen: set[int]
) -> tuple[int, int]:
    """Fold the BUILD plans of every InMemoryRelation reachable from
    ``jplan`` into ``acc_scans`` (recursively — a cached frame may read
    another cache). Deduped by the cached plan's structural hashCode:
    the CacheManager shares one materialization across all
    InMemoryTableScan consumers of the same canonicalized plan, so the
    build's parquet scans happen ONCE regardless of consumer count.
    Returns (python-op count, row-wise BatchEvalPython count) inside
    the builds — the row-wise split kept separate so a pin cannot
    blur the slow path into the undifferentiated counter (round-7
    ADVICE)."""
    py = 0
    py_rowwise = 0
    stack = [jplan]
    while stack:
        p = stack.pop()
        leaves = p.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if "InMemoryTableScan" not in leaf.nodeName():
                continue
            try:
                cached = leaf.relation().cachedPlan()
            except Exception:
                continue
            key = cached.hashCode()
            if key in seen:
                continue
            seen.add(key)
            s, _ = _scan_leaves(cached)
            for tbl, cnt in s.items():
                acc_scans[tbl] = acc_scans.get(tbl, 0) + cnt
            ctxt = cached.toString()
            py += _python_count(ctxt)
            py_rowwise += _rowwise_count(ctxt)
            stack.append(cached)
    return py, py_rowwise


def digest_jplan(jplan) -> dict:
    """Digest one already-built executed plan (py4j handle)."""
    if jplan.nodeName() == "AdaptiveSparkPlan":
        jplan = jplan.initialPlan()  # AQE root hides its children
    txt = jplan.toString()
    scans, pins = _scan_leaves(jplan)
    # Global windows need a TREE walk: Spark 4 prints a Window node's
    # partition spec only when NON-empty ("Window [exprs], [order]" vs
    # "Window [exprs], [part], [order]"), so the old empty-bracket
    # regex matched nothing — the detector was dead (round-6 finding;
    # every round-3..5 audit silently had zero global-window coverage).
    # Classification of each empty-partitionSpec Window's INPUT is the
    # every-path dominator walk (_path_class): limit-bounded windows
    # sort a provably tiny frame and are not flagged; agg/pin-bounded
    # ones are flagged (ALLOW-listable, bound machine-checked);
    # unbounded ones can never be allowed.
    global_windows = 0
    bounded_global_windows = 0
    global_windows_unbounded = 0

    def visit(n):
        nonlocal global_windows, bounded_global_windows, global_windows_unbounded
        if n.nodeName() == "Window":
            try:
                empty = n.partitionSpec().isEmpty()
            except Exception:
                empty = False
            if empty:
                cls = _path_class(n.children().head())
                if cls == "limit":
                    bounded_global_windows += 1
                elif cls == "bounded":
                    global_windows += 1
                else:
                    global_windows += 1
                    global_windows_unbounded += 1

    _walk(jplan, visit)
    return {
        "scans": scans,
        "exchanges": len(re.findall(r"Exchange (hash|range|Single)", txt)),
        "broadcasts": txt.count("BroadcastExchange"),
        "pins": pins,
        "codegen_spans": txt.count("WholeStageCodegen"),
        "python": _python_count(txt),
        "python_rowwise": _rowwise_count(txt),
        "cartesian": "CartesianProduct" in txt,
        "partial_limit": any(n in txt for n in _PARTIAL_LIMITS),
        "global_window": global_windows > 0,
        "bounded_global_windows": bounded_global_windows,
        "global_windows_unbounded": global_windows_unbounded,
    }


def combined_scans(digest: dict) -> dict[str, int]:
    """Total physical reads per table for one run of the query: final
    plan scans + scans executed inside pins (pin builds and
    InMemoryRelation builds). This is the number the rescan audit
    gates on — it is blind to neither side (round-6 ADVICE)."""
    out = dict(digest.get("scans", {}))
    for tbl, cnt in digest.get("pin_scans", {}).items():
        out[tbl] = out.get(tbl, 0) + cnt
    return out


def digest_full(build) -> dict:
    """Digest one query: ``build()`` returns the final DataFrame. Every
    pin it builds is digested through the ``pins.observing`` hook,
    since the final plan only shows the pin's ExistingRDD leaf; each
    pin plan is also walked for InMemoryRelation builds (a persist
    consumed only inside a pin build never appears in the final plan
    either). ``cache_seen`` is shared by all pin builds and the final
    plan's fold, so a cache referenced from several places is counted
    once, matching the CacheManager's one materialization. Shared with
    tests, which seed mutants through the same path the artifact uses."""
    pin_digests: list[dict] = []
    cache_seen: set[int] = set()
    lazy_pins = 0

    def observe(df, lazy: bool) -> None:
        nonlocal lazy_pins
        jplan = df._jdf.queryExecution().executedPlan()
        jroot = jplan.initialPlan() if jplan.nodeName() == "AdaptiveSparkPlan" else jplan
        pd = digest_jplan(jplan)
        pd["pin_scans"] = {}
        pd["pin_python"], pd["pin_python_rowwise"] = _fold_cache_builds(jroot, pd["pin_scans"], cache_seen)
        pin_digests.append(pd)
        lazy_pins += lazy

    with observing(observe):
        jplan = build()._jdf.queryExecution().executedPlan()
    d = digest_jplan(jplan)
    pin_scans: dict[str, int] = {}
    pin_python = 0
    pin_rowwise = 0
    for pd in pin_digests:
        for tbl, cnt in combined_scans(pd).items():
            pin_scans[tbl] = pin_scans.get(tbl, 0) + cnt
        pin_python += pd.get("python", 0) + pd.get("pin_python", 0)
        pin_rowwise += pd.get("python_rowwise", 0) + pd.get("pin_python_rowwise", 0)
        # a pin over an unbounded global window or cartesian is
        # just as fatal as one in the final plan
        d["global_windows_unbounded"] += pd.get("global_windows_unbounded", 0)
        d["cartesian"] = d["cartesian"] or pd.get("cartesian", False)
    # cached (persist()) builds referenced by the final plan
    jroot = jplan.initialPlan() if jplan.nodeName() == "AdaptiveSparkPlan" else jplan
    fold_py, fold_rowwise = _fold_cache_builds(jroot, pin_scans, cache_seen)
    d["pin_scans"] = pin_scans
    d["pin_python"] = pin_python + fold_py
    d["pin_python_rowwise"] = pin_rowwise + fold_rowwise
    d["lazy_pins"] = lazy_pins
    return d


def summarize(sf_dir: str) -> dict[str, dict]:
    from sensor_data_pipeline_spark.plans import REGISTRY
    from sensor_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="plan-summary")
    out: dict[str, dict] = {}
    for name, spec in sorted(REGISTRY.items()):
        try:
            out[name] = digest_full(lambda: spec.spark(spark, sf_dir))
        except Exception as e:
            out[name] = {"error": str(e).splitlines()[0][:120]}
    return out


def regressions(current: dict[str, dict], baseline: dict[str, dict]) -> dict[str, list[str]]:
    """Per-query plan-shape regressions of `current` vs the committed
    `baseline` digest. A query regresses when any scale-relevant
    counter gets WORSE: a table physically read more often (final plan
    + pin builds combined), more Python operators (same combination),
    or a cartesian/global-window appearing that the baseline did not
    have. Queries absent from the baseline (new this round) are
    skipped — the absolute audit still covers them. Improvements
    (fewer scans, fewer exchanges) never fail."""
    out: dict[str, list[str]] = {}
    for name, cur in current.items():
        base = baseline.get(name)
        if base is None or "error" in base or "error" in cur:
            continue
        probs: list[str] = []
        cur_scans, base_scans = combined_scans(cur), combined_scans(base)
        for tbl, cnt in cur_scans.items():
            if cnt > base_scans.get(tbl, 0):
                probs.append(f"scans:{tbl} {base_scans.get(tbl, 0)}->{cnt}")
        # `exchanges` is deliberately NOT compared: for queries with
        # persist()/cache(), Spark's CacheManager matches a re-built
        # plan by canonicalized logical plan, so whether an earlier
        # query in the SAME session already materialized the cache
        # changes how the rebuilt plan prints its exchange nodes
        # (observed in-suite: q216 23->54, q86 14->23 purely from
        # test_oracle_diff having executed them first). Scan leaves,
        # python ops and the anti-pattern booleans are leaf-/node-based
        # and stable across session history; exchanges stay in the
        # artifact for human review only.
        for key in (
            "python",
            "python_rowwise",
            "pin_python",
            "pin_python_rowwise",
            "global_windows_unbounded",
        ):
            if cur.get(key, 0) > base.get(key, 0):
                probs.append(f"{key} {base.get(key, 0)}->{cur.get(key, 0)}")
        for key in ("cartesian", "global_window"):
            if cur.get(key, False) and not base.get(key, False):
                probs.append(f"{key} appeared")
        if probs:
            out[name] = probs
    return out


def load_baseline() -> dict[str, dict]:
    with open(SUMMARY_PATH) as f:
        return json.load(f)["queries"]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = summarize(sf_dir)
    doc = {
        "definition": (
            "per-query physical-plan digest at sf0.001 (plan shape is "
            "scale-invariant); scans = real FileSourceScan leaves per "
            "table in the final plan (cache-aware), pin_scans = parquet "
            "scans executed inside pin/persist builds "
            "(the audit's rescan gate sums both), pin_python = python "
            "ops inside pin builds, pin_python_rowwise = BatchEvalPython "
            "inside pin builds (gated by the absolute python_udf audit "
            "alongside python_rowwise), exchanges = shuffle boundaries, "
            "broadcasts = BroadcastExchange nodes, pins = cached/"
            "checkpointed reuse leaves, codegen_spans = WholeStageCodegen "
            "regions, python = deliberate Python-path operators, "
            "python_rowwise = BatchEvalPython only, lazy_pins = pins "
            "built lazy, partial_limit = final plan holds a "
            "CollectLimit/GlobalLimit/LocalLimit, cartesian/"
            "global_window = anti-pattern booleans, "
            "global_windows_unbounded = empty-partition windows with no "
            "limit/aggregate/pin dominating every input path (never "
            "ALLOW-listable); the committed file is also the regression "
            "baseline for tests/test_plan_shapes.py"
        ),
        "queries": out,
    }
    with open(SUMMARY_PATH, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    n_err = sum(1 for v in out.values() if "error" in v)
    print(f"wrote PLAN_SUMMARY.json: {len(out)} queries, {n_err} errors")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
