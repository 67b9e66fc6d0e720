"""The gate ledger is round machinery now — its staleness logic must
itself be tested: a plan is stale iff its green row predates its
current code, and the promoted window must cover every stale plan."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _gl():
    spec = importlib.util.spec_from_file_location(
        "gate_ledger", REPO / "tools" / "gate_ledger.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_fingerprint_is_stable_and_code_sensitive():
    gl = _gl()
    from compendium_spark.plans import all_plans

    plans = all_plans()
    p = plans["q1_pricing_summary"]
    assert gl.fingerprint(p) == gl.fingerprint(p)  # deterministic
    # two different plans must not collide
    q = plans["dedup_exact"]
    assert gl.fingerprint(p) != gl.fingerprint(q)


def test_ledger_well_formed():
    gl = _gl()
    ledger = json.loads((REPO / "tools" / "gate_ledger.json").read_text())
    assert ledger, "ledger must be non-empty"
    for name, e in ledger.items():
        assert isinstance(e["round"], int) and 1 <= e["round"] <= 99, name
        assert e["fingerprint"] is None or (
            isinstance(e["fingerprint"], str) and len(e["fingerprint"]) == 16
        ), name


def test_every_stale_plan_is_inside_the_window_or_declared_overflow():
    """The executable form of the round invariant: any plan whose
    driver-green row predates its current code sits in the 50-plan
    prefix the gate samples — CI-enforced, not comment-enforced.
    The single escape hatch (r15): when the stale set itself exceeds
    the slot count, a stale plan may instead be DECLARED in
    tools/gate_overflow.json with its local-verification evidence; an
    undeclared stale plan outside the window is still a failure, and
    the overflow is ignored entirely while the window has room."""
    gl = _gl()
    from compendium_spark.plans import all_plans

    stale = gl.stale_plans()
    window = set(list(all_plans())[: gl.WINDOW])
    allowed = set(gl.overflow()) if len(stale) > gl.WINDOW else set()
    outside = sorted(set(stale) - window - allowed)
    assert not outside, f"stale plans outside the gate window: {outside}"


def test_overflow_entries_are_stale_reasoned_and_minimal():
    """The overflow file may only defer plans that ARE stale, each with
    a non-empty evidence string, and only as many as the window cannot
    hold — it must not become a parking lot that shrinks gate coverage
    below 50 re-greens when slots exist."""
    gl = _gl()
    ovf = gl.overflow()
    if not ovf:
        return
    stale = gl.stale_plans()
    for name, reason in ovf.items():
        assert name in stale, f"overflow entry {name} is not stale"
        assert isinstance(reason, str) and len(reason) > 20, name
    assert len(stale) > gl.WINDOW, (
        "overflow declared while the stale set fits the window"
    )
    assert len(stale) - len(ovf) <= gl.WINDOW, (
        "overflow still leaves more stale plans than slots"
    )
    assert len(ovf) <= len(stale) - gl.WINDOW, (
        "overflow defers more stale plans than the window cannot hold"
    )


def test_rows_only_plans_are_not_flagged():
    gl = _gl()
    from compendium_spark.plans import all_plans

    stale = gl.stale_plans()
    for name, p in all_plans().items():
        if p.oracle is None:
            assert name not in stale, name


def test_closure_resolves_module_attribute_references():
    """Round-7 blind-spot fix: plan wrappers that reach their
    implementation ONLY through a module attribute (`sw.streaming_scd2`
    in plans/streaming_plans.py) must pull that implementation — and
    its transitive helpers like _run_to_memory — into the closure
    fingerprint. Before the fix a windows.py edit flagged nothing."""
    gl = _gl()
    from compendium_spark.plans import all_plans

    p = all_plans()["streaming_scd2"]
    src = gl._closure_source(p.fn)
    assert "applyInPandasWithState" in src  # windows.scd2_transform body
    assert "processAllAvailable" in src  # windows._run_to_memory body


def test_closure_sees_function_body_imports():
    """Round-12 fix: `from compendium_spark.x import y` INSIDE a plan
    body binds a local, invisible to the __globals__ name scan — a
    storage_versioned.py edit used to leave every sink_* plan
    fingerprint-clean. The closure must now chase those imports."""
    gl = _gl()
    from compendium_spark.plans import all_plans

    p = all_plans()["sink_timetravel_roundtrip"]
    src = gl._closure_source(p.fn)
    # markers from the lazily-imported VersionedWarehouse implementation
    assert "_rebase_target" in src
    assert "VersionConflictError" in src


def test_window_file_is_the_registry_prefix():
    """plans/__init__ promotes exactly tools/gate_window.json (VERDICT
    r11 #8): the registry's 50-plan prefix IS the committed window,
    and every stale plan sits inside it."""
    gl = _gl()
    from compendium_spark.plans import all_plans

    wf = json.loads((REPO / "tools" / "gate_window.json").read_text())
    window = wf["window"]
    assert len(window) == gl.WINDOW
    assert list(all_plans())[: gl.WINDOW] == window
    stale = gl.stale_plans()
    allowed = set(gl.overflow()) if len(stale) > gl.WINDOW else set()
    assert set(stale) - allowed <= set(window)
    # the window file's own record of what was deferred must match
    assert set(wf.get("overflow", [])) == set(stale) & allowed
