"""Guard the driver-verification window (VERDICT r03 headline).

The driver verifies only a 50-key prefix of ``queries()``.  Round 3 showed
that inserting new keys can silently displace previously-verified keys out
of that window.  ``queries()`` now self-orders by driver-check history
(committed CORRECTNESS_r*.json files); these tests turn that into an
invariant so future key additions can't regress coverage.
"""

from __future__ import annotations

import glob
import json
import os
import re

import __spark_entry__ as entry_mod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_WINDOW = 50


def _history():
    hist: dict[str, set[int]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for key in json.load(fh):
                hist.setdefault(key, set()).add(rnd)
    return hist


def _overdue(ks, hist):
    """Keys whose committed evidence would cross the lap bound at the
    NEXT recorded round — the reserved-quota cohort (VERDICT r11 task 1)
    that must outrank even changed keys in the window ordering."""
    if not hist:
        return []
    latest = max(r for rounds in hist.values() for r in rounds)
    lap = -(-len(ks) // DRIVER_WINDOW)
    return [
        k for k in ks if k in hist and (latest + 1) - max(hist[k]) > lap
    ]


def test_every_query_key_has_an_oracle():
    qs = set(entry_mod.queries())
    oracles = set(entry_mod.oracle_sql())
    missing = qs - oracles
    assert not missing, f"queries() keys without oracle_sql(): {sorted(missing)}"


def test_oracle_keys_all_resolve_to_queries():
    extra = set(entry_mod.oracle_sql()) - set(entry_mod.queries())
    assert not extra, f"oracle_sql() keys with no queries() entry: {sorted(extra)}"


def test_never_checked_keys_sit_inside_driver_window():
    ks = list(entry_mod.queries())
    hist = _history()
    never = [k for k in ks if k not in hist]
    late = [k for k in never if ks.index(k) >= DRIVER_WINDOW]
    assert not late, (
        f"{len(late)} never-driver-checked keys beyond position {DRIVER_WINDOW}: "
        f"{late} — the driver would never verify them"
    )


def test_least_recently_checked_keys_come_first():
    """Among keys NOT changed since their last driver check, staleness
    order must survive the change-aware reprioritization: no unchanged
    key outside the window may have strictly older evidence than an
    unchanged key inside it (changed keys legitimately jump the queue —
    their old evidence covers code that no longer exists)."""
    ks = list(entry_mod.queries())
    hist = _history()
    if not hist:
        return
    with open(os.path.join(REPO, "KEY_REVS.json")) as fh:
        revs = {k: v["rev"] for k, v in json.load(fh)["revs"].items()}

    def last_checked(k):
        return max(hist.get(k, {0}) or {0})

    unchanged = [k for k in ks if revs.get(k, 0) <= last_checked(k)]
    inside = [k for k in unchanged if ks.index(k) < DRIVER_WINDOW]
    outside = [k for k in unchanged if ks.index(k) >= DRIVER_WINDOW]
    if not inside or not outside:
        return
    worst_in = max(last_checked(k) for k in inside)
    best_out = min(last_checked(k) for k in outside)
    assert worst_in <= best_out, (
        "an unchanged key with newer evidence sits inside the window while "
        "a staler unchanged key was pushed out: "
        f"window max last-checked r{worst_in} > outside min r{best_out}"
    )


def test_ordering_is_deterministic():
    assert list(entry_mod.queries()) == list(entry_mod.queries())


def _key_revs():
    with open(os.path.join(REPO, "KEY_REVS.json")) as fh:
        return json.load(fh)


def test_key_fingerprints_match_committed_snapshot():
    """Change-aware rotation (VERDICT r5 task 3): KEY_REVS.json must
    track the registry's current implementation fingerprints. If this
    fails you changed a key's implementation (or a module it rides)
    without refreshing the snapshot — run `python tests/refresh_key_revs.py`
    so the driver window re-verifies the changed keys."""
    from tests.keyfp import key_fingerprints

    current = key_fingerprints(entry_mod)
    snap = {k: v["fp"] for k, v in _key_revs()["revs"].items()}
    stale = sorted(
        k for k in set(current) | set(snap) if current.get(k) != snap.get(k)
    )
    assert not stale, (
        f"{len(stale)} key fingerprint(s) drifted from KEY_REVS.json: "
        f"{stale} — run `python tests/refresh_key_revs.py`"
    )


def test_module_graph_sees_every_import():
    """An unparenthesized ``from .x import a, b`` must not hide the
    import on the next line: ``dedup``'s function-local imports and
    ``events``' second ``..functions`` import are all dependencies."""
    import giraph_spark
    from tests.keyfp import giraph_module_graph

    _, deps = giraph_module_graph(os.path.dirname(giraph_spark.__file__))
    assert {
        "giraph_spark.functions.lsh",
        "giraph_spark.graph",
        "giraph_spark.plans.gear",
    } <= deps["giraph_spark.functions.dedup"]
    assert "giraph_spark.functions.lsh" in deps["giraph_spark.streaming.events"]


def test_no_key_staler_than_window_math_allows():
    """Rotation-hygiene bound as a failing test (VERDICT r7 task 7):
    with a 50-key window over a registry of R keys, a full lap takes
    ceil(R / 50) rounds, so no checked key's evidence may be more than
    that many rounds behind the latest recorded round. The r4-stale
    vector keys sat exactly at this bound going into r8 (7 − 4 = 3 =
    ceil(138/50)); if the registry outgrows the window or a key is
    crowded out for a full lap, this fails instead of the staleness
    living only in VERDICT prose."""
    hist = _history()
    if not hist:
        return
    latest = max(r for rounds in hist.values() for r in rounds)
    ks = list(entry_mod.queries())
    lap = -(-len(ks) // DRIVER_WINDOW)
    # An over-bound key is excused ONLY while it sits inside the driver
    # window prefix: the reserved overdue quota (VERDICT r11 task 1)
    # guarantees it is re-checked at the very next CORRECTNESS drop, so
    # the debt is structurally draining — the repo is merely between
    # the builder's fix and the driver's recording of it. An over-bound
    # key OUTSIDE the window is the r11 failure mode (starved rotation,
    # unbounded staleness) and still fails.
    over = {
        k: max(hist[k])
        for k in ks
        if k in hist
        and latest - max(hist[k]) > lap
        and ks.index(k) >= DRIVER_WINDOW
    }
    assert not over, (
        f"keys with driver evidence older than the {lap}-round lap bound "
        f"(latest recorded round r{latest}) AND not scheduled in the "
        f"driver window's next pass: {over}"
    )


def test_overdue_keys_lead_the_window():
    """Reserved stale quota (VERDICT r11 task 1): keys whose committed
    evidence would cross the lap bound at the next recorded round must
    sit inside the driver window NO MATTER how many keys changed this
    round — r11 starved rotation by spending all 50 slots on 13 new +
    37 re-fingerprinted keys, pushing graph_mutations past the bound."""
    ks = list(entry_mod.queries())
    hist = _history()
    over = _overdue(ks, hist)
    if len(over) > DRIVER_WINDOW:
        # genuine contention: registry outgrew the window's lap — the
        # lap-bound test will fail loudly; ordering alone can't save it
        return
    late = [k for k in over if ks.index(k) >= DRIVER_WINDOW]
    assert not late, (
        f"{len(late)} overdue keys pushed past the driver window: {late}"
    )


def test_changed_keys_reenter_driver_window():
    """Every key whose driver evidence is INVALID — its implementation
    fingerprint moved after its last driver check, in ANY round — must
    sort inside the driver's 50-key window, so stale evidence never
    silently covers newer code. When MORE such keys exist than the
    window holds (an edit to a widely-imported module re-flags its
    whole dependency cone; the overflow then drains over successive
    rounds), the weaker invariant holds: the window must be filled
    entirely with changed/never-checked keys, led by the
    longest-unchecked ones."""
    revs = _key_revs()
    hist = _history()

    def last_checked(k):
        return max(hist.get(k, {0}) or {0})

    changed = [
        k for k, v in revs["revs"].items() if v["rev"] > last_checked(k)
    ]
    ks = list(entry_mod.queries())
    overdue = set(_overdue(ks, hist))
    if len(changed) <= DRIVER_WINDOW:
        late = [k for k in changed if k in ks and ks.index(k) >= DRIVER_WINDOW]
        if late:
            # displacement is legal ONLY by the reserved overdue quota
            # (keys about to cross the lap bound outrank changed keys);
            # any other unchanged already-checked key inside the window
            # while changed keys overflow is a wasted slot
            window = ks[:DRIVER_WINDOW]
            filler = [
                k
                for k in window
                if k not in changed and k not in overdue and k in hist
            ]
            assert not filler, (
                f"changed keys pushed past the window ({late}) while "
                f"non-overdue unchanged keys hold slots: {filler}"
            )
    else:
        window = ks[:DRIVER_WINDOW]
        stale_unchanged_inside = [
            k
            for k in window
            if k not in changed and k not in overdue and k in hist
        ]
        assert not stale_unchanged_inside, (
            "window slots wasted on unchanged already-checked non-overdue "
            f"keys while changed keys overflow: {stale_unchanged_inside}"
        )
        # within the changed cohort, the scarce slots go to the
        # longest-unchecked keys
        inside = [k for k in window if k in changed]
        outside = [k for k in ks[DRIVER_WINDOW:] if k in changed]
        if inside and outside:
            assert max(last_checked(k) for k in inside) <= min(
                last_checked(k) for k in outside
            )
