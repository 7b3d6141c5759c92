"""Guards on the driver-facing registration order (ADVICE r2, low).

The driver verifies at most ~50 queries per round, walking ``queries()``
in insertion order. These tests pin the scheduling invariants so a new
query can never silently fall past the budget unverified.
"""

from __future__ import annotations

import __spark_entry__ as entrymod
from airflow_project_flight_price_analysis_spark import plans

DRIVER_BUDGET = 50


def test_priority_names_are_registered():
    names = set(entrymod.queries())
    missing = [n for n in plans._DRIVER_PRIORITY if n not in names]
    assert not missing, f"_DRIVER_PRIORITY names not registered: {missing}"


def test_touched_queries_lead():
    names = list(entrymod.queries())
    assert names[: len(plans._DRIVER_PRIORITY)] == list(plans._DRIVER_PRIORITY)


def test_unverified_queries_fit_in_driver_budget():
    """Every query lacking a green row in recorded CORRECTNESS artifacts
    must land inside the driver's per-round budget."""
    names = list(entrymod.queries())
    green = set(plans._latest_green_round())
    late_unverified = [
        n for i, n in enumerate(names)
        if n not in green and i >= DRIVER_BUDGET
    ]
    assert not late_unverified, (
        f"unverified queries ordered past the {DRIVER_BUDGET}-query driver "
        f"budget: {late_unverified}"
    )


def test_queries_and_oracles_share_order():
    qnames = list(entrymod.queries())
    onames = list(entrymod.oracle_sql())
    assert onames == [n for n in qnames if n in set(onames)]


def test_green_tier_orders_stalest_first():
    """Tier 3 (already driver-certified queries) must order by the
    round of their LATEST green row ascending — the freed budget slots
    automatically re-certify whatever the driver has not seen longest,
    with no hand-maintained rotation list. Since r9, certification
    FAMILIES are the exception: after the stalest member of each
    ``_CERT_FAMILIES`` group, the remaining members defer to the end
    of the schedule (one family never spends multiple budget rows per
    round re-certifying the same operator)."""
    names = list(entrymod.queries())
    latest = plans._latest_green_round()
    fam_members = {m for fam in plans._CERT_FAMILIES for m in fam}
    tier3 = [
        n for n in names
        if n not in plans._DRIVER_PRIORITY and n in latest
    ]
    # the deferred family members form a contiguous TAIL; everything
    # before it is stalest-first
    first_kept_by_fam: dict[int, str] = {}
    fam_of = {m: i for i, fam in enumerate(plans._CERT_FAMILIES)
              for m in fam}
    kept, deferred = [], []
    for n in tier3:
        f = fam_of.get(n)
        if f is not None and f in first_kept_by_fam:
            deferred.append(n)
        else:
            if f is not None:
                first_kept_by_fam[f] = n
            kept.append(n)
    assert tier3 == kept + deferred, (
        "deferred family members must trail the schedule: "
        f"{tier3[-8:]}"
    )
    rounds = [latest[n] for n in kept]
    assert rounds == sorted(rounds), (
        "green tier (family-deduped) not stalest-first: "
        f"{[(n, latest[n]) for n in kept[:10]]} ..."
    )
    # each deferred name is a family member whose kept representative
    # is at least as stale
    for n in deferred:
        rep = first_kept_by_fam[fam_of[n]]
        assert latest[rep] <= latest[n], (n, rep)
    # and the deferred tail itself stays stalest-first, so budget that
    # reaches it still certifies the oldest family residue first
    drounds = [latest[n] for n in deferred]
    assert drounds == sorted(drounds), deferred
