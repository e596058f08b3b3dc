"""Registry bookkeeping invariants — the doc-count drift guard the
round-4 advice asked for: every tally PARITY.md cites is derived here
from registry.specs() so the docs can't silently diverge again."""

from myserver_datawarehouse_spark import registry
from myserver_datawarehouse_spark.plans import streaming_plans


def test_every_spec_has_an_oracle():
    specs = registry.specs()
    assert all(s.oracle is not None for s in specs), [
        s.name for s in specs if s.oracle is None
    ]
    assert len(registry.oracle_sql()) == len(specs)


def test_registry_size_matches_docs():
    # PARITY.md / SURVEY.md cite this total; bump it deliberately when
    # adding queries, never let prose drift from the registry.
    assert len(registry.specs()) == 238


def test_streaming_variant_count_matches_docs():
    variants = [
        n for n in dir(streaming_plans) if n.startswith("streaming_")
    ]
    assert len(variants) == 20  # PARITY.md §2.12 streaming variant count
    registered = {s.name for s in registry.specs()}
    assert set(variants) <= registered


ADJUDICATION_BUDGET = 50  # driver adjudicates ~50 queries/round, head-first


def test_staleness_debt_bounded():
    """No standing verdict may be older than one full rotation of the
    adjudication budget. The bound is DERIVED, not hard-coded: a
    registry of N queries on a 50/round budget fully rotates in
    ceil(N/50) rounds, so the stalest legitimate tier is
    newest_folded - ceil(N/50). Tiers are read through
    registry._staleness, which derives each query's round from the
    CORRECTNESS_r*.json records. The newest record on disk may lead
    the newest derived tier by at most one round."""
    import glob
    import math
    import re

    rounds = [
        int(re.search(r"_r(\d+)\.json$", p).group(1))
        for p in glob.glob("/root/repo/CORRECTNESS_r*.json")
    ]
    if not rounds:  # fresh clone without driver artifacts
        return
    newest_file = max(rounds)
    tiers: dict[int, list[str]] = {}
    for s in registry.specs():
        tiers.setdefault(registry._staleness(s.name), []).append(s.name)
    folded = [r for r in tiers if r > 0]
    assert folded, "no adjudication tier derived from the records"
    newest_folded = max(folded)
    # The fold may lag the newest on-disk record by at most one round.
    assert newest_file - newest_folded <= 1, (
        f"CORRECTNESS_r{newest_file}.json exists but the newest folded "
        f"tier is round {newest_folded}"
    )
    rotation = math.ceil(len(registry.specs()) / ADJUDICATION_BUDGET)
    for r in range(2, newest_folded - rotation):
        tier = tiers.get(r, [])
        assert not tier, (
            f"tier {r} still holds {len(tier)} queries but the "
            f"newest folded record is round {newest_folded} and a full "
            f"rotation is {rotation} rounds; the budget was not spent "
            f"on the stalest tier"
        )


def test_growth_budget_clears_head_and_stalest_tier():
    """Registry-growth discipline (round-8 verdict ask #7): the
    adjudication budget must cover the head tier (new/changed
    queries) PLUS the stalest standing tier, or the rotation never
    converges and verdicts age without bound."""
    tiers: dict[int, int] = {}
    for s in registry.specs():
        t = registry._staleness(s.name)
        tiers[t] = tiers.get(t, 0) + 1
    head = tiers.get(0, 0)
    standing = [t for t in sorted(tiers) if t > 0]
    stalest = tiers[standing[0]] if standing else 0
    assert head + stalest <= ADJUDICATION_BUDGET, (
        f"{head} never-adjudicated + {stalest} stalest-tier queries "
        f"exceed the {ADJUDICATION_BUDGET}/round budget; ship fewer "
        f"new queries this round or the stalest tier won't retire"
    )


def test_names_unique_and_sorted_by_staleness():
    specs = registry.specs()
    names = [s.name for s in specs]
    assert len(names) == len(set(names))
    # Staleness tiers are non-decreasing (never-adjudicated first).
    tiers = [registry._staleness(n) for n in names]
    assert tiers == sorted(tiers)


def test_committed_reports_cover_the_whole_registry():
    """Drift guard (round-8 verdict ask #2 — this count-drift bug
    shipped two rounds running): the committed PLANLINT.md and
    SHUFFLE.md artifacts must cover exactly len(registry.specs())
    queries. New queries shipped without regenerated reports fail the
    suite here, not in the next round's verdict."""
    import re

    n = len(registry.specs())

    with open("/root/repo/PLANLINT.md") as fh:
        planlint = fh.read()
    m = re.search(
        r"\*\*(\d+)/(\d+) queries clean; (\d+) allowlisted", planlint
    )
    assert m, "PLANLINT.md missing its clean/total header"
    clean, total, allowed = (int(g) for g in m.groups())
    assert total == n, (
        f"PLANLINT.md covers {total} queries but the registry has {n}; "
        f"re-run tools/plan_lint.py"
    )
    # clean + allowlisted account for every registry query
    assert clean + allowed == n

    with open("/root/repo/SHUFFLE.md") as fh:
        shuffle = fh.read()
    m = re.search(r"(\d+)/(\d+) queries shuffle ZERO", shuffle)
    assert m, "SHUFFLE.md missing its zero-shuffle header"
    assert int(m.group(2)) == n, (
        f"SHUFFLE.md covers {m.group(2)} queries but the registry has "
        f"{n}; re-run tools/shuffle_audit.py"
    )
