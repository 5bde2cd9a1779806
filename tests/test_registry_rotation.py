"""Mechanical staleness guard for the driver-gate prefix rotation.

The driver verifies only the first ``GATE_SLOTS`` entries of ``queries()``
per round, so registry.py derives that prefix from the CORRECTNESS_r*.json
gate files as the stalest registered names.  These tests fail the build if
the derivation drifts from the data (someone hardcodes a prefix again) or
if any registered query would exceed the staleness bound — converting the
per-round rotation from a chore into a mechanism.
"""

from __future__ import annotations

from glue_job_to_write_structured_data_on_s3_full_code_spark import registry


def test_prefix_is_the_priority_slice() -> None:
    """queries() must lead with exactly the GATE_SLOTS highest-priority
    names: bound-breakers first, then rewritten-since-last-gate names
    (r16), then plain staleness."""
    names = list(registry.QUERIES)
    prefix = names[: registry.GATE_SLOTS]
    assert tuple(prefix) == registry.VERIFIED_PREFIX
    expected = sorted(names, key=registry._staleness_key)[: registry.GATE_SLOTS]
    assert prefix == expected
    assert len(set(prefix)) == registry.GATE_SLOTS


def test_touched_queries_gate_next_round() -> None:
    """A query rewritten since its last green gate must be in the very
    next gate prefix (the r15 verdict's rotation blind spot), and the
    priority must expire once the gate catches up."""
    prefix = set(registry.VERIFIED_PREFIX)
    pending = {
        n
        for n in registry.QUERIES
        if registry.TOUCHED_IN_ROUND.get(n, 0) > registry.LAST_VERIFIED.get(n, 0)
    }
    assert pending <= prefix, sorted(pending - prefix)
    # expiry: once LAST_VERIFIED reaches the touch round, the name sorts
    # by plain staleness again (tier 1 in the key)
    for n in registry.TOUCHED_IN_ROUND:
        touch = registry.TOUCHED_IN_ROUND[n]
        if registry.LAST_VERIFIED.get(n, 0) >= touch:
            assert registry._staleness_key(n)[1] == 1


def test_bound_breakers_always_gate() -> None:
    """Touched-query priority must never displace a name that would
    exceed the staleness bound if skipped."""
    prefix = set(registry.VERIFIED_PREFIX)
    for name in registry.QUERIES:
        last = registry.LAST_VERIFIED.get(name, 0)
        if last == 0 or (
            registry.CURRENT_ROUND - last
        ) >= registry.MAX_STALENESS_ROUNDS:
            assert name in prefix, name


def test_no_registered_query_exceeds_staleness_bound() -> None:
    """Every query is either in the upcoming gate prefix or was gate-green
    within MAX_STALENESS_ROUNDS of the upcoming round.  A skipped rotation
    (or a never-gated query crowded out of the prefix) fails here."""
    prefix = set(registry.VERIFIED_PREFIX)
    stale = {}
    for name in registry.QUERIES:
        if name in prefix:
            continue  # about to be gated this round
        last = registry.LAST_VERIFIED.get(name, 0)
        behind = registry.CURRENT_ROUND - last
        if last == 0 or behind > registry.MAX_STALENESS_ROUNDS:
            stale[name] = last
    assert not stale, (
        f"queries gate-stale beyond {registry.MAX_STALENESS_ROUNDS} rounds "
        f"(upcoming round {registry.CURRENT_ROUND}): {stale} — grow the "
        "prefix coverage or check the CORRECTNESS_r*.json derivation"
    )


def test_gate_history_was_loaded() -> None:
    """The derivation actually found the driver's gate files (a path bug
    would silently mark everything never-gated and rotate arbitrarily)."""
    assert registry.CURRENT_ROUND >= 6
    assert len(registry.LAST_VERIFIED) >= 100


def test_prefix_names_are_registered_and_oracled() -> None:
    for name in registry.VERIFIED_PREFIX:
        assert name in registry.QUERIES
    # every prefix row should be strongly checkable except the documented
    # rows-only ops: non-SQL-expressible streaming / stateful paths, plus
    # minhash_lsh_fast (xxhash64 has no DuckDB equivalent; pair-set
    # equality to the oracled md5cw mode is pinned by tests/test_dedup.py)
    rows_only = {n for n in registry.VERIFIED_PREFIX if n not in registry.ORACLES}
    assert rows_only <= {"streaming_anomaly_alerts", "minhash_lsh_fast"}, rows_only


def test_touched_entries_are_registered_and_not_future() -> None:
    """The other half of the rotation audit: every TOUCHED_IN_ROUND key
    names a registered query (a typo or a retired name would silently
    give priority to nothing) and no value is past CURRENT_ROUND (a
    future round would keep the name prioritized after its gate)."""
    unknown = sorted(set(registry.TOUCHED_IN_ROUND) - set(registry.QUERIES))
    assert not unknown, unknown
    future = {
        n: r
        for n, r in registry.TOUCHED_IN_ROUND.items()
        if r > registry.CURRENT_ROUND
    }
    assert not future, future
