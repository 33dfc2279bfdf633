"""Global driver-contract consistency: no silent cross-module key
collisions (dict.update would hide them), every oracle belongs to a
query, the rows-only set stays pinned to the documented sketch floor,
and every entry is documented."""

import pytest

import __spark_entry__ as entry


def _modules():
    """The contract modules exactly as queries()/oracle_sql() walk them."""
    return dict(entry._contract_modules())


def test_no_cross_module_key_collisions():
    seen: dict[str, str] = {}
    for mod_name, mod in _modules().items():
        for k in mod.queries():
            assert k not in seen, f"{k} defined in both {seen[k]} and {mod_name}"
            seen[k] = mod_name


def test_merge_guard_raises_on_collision():
    # entry.queries() itself now raises if a module shadows a BASE
    # entry (the checked _merge) — pin the guard's behavior directly
    with pytest.raises(ValueError, match="collision"):
        entry._merge({"q_having": 1}, {"q_having": 2}, "demo")
    # and the full registry builds clean through the guard
    qs = entry.queries()
    assert len(qs) == len(set(qs))


def test_every_oracle_has_a_query_and_rows_only_floor_is_pinned():
    qs, os = entry.queries(), entry.oracle_sql()
    assert set(os) <= set(qs)
    rows_only = set(qs) - set(os)
    # every rows-only entry must be declared in ORACLE_EXCLUSIONS with
    # a reason naming its oracle-backed twin — nothing lands rows-only
    # silently, and stale exclusions (entry gained an oracle or was
    # removed) fail just as loudly
    assert rows_only == set(entry.ORACLE_EXCLUSIONS), (
        f"rows-only set {sorted(rows_only)} != declared exclusions "
        f"{sorted(entry.ORACLE_EXCLUSIONS)}"
    )
    for name, reason in entry.ORACLE_EXCLUSIONS.items():
        assert len(reason.strip()) >= 40, f"{name}: reason too thin"
        # each excluded sketch must point at a real oracle-green twin
        twin = {"q_approx_distinct": "q_distinct_agg",
                "q_percentiles_approx": "q_percentiles"}[name]
        assert twin in reason and twin in os, (name, twin)
    # round 9: every exclusion also carries a bounded-error oracle so
    # sweeps verify it mechanically (pass (bounded)) instead of
    # recording an unverified rows-only line
    bounds = entry.oracle_bounds()
    assert set(bounds) == set(entry.ORACLE_EXCLUSIONS)
    for name, spec in bounds.items():
        assert spec["exact_sql"].strip(), name
        # either a relative tolerance or a quantile-bracket bound
        assert spec.get("rel_tol") or spec.get("brackets"), name
        for col, tol in spec.get("rel_tol", {}).items():
            assert 0 < tol <= 0.05, (name, col, tol)
        for col, (lo, hi) in spec.get("brackets", {}).items():
            assert lo in spec["exact_sql"] and hi in spec["exact_sql"], (name, col)


def test_every_entry_documented():
    for name, fn in entry.queries().items():
        assert fn.__doc__ and fn.__doc__.strip(), f"{name} has no docstring"


def test_per_module_oracle_keys_match():
    for mod_name, mod in _modules().items():
        assert set(mod.oracle_sql()) <= set(mod.queries()), mod_name
