"""Driver-contract invariants for __spark_entry__: every registry module
on disk is discovered, and the pinned 50-gate window (_PRIORITY) leads
queries() verbatim, with oracle_sql() in the same order."""

from __future__ import annotations

from pathlib import Path

import __spark_entry__ as entry


def test_registry_modules_are_discovered():
    from defi_etl_platform_sqlglot_implementation__spark import registry

    pkg = Path(registry.__file__).parent
    on_disk = {f"{registry.__package__}.{p.stem}" for p in pkg.glob("registry*.py")}
    registered = {fn.__module__ for fn in registry.QUERIES.values()}
    assert registered == on_disk, registered ^ on_disk
    assert len(entry.queries()) == 305
    assert len(entry.oracle_sql()) == 304


def test_unproven_queries_lead_the_window():
    q = entry.queries()
    missing = [n for n in entry._PRIORITY if n not in q]
    assert not missing, missing
    # no duplicate entries (dict-ordering would silently dedup)
    assert len(entry._PRIORITY) == len(set(entry._PRIORITY)) == 50
    assert list(q)[:50] == entry._PRIORITY


def test_oracles_follow_query_order():
    q, o = list(entry.queries()), list(entry.oracle_sql())
    assert o == [n for n in q if n in set(o)]
