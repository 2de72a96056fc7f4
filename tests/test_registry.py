"""Driver-contract integrity: every oracle has a query, names are stable."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod


def test_every_oracle_has_a_query():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    missing = sorted(set(oracles) - set(qs))
    assert not missing, f"oracles without queries: {missing}"


def test_query_names_are_stable_identifiers():
    for name in entrymod.queries():
        assert re.fullmatch(r"[a-z][a-z0-9_]*", name), name


def test_queries_are_callables():
    assert all(callable(fn) for fn in entrymod.queries().values())


def test_oracle_sql_is_nonempty_text():
    for name, sql in entrymod.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), name


def test_priority_names_all_resolve():
    """Every _PRIORITY entry must name a registered query — a typo in
    the rotation schedule would silently drop a window slot."""
    from impala_workload_analyzer_spark import registry

    qs = set(entrymod.queries())
    unknown = sorted(set(registry._PRIORITY) - qs)
    assert not unknown, f"_PRIORITY names without queries: {unknown}"


def test_priority_has_no_duplicates():
    from impala_workload_analyzer_spark import registry

    seen = set()
    dups = sorted(
        n for n in registry._PRIORITY if n in seen or seen.add(n)
    )
    assert not dups, f"duplicate _PRIORITY entries: {dups}"


def test_every_query_module_is_registered():
    """The registry imports a fixed module tuple; a new module defining
    SPARK_QUERIES that is missing from it would register nothing."""
    import importlib
    import pkgutil

    import impala_workload_analyzer_spark as pkg
    from impala_workload_analyzer_spark import registry

    defining = sorted(
        info.name
        for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
        if not info.name.endswith(".__main__")
        and hasattr(importlib.import_module(info.name), "SPARK_QUERIES")
    )
    assert defining, "walk found no query modules"
    missing = sorted(set(defining) - set(registry._MODULES))
    assert not missing, f"query modules absent from registry._MODULES: {missing}"
