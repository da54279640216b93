"""The registry is one ordered import table, and the staged-artifact caches
are one decorator: pins for both (no Spark session needed)."""

from __future__ import annotations

import hashlib
import sys
from types import SimpleNamespace

import pytest

from phabricator_etl_spark import registry


def test_registry_order_is_pinned():
    names = list(registry.queries_dict())
    assert len(names) == 225
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest.startswith("c090ee609d1a3010"), digest
    assert len(registry.oracles_dict()) == 225


def test_broken_family_module_raises(monkeypatch):
    """A family that fails to import must fail the registry loudly, not drop
    its queries from the bench and the oracle sweep."""
    monkeypatch.setitem(sys.modules, "phabricator_etl_spark.plans.cdc", None)
    with pytest.raises(ImportError):
        registry.all_queries()
    monkeypatch.undo()
    bogus = (*registry.QUERY_TABLE, ("plans.no_such_family", "NO_QUERIES"))
    monkeypatch.setattr(registry, "QUERY_TABLE", bogus, raising=False)
    with pytest.raises(ModuleNotFoundError):
        registry.all_queries()


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_session_cache_evicts_other_applications():
    from phabricator_etl_spark.session import SESSION_CACHES, session_cached

    calls = []

    @session_cached
    def build(spark, path):
        calls.append((spark.sparkContext.applicationId, path))
        return len(calls)

    try:
        a, b = _fake_spark("app-a"), _fake_spark("app-b")
        assert build(a, "p") == build(a, "p") == 1
        assert build(a, "q") == 2
        # a new application evicts every entry the stopped one owned
        assert build(b, "p") == 3
        assert set(build.cache) == {("app-b", "p")}
        assert calls == [("app-a", "p"), ("app-a", "q"), ("app-b", "p")]
    finally:
        SESSION_CACHES[:] = [c for c in SESSION_CACHES if c is not build.cache]
