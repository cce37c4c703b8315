"""Smoke tests for the driver contract in __spark_entry__.py."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path


_ENTRY = Path(__file__).resolve().parents[1] / "__spark_entry__.py"


def _load_entry():
    spec = importlib.util.spec_from_file_location("__spark_entry__", _ENTRY)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_entry_runs(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) == 10


def test_queries_and_oracles_consistent():
    mod = _load_entry()
    qs = mod.queries()
    os_ = mod.oracle_sql()
    assert qs, "no queries registered"
    assert set(os_) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name


def test_priority_window_contract():
    from sensql_presto_spark.queries import all_specs

    mod = _load_entry()
    specs = all_specs()
    assert len(mod.PRIORITY) == 50
    assert len(set(mod.PRIORITY)) == 50, "duplicate PRIORITY name"
    assert set(mod.PRIORITY) <= set(specs), set(mod.PRIORITY) - set(specs)

    aliases = [f"a{i:02d}_{name}" for i, name in enumerate(mod.PRIORITY)]
    qs = mod.queries()
    keys = list(qs)
    assert keys[:50] == aliases, "aliases are not the first 50 keys inserted"
    assert sorted(keys)[:50] == aliases, "aliases are not the first 50 keys sorted"
    for alias, name in zip(aliases, mod.PRIORITY):
        assert qs[alias] == qs[name] == specs[name].build, alias

    oracles = mod.oracle_sql()
    for alias, name in zip(aliases, mod.PRIORITY):
        assert (alias in oracles) == (specs[name].oracle is not None), alias
        if alias in oracles:
            assert oracles[alias] == oracles[name] == specs[name].oracle, alias
