"""The query contract of ``__spark_entry__`` and the registry behind it.

``queries()`` and ``oracle_sql()`` are plain views of
``edsnlp_spark.queries.all_queries()``; the registry must fail loudly
rather than lose a query module or let two modules share a name.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import pkgutil
import sys

import pytest
from pyspark.sql import DataFrame

import edsnlp_spark.queries
import edsnlp_spark.queries.domain
import edsnlp_spark.queries.lexicon  # noqa: F401 (delattr target below)
from edsnlp_spark.queries import all_queries

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "spark_entry", os.path.join(_REPO, "__spark_entry__.py"))
_entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_entry)


def test_oracle_keys_match_query_keys():
    assert set(_entry.oracle_sql()) == set(_entry.queries())


def test_queries_are_the_registry():
    registry = all_queries()
    assert _entry.queries() == {n: fn for n, (fn, _) in registry.items()}
    assert _entry.oracle_sql() == {n: sql for n, (_, sql) in registry.items()
                                   if sql}


def test_no_key_carries_a_window_prefix():
    assert not [k for k in _entry.queries() if k.startswith("a0_")]


def test_entry_returns_dataframe_with_stable_schema(spark):
    df = _entry.entry(spark)
    assert isinstance(df, DataFrame)
    assert df.schema == _entry.entry(spark).schema
    assert df.count() >= 0


def test_registry_is_every_query_module():
    """Each module of the package that defines QUERIES contributes all of
    its names: the per-module sizes sum to the registry size."""
    pkg = edsnlp_spark.queries
    sizes = {}
    for info in pkgutil.iter_modules(pkg.__path__):
        mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
        if hasattr(mod, "QUERIES"):
            sizes[info.name] = len(mod.QUERIES)
    assert sum(sizes.values()) == len(all_queries()), sizes


def test_registry_raises_when_a_module_fails_to_import(monkeypatch):
    # Both patches: with only the sys.modules entry, ``from . import
    # lexicon`` finds the package attribute and never imports.
    monkeypatch.setitem(sys.modules, "edsnlp_spark.queries.lexicon", None)
    monkeypatch.delattr(edsnlp_spark.queries, "lexicon")
    with pytest.raises(ImportError):
        all_queries()


def test_registry_raises_on_a_name_defined_twice(monkeypatch):
    domain = edsnlp_spark.queries.domain
    monkeypatch.setattr(domain, "QUERIES", {
        **domain.QUERIES, "negation_tokens": (None, None)})
    with pytest.raises(ValueError, match="negation_tokens"):
        all_queries()
