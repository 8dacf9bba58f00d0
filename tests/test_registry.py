"""The head registry in `__spark_entry__` must fail loudly: a module
that cannot be imported, or two modules registering the same name,
raise instead of silently dropping or overwriting heads."""

from __future__ import annotations

import importlib

import pytest

import __spark_entry__ as E


def test_broken_registry_module_raises(monkeypatch):
    real = importlib.import_module

    def fake(name, *args, **kwargs):
        if name == "parallelutilities_jl_spark.operators.dedup":
            raise ImportError("simulated broken module")
        return real(name, *args, **kwargs)

    monkeypatch.setattr(importlib, "import_module", fake)
    with pytest.raises(ImportError, match="simulated broken module"):
        E.queries()
    with pytest.raises(ImportError, match="simulated broken module"):
        E.oracle_sql()


def test_duplicate_oracle_name_raises(monkeypatch):
    monkeypatch.setattr(
        E,
        "_registries",
        lambda: [({}, {"dup": "SELECT 1"}), ({}, {"dup": "SELECT 2"})],
    )
    with pytest.raises(ValueError, match="duplicate oracle name dup"):
        E.oracle_sql()
