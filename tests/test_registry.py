"""Registry loading contract."""

from __future__ import annotations

import importlib

import pytest

from hadoop_based_distributed_batch_processing_system_spark import registry


def test_load_all_raises_on_a_module_import_error(monkeypatch):
    """One broken operator module fails the whole load: the driver
    entry points must never see a partial registry."""
    broken = "hadoop_based_distributed_batch_processing_system_spark.operators.graph"
    real_import = importlib.import_module

    def import_module(name, *args, **kwargs):
        if name == broken:
            raise ImportError(f"simulated failure importing {name}")
        return real_import(name, *args, **kwargs)

    monkeypatch.setattr(importlib, "import_module", import_module)
    with pytest.raises(ImportError, match="simulated failure"):
        registry.load_all()
