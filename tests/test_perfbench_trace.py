"""The benchmark's tracer wraps each listed table method at
``cls.__dict__[name]``: a method a class only inherits would not be traced
under that class's layer, and the install would fail."""

import importlib

from perfbench.trace import METHODS


def test_traced_methods_are_own_class_attributes():
    for (module, name), methods in METHODS.items():
        cls = getattr(importlib.import_module(module), name)
        missing = [m for m in methods if m not in cls.__dict__]
        assert not missing, f"{name} only inherits {missing}"
