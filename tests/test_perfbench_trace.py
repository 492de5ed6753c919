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


def test_validated_load_runs_through_the_traced_bindings(spark, tmp_path):
    """The benchmark charges a validated load's work to the sources,
    validate and rownum layers by wrapping those functions' module
    bindings: the load reads its source once, numbers it once, and gates
    it once, each through its traced binding."""
    from aircan_spark.pipeline import run
    from perfbench.trace import Tracer

    src = tmp_path / "d.csv"
    src.write_text("sku,name\n1,a\n2,b\n3,c\n")
    tracer = Tracer(spark)
    checked = []
    tracer.hooks["validate.validate"] = lambda span, args, result: checked.append(
        result["row_count"]
    )
    tracer.install()
    try:
        res = run(spark, {
            "resource_path": str(src),
            "table_name": "traced",
            "warehouse": str(tmp_path / "wh"),
            "schema_descriptor": {"fields": [{"name": "sku", "type": "integer"},
                                             {"name": "name", "type": "string"}]},
            "validate": True,
        })
    finally:
        tracer.uninstall()
    spans = [(s.layer, s.name) for s in tracer.spans]
    for span in (("sources", "read_resource"), ("validate", "validate"),
                 ("rownum", "with_row_number")):
        assert spans.count(span) == 1, spans
    assert ("table", "write") in spans
    assert checked == [res["rows"]] == [3]
