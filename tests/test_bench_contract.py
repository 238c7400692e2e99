"""The traced benchmark run (``perfbench/run.py --trace 1``) wraps named
program functions by ``getattr`` (``perfbench/layers.py``); renaming,
inlining or moving one of them breaks the traced run. These checks pin
every wrapped name without starting Spark."""

import ast
import importlib
import inspect
import pathlib

import pytest

LAYERS = pathlib.Path(__file__).resolve().parents[1] / "perfbench" / "layers.py"


def _wrapped_functions() -> list[tuple[str, str]]:
    """``(module, function)`` pairs of ``layers.FUNCTIONS``, read with
    ``ast`` so the benchmark package is not imported."""
    for node in ast.parse(LAYERS.read_text()).body:
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "FUNCTIONS"
                        for t in node.targets)):
            return [(e.elts[0].value, e.elts[1].value)
                    for e in node.value.elts]
    raise AssertionError(f"{LAYERS} declares no FUNCTIONS list")


@pytest.mark.parametrize("module,name", _wrapped_functions())
def test_traced_function_is_module_level(module, name):
    mod = importlib.import_module(f"dataweb_spark.{module}")
    fn = getattr(mod, name, None)
    assert inspect.isfunction(fn), f"dataweb_spark.{module}.{name}"
    assert fn.__module__ == mod.__name__, fn.__module__


@pytest.mark.parametrize("cls_path,name", [
    ("plans.gateway.QueryGateway", "query"),
    ("plans.gateway.QueryGateway", "query_template"),
    ("sources.flight_service.RelayFlightServer", "get_flight_info"),
    ("sources.flight_service.RelayFlightServer", "do_get"),
])
def test_traced_method_is_defined_on_class(cls_path, name):
    module, cls_name = cls_path.rsplit(".", 1)
    cls = getattr(importlib.import_module(f"dataweb_spark.{module}"),
                  cls_name)
    assert inspect.isfunction(cls.__dict__.get(name)), f"{cls_path}.{name}"
