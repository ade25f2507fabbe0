"""Source lint: an operator has one join strategy and one body. No
function in the package takes a ``broadcast`` or ``broadcast_*``
parameter — each join is broadcast or not by the operator's one rule —
and none takes an ``impl`` parameter: each kernel has one body, gated
by its DuckDB oracle. A check has one compile rule: no signature in
validation.py or serialize.py takes ``mode``, ``spark_format`` or
``inline_max_rows`` (native SQL where provably identical, else the Arrow
formula; a local dimension inlines, any other anti-joins), and the package
has none of the switches that no caller set off their default
(``verify_row_key``, ``infer_schema``, ``trigger_available_now``). So
callers have no switch whose other value every test would need to
cover."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "pandasschema_spark"


def _params(args: ast.arguments):
    named = args.posonlyargs + args.args + args.kwonlyargs
    return [a.arg for a in named] + [a.arg for a in (args.vararg, args.kwarg) if a]


def _signature_params():
    """(module, line, parameter) for every function and lambda."""
    for p in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                for name in _params(node.args):
                    yield str(p.relative_to(PKG)), node.lineno, name


def test_no_broadcast_parameter_in_any_signature():
    found = [f for f in _signature_params()
             if f[2] == "broadcast" or f[2].startswith("broadcast_")]
    assert found == [], found


def test_no_impl_parameter_in_any_signature():
    found = [f for f in _signature_params() if f[2] == "impl"]
    assert found == [], found


def test_no_compile_override_on_any_check():
    found = [f for f in _signature_params()
             if f[0] in ("validation.py", "serialize.py") and f[2] in ("mode", "spark_format", "inline_max_rows")]
    assert found == [], found


def test_no_switch_that_no_caller_sets():
    found = [f for f in _signature_params()
             if f[2] in ("verify_row_key", "infer_schema", "trigger_available_now")]
    assert found == [], found
