"""Source lint: an operator picks its own join strategy. No function in
the package takes a ``broadcast`` or ``broadcast_*`` parameter — each
join is broadcast or not by the operator's one rule, so callers have no
switch whose other value every test would need to cover."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "pandasschema_spark"


def _params(args: ast.arguments):
    named = args.posonlyargs + args.args + args.kwonlyargs
    return [a.arg for a in named] + [a.arg for a in (args.vararg, args.kwarg) if a]


def test_no_broadcast_parameter_in_any_signature():
    found = []
    for p in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            for name in _params(node.args):
                if name == "broadcast" or name.startswith("broadcast_"):
                    found.append((str(p.relative_to(PKG)), node.lineno, name))
    assert found == [], found
