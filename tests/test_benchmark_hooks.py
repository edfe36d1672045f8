"""The archiver benchmark's traced run wraps package functions by name
(``perfbench/spans.py`` ``LAYERS``): a ``Class.attr`` entry is looked
up in ``owner.__dict__``, a function entry as a module attribute. A
renamed or removed hook would fail only inside a ``--trace 1`` run, so
this pins every entry here. The table is read from the file's source
(its literal assignments); nothing of the benchmark is run."""

from __future__ import annotations

import ast
import importlib
import os

SPANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "spans.py",
)


def _literals(*names: str) -> dict:
    """The values of ``spans.py``'s module-level literal assignments."""
    with open(SPANS) as f:
        tree = ast.parse(f.read())
    return {
        node.targets[0].id: ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.targets[0], ast.Name)
        and node.targets[0].id in names
    }


def test_every_traced_hook_resolves():
    spans = _literals("PKG", "LAYERS")
    assert spans.keys() == {"PKG", "LAYERS"}
    missing = []
    for layer, (mod_name, quals) in spans["LAYERS"].items():
        module = importlib.import_module(f"{spans['PKG']}.{mod_name}")
        for qual in quals:
            if "." in qual:
                cls_name, attr = qual.split(".")
                owner = getattr(module, cls_name, None)
                ok = owner is not None and attr in owner.__dict__
            else:
                ok = callable(getattr(module, qual, None))
            if not ok:
                missing.append(f"{layer}: {mod_name}.{qual}")
    assert not missing, missing
