"""The positional-anchor decision has one owner: ``_order.py``.

Every other module asks ``order_key``/``positions`` for an order or for
positions, ``labeled`` for a frame indexed by its labels, and ``align``
for the rows paired by label; none may reach for
the branch helpers behind them.  (The
sources still mint the in-scan label column — that is not a branch.)
"""
import ast
import pathlib

import pandas_expr_spark

PKG = pathlib.Path(pandas_expr_spark.__file__).parent
OWNER = PKG / "_order.py"
PRIVATE = {"_attach_rowid", "_labels_valid", "_label_types", "_comparable"}


def _references(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id in PRIVATE:
            yield node.lineno, node.id
        elif isinstance(node, ast.Attribute) and node.attr in PRIVATE:
            yield node.lineno, node.attr
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                if alias.name in PRIVATE:
                    yield node.lineno, alias.name


def test_anchor_helpers_stay_in_owner():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == OWNER:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        hits += [f"{path.relative_to(PKG)}:{ln}: {name}"
                 for ln, name in _references(tree)]
    assert not hits, "anchor helpers used outside _order.py:\n" + \
        "\n".join(hits)


def test_owner_exposes_four_functions():
    from pandas_expr_spark import _order
    assert _order.__all__ == ["align", "labeled", "order_key", "positions"]
    assert PRIVATE <= set(vars(_order))
