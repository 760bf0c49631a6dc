"""Logical plan nodes for the PySpark-native engine.

The reference (phofl/pandas-expr ``_expr.py:28-46``) models every operator as
an ``Expr`` node whose identity is a deterministic content hash of its class
and operands (``_expr.py:578-581``); equal subtrees are therefore the *same*
node, powering CSE, plan equality tests, and graph dedup.

We keep that design — but our nodes *lower to* PySpark ``DataFrame``
transformations instead of pandas task tuples.  Catalyst is the optimizer and
Tungsten the executor; the ``Expr`` tree here exists for

* deterministic identity (``token``) → scan-sharing CSE above Catalyst
  (reference ``combine_similar``, ``_expr.py:304-381`` — the one rewrite Spark
  will not do across separate DataFrame lineages),
* ``pprint``/``tree_repr`` plan introspection (reference ``_expr.py:103-108``),
* ``walk``/``find_operations`` (reference ``_expr.py:816-857``).

Each ``Node`` also has one attribute outside its identity, ``hint``:
``None``, or ``(plan, objects)`` — the Spark DataFrame the op produced and
the Spark objects a later peephole reads (the sort keys and pre-sort plan a
following ``head``/``tail`` turns into a TopK; the per-column predicates a
following ``where``/``mask`` inlines).  It is set once, by the
constructor's ``hint=`` argument, and is not tokenized.  A collection
reads it only while its own plan ``is`` the recorded one
(``FrameBase._hint``): a node is shared with frames over other plans
(``assign``'s callable view, set ops and ``_order.labeled`` rebuild a
frame over a new plan under the parent's node), and a hint read there would
apply to the wrong rows.

Lowering is *eager but lazy-in-Spark*: constructing a node immediately builds
the (unexecuted) Spark DataFrame, which gives us analyzer-validated schemas for
free — the Spark analogue of the reference's eager ``_meta``
(``_expr.py:595-597``).
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterator

__all__ = ["Expr", "tokenize"]


def _normalize(obj: Any) -> Any:
    """Deterministic, hashable normal form for operand values."""
    if isinstance(obj, Expr):
        return ("expr", obj.token)
    if isinstance(obj, (list, tuple)):
        return tuple(_normalize(o) for o in obj)
    if isinstance(obj, dict):
        return tuple(sorted(((k, _normalize(v)) for k, v in obj.items())))
    if isinstance(obj, set):
        return tuple(sorted(_normalize(o) for o in obj))
    if callable(obj):
        name = getattr(obj, "__name__", None) or repr(obj)
        mod = getattr(obj, "__module__", "")
        return ("callable", mod, name)
    return repr(obj)


def tokenize(*args: Any) -> str:
    """Deterministic content hash (reference ``tokenize`` usage,
    ``_expr.py:578-581``)."""
    h = hashlib.md5()
    for a in args:
        h.update(repr(_normalize(a)).encode())
    return h.hexdigest()[:16]


class Expr:
    """A logical-plan node: class identity + ordered operands.

    Mirrors reference ``Expr`` (``_expr.py:28-46``): child ``Expr``s are
    operands; identity is ``<opname>-<token>``.
    """

    _parameters: tuple[str, ...] = ()

    def __init__(self, *operands: Any):
        self.operands = list(operands)

    # -- identity ---------------------------------------------------------
    @property
    def token(self) -> str:
        return tokenize(type(self).__name__, *self.operands)

    @property
    def _name(self) -> str:
        return type(self).__name__.lower() + "-" + self.token

    def __hash__(self) -> int:  # reference _expr.py:110-111
        return hash(self._name)

    def __eq__(self, other: Any) -> bool:
        return isinstance(other, Expr) and self._name == other._name

    # -- tree access ------------------------------------------------------
    @property
    def dependencies(self) -> list["Expr"]:
        return [o for o in self.operands if isinstance(o, Expr)]

    def walk(self) -> Iterator["Expr"]:
        """Depth-first traversal (reference ``_expr.py:816-830``)."""
        yield self
        for dep in self.dependencies:
            yield from dep.walk()

    def find_operations(self, cls: type | tuple[type, ...]) -> Iterator["Expr"]:
        """All nodes of the given type(s) (reference ``_expr.py:832-857``)."""
        return (e for e in self.walk() if isinstance(e, cls))

    @property
    def _depth(self) -> int:
        deps = self.dependencies
        return 1 + (max(d._depth for d in deps) if deps else 0)

    # -- tree rewriting (reference ``_expr.py:621-686``) -------------------
    def substitute(self, substitutions: dict) -> "Expr":
        """Substitute terms within the tree (reference ``Expr.substitute``
        ``_expr.py:621-662``): keys may be sub-``Expr``s or literal
        operand values; boolean keys are ignored (ambiguous with flag
        operands, same caveat as the reference).  Returns a rewritten
        tree — node identity (token) changes exactly where something
        changed, so CSE/plan-equality downstream see the substitution."""
        if not substitutions:
            return self
        if self in substitutions:
            return substitutions[self]
        new, update = [], False
        for operand in self.operands:
            try:
                hit = (not isinstance(operand, bool)
                       and operand in substitutions)
            except TypeError:
                hit = False
            if hit:
                new.append(substitutions[operand])
                update = True
            elif isinstance(operand, Expr):
                val = operand.substitute(substitutions)
                if val._name != operand._name:
                    update = True
                new.append(val)
            elif isinstance(operand, dict):
                nd, changed = {}, False
                for k, v in operand.items():
                    try:
                        h = not isinstance(v, bool) and v in substitutions
                    except TypeError:
                        h = False
                    nd[k] = substitutions[v] if h else v
                    changed = changed or h
                new.append(nd if changed else operand)
                update = update or changed
            else:
                new.append(operand)
        if update:
            return type(self)(*new)
        return self

    def substitute_parameters(self, substitutions: dict) -> "Expr":
        """Substitute named parameters (reference
        ``Expr.substitute_parameters`` ``_expr.py:664-686``); unknown
        keys are ignored."""
        if not substitutions:
            return self
        changed = False
        new_operands = []
        for i, operand in enumerate(self.operands):
            if (i < len(self._parameters)
                    and self._parameters[i] in substitutions):
                new_operands.append(substitutions[self._parameters[i]])
                changed = True
            else:
                new_operands.append(operand)
        if changed:
            return type(self)(*new_operands)
        return self

    # -- display ----------------------------------------------------------
    def _operand_summary(self) -> str:
        parts = []
        for name, op in zip(self._parameters, self.operands):
            if isinstance(op, Expr):
                continue
            r = repr(op)
            if len(r) > 40:
                r = r[:37] + "..."
            parts.append(f"{name}={r}")
        # unnamed operands
        for op in self.operands[len(self._parameters):]:
            if isinstance(op, Expr):
                continue
            r = repr(op)
            if len(r) > 40:
                r = r[:37] + "..."
            parts.append(r)
        return ", ".join(parts)

    def tree_repr(self, indent: int = 0) -> str:
        """Reference ``tree_repr`` (``_expr.py:103-108``)."""
        header = " " * indent + f"{type(self).__name__}({self._operand_summary()})"
        lines = [header]
        for dep in self.dependencies:
            lines.append(dep.tree_repr(indent + 2))
        return "\n".join(lines)

    def pprint(self) -> None:
        print(self.tree_repr())

    def __repr__(self) -> str:
        return f"{type(self).__name__}<{self.token[:8]}>"


class Node(Expr):
    """Generic named plan node.

    Most of our operators don't need per-class behavior (lowering happens in
    the collection layer where the Spark DataFrame is built), so a single
    parameterized node class keeps the tree cheap while preserving identity
    semantics: ``Node("filter", predicate_desc, child)``.
    """

    def __init__(self, op: str, params: dict[str, Any] | None = None,
                 *children: "Expr", hint: tuple | None = None):
        self.op = op
        self.params = params or {}
        self.hint = hint
        super().__init__(op, self.params, *children)

    @property
    def token(self) -> str:
        return tokenize("Node", self.op, self.params,
                        *[c.token for c in self.dependencies])

    @property
    def _name(self) -> str:
        return self.op.lower() + "-" + self.token

    def substitute_parameters(self, substitutions: dict) -> "Node":
        """Node keeps named parameters in its ``params`` dict (not
        positional ``_parameters``) — substitute by key there (reference
        ``_expr.py:664-686`` adapted to the parameterized-node shape)."""
        if not substitutions:
            return self
        newp = {k: substitutions.get(k, v) for k, v in self.params.items()}
        if newp != self.params:
            return Node(self.op, newp, *self.dependencies)
        return self

    def _operand_summary(self) -> str:
        parts = []
        for k, v in self.params.items():
            r = repr(v)
            if len(r) > 40:
                r = r[:37] + "..."
            parts.append(f"{k}={r}")
        return ", ".join(parts)

    def tree_repr(self, indent: int = 0) -> str:
        header = " " * indent + f"{self.op}({self._operand_summary()})"
        lines = [header]
        for dep in self.dependencies:
            lines.append(dep.tree_repr(indent + 2))
        return "\n".join(lines)


def to_dot(expr: Expr, graph_attrs: dict | None = None) -> str:
    """DOT source for the expression tree (reference ``visualize``
    ``_expr.py:718-814``) — dependency-free; ``Expr.visualize`` renders it
    with graphviz when installed, else returns/saves this source."""
    lines = ["digraph plan {", '  rankdir="BT";',
             '  node [shape=box, fontname="monospace", fontsize=10];']
    for k, v in (graph_attrs or {}).items():
        lines.append(f'  graph [{k}="{v}"];')
    seen: dict[str, str] = {}
    counter = [0]

    def nid(e: Expr) -> str:
        name = e._name
        if name not in seen:
            seen[name] = f"n{counter[0]}"
            counter[0] += 1
        return seen[name]

    emitted: set[str] = set()

    def emit(e: Expr) -> None:
        i = nid(e)
        if i in emitted:
            return
        emitted.add(i)
        label = getattr(e, "op", type(e).__name__)
        summary = e._operand_summary()
        if summary:
            summary = summary.replace("\\", "\\\\").replace('"', '\\"')
            label = f"{label}\\n{summary[:60]}"
        lines.append(f'  {i} [label="{label}"];')
        for dep in e.dependencies:
            emit(dep)
            lines.append(f"  {nid(dep)} -> {i};")

    emit(expr)
    lines.append("}")
    return "\n".join(lines)


def _expr_visualize(self, filename: str | None = None, format: str = "png"):
    """Render the plan tree.  With graphviz installed returns a
    ``graphviz.Source`` (and writes ``filename`` if given); otherwise
    returns the DOT source string (written to ``filename``.dot if given)."""
    dot = to_dot(self)
    try:
        import graphviz
    except ImportError:
        if filename:
            with open(filename + ".dot", "w") as f:
                f.write(dot)
        return dot
    src = graphviz.Source(dot)
    if filename:
        src.render(filename, format=format, cleanup=True)
    return src


Expr.to_dot = lambda self: to_dot(self)
Expr.visualize = _expr_visualize
