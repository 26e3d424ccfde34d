"""Package surface: every top-level name in ``operators/`` and ``plans/``
is reached from code that runs outside the test suite.

The check parses the package with ``ast`` (no Spark) and follows name
references from the roots:

- registered ``@query`` functions;
- module-level code of package modules, other than imports, top-level
  definitions and ``__all__``;
- the scripts outside the package: ``tools/``, ``perfbench/``,
  ``bench.py`` and ``__spark_entry__.py``.

A def, class or assignment that no root reaches is code only tests run;
it fails the check unless ``ALLOWED`` names it with a reason. Allowed
names act as roots, and an allowed name that is reached anyway, or no
longer defined, is a dead entry and fails too.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = "olympic_athletes_etl_spark"
CHECKED = ("operators.", "plans.")
SCRIPTS = ("tools/*.py", "perfbench/*.py", "bench.py", "__spark_entry__.py")

ALLOWED = {
    "plans.dedup_q.d_simhash_pairs": (
        "all-pairs yardstick: test_dedup_recall pins d_simhash_banded's "
        "recall at exactly 1.0 against it"
    ),
    "plans.dedup_q.d_embedding_neardup_allpairs": (
        "all-pairs yardstick: test_dedup_recall measures "
        "d_embedding_neardup's recall against it"
    ),
    "plans.textstats.bpe_learn_merges": (
        "distributed BPE yardstick: test_round9_ops pins the production "
        "learner bpe_learn_merges_local bit-identical to it"
    ),
    "operators.store.resolve_data_dir": (
        "store accessor: the one safe path to a GenStore's current "
        "generation for readers outside a family's loader"
    ),
    "plans.relational.rollup_load": (
        "store accessor: the exact rollup family's loader, next to its "
        "store/append/compact functions; the queries read through ROLLUP"
    ),
}


def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO / PKG).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def _targets(stmt: ast.stmt) -> list[str]:
    """Names a module-level assignment binds; none when any target is an
    attribute or item (``f.__doc__ = ...`` is code that runs, not a
    definition)."""
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    names = [e for t in targets for e in (t.elts if isinstance(t, ast.Tuple) else [t])]
    if not all(isinstance(n, ast.Name) for n in names):
        return []
    return [n.id for n in names]


class Surface:
    """Top-level definitions of the package and the references between
    them. A definition is ``"<module>.<name>"``, the module relative to
    the package (``""`` is the package's own ``__init__``)."""

    def __init__(self) -> None:
        self.trees = {
            _module_name(p): ast.parse(p.read_text(), str(p))
            for p in sorted((REPO / PKG).rglob("*.py"))
        }
        self.defs: dict[str, tuple[str, ast.stmt]] = {}
        self.imports: dict[str, dict[str, tuple]] = {}
        for mod, tree in self.trees.items():
            self.imports[mod] = self._imports(tree.body)
            for stmt in tree.body:
                for name in self._defined(stmt):
                    self.defs[_join(mod, name)] = (mod, stmt)
        self.edges = {key: self._refs(stmt, mod) for key, (mod, stmt) in self.defs.items()}
        self.roots = self._package_roots() | self._script_roots()

    @staticmethod
    def _defined(stmt: ast.stmt) -> list[str]:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            return [stmt.name]
        if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            return [n for n in _targets(stmt) if n != "__all__"]
        return []

    def _imports(self, stmts) -> dict[str, tuple]:
        """alias -> ("mod", module) or ("sym", module, name) for every
        import of a package module among ``stmts`` (at any depth)."""
        out: dict[str, tuple] = {}
        for node in (n for s in stmts for n in ast.walk(s)):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name == PKG or a.name.startswith(PKG + "."):
                        if a.asname:
                            out[a.asname] = ("mod", a.name[len(PKG) + 1:])
                        else:
                            out[a.name.split(".")[0]] = ("mod", "")
            elif isinstance(node, ast.ImportFrom) and node.module and (
                node.module == PKG or node.module.startswith(PKG + ".")
            ):
                base = node.module[len(PKG) + 1:]
                for a in node.names:
                    sub = _join(base, a.name)
                    out[a.asname or a.name] = (
                        ("mod", sub) if sub in self.trees else ("sym", base, a.name)
                    )
        return out

    def _resolve(self, mod: str, name: str, seen=()) -> str | None:
        """The definition ``name`` means in ``mod``, through re-exports."""
        key = _join(mod, name)
        if key in self.defs:
            return key
        target = self.imports.get(mod, {}).get(name)
        if target and target[0] == "sym" and (mod, name) not in seen:
            return self._resolve(target[1], target[2], (*seen, (mod, name)))
        return None

    def _refs(self, node: ast.AST, mod: str | None) -> set[str]:
        """Definitions referenced anywhere inside ``node``: bare names
        looked up in package module ``mod`` (None for a script), and
        attribute chains off imported modules."""
        scope = {**self.imports.get(mod, {}), **self._imports([node])}
        out: set[str] = set()
        for n in ast.walk(node):
            chain: list[str] = []
            while isinstance(n, ast.Attribute):
                chain.insert(0, n.attr)
                n = n.value
            if not isinstance(n, ast.Name):
                continue
            target = scope.get(n.id)
            if target is None:
                key = self._resolve(mod, n.id) if mod is not None else None
                if key:
                    out.add(key)
                continue
            if target[0] == "sym":
                key = self._resolve(target[1], target[2])
                if key:
                    out.add(key)
                continue
            sub = target[1]
            for attr in chain:
                if _join(sub, attr) in self.trees:
                    sub = _join(sub, attr)
                    continue
                key = self._resolve(sub, attr)
                if key:
                    out.add(key)
                break
        return out

    def _is_query(self, stmt: ast.stmt, mod: str) -> bool:
        return any(
            isinstance(d, ast.Call)
            and "plans.registry.query" in self._refs(d.func, mod)
            for d in getattr(stmt, "decorator_list", ())
        )

    def _package_roots(self) -> set[str]:
        roots: set[str] = set()
        for mod, tree in self.trees.items():
            for stmt in tree.body:
                if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    continue
                if self._defined(stmt):
                    if self._is_query(stmt, mod):
                        roots.update(_join(mod, n) for n in self._defined(stmt))
                    continue
                if isinstance(stmt, ast.Assign) and _targets(stmt) == ["__all__"]:
                    continue
                if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant):
                    continue  # docstring
                roots |= self._refs(stmt, mod)
        return roots

    def _script_roots(self) -> set[str]:
        roots: set[str] = set()
        for pattern in SCRIPTS:
            for path in sorted(REPO.glob(pattern)):
                tree = ast.parse(path.read_text(), str(path))
                roots |= self._refs(tree, None)
        return roots

    def reached(self, extra=()) -> set[str]:
        seen: set[str] = set()
        todo = list(self.roots) + list(extra)
        while todo:
            key = todo.pop()
            if key not in seen:
                seen.add(key)
                todo.extend(self.edges.get(key, ()))
        return seen


def _join(mod: str, name: str) -> str:
    return f"{mod}.{name}" if mod else name


@pytest.fixture(scope="module")
def surface() -> Surface:
    return Surface()


def test_every_operator_and_plan_name_is_reached(surface):
    reached = surface.reached(ALLOWED)
    dead = sorted(k for k in surface.defs if k.startswith(CHECKED) and k not in reached)
    assert not dead, "reached only by tests (delete, or allowlist with a reason): " + ", ".join(dead)


def test_allowlist_carries_no_dead_entries(surface):
    gone = sorted(k for k in ALLOWED if k not in surface.defs)
    assert not gone, f"allowlisted but not defined: {gone}"
    reached = surface.reached()
    live = sorted(k for k in ALLOWED if k in reached)
    assert not live, f"allowlisted but reached from a root: {live}"
    assert all(reason.strip() for reason in ALLOWED.values())


def test_surface_resolves_aliases_and_local_imports(surface):
    """The walker itself: ``plans/__init__`` calls ``promote`` as
    ``_promote``, and ``w_dense_id`` imports ``dense_ids`` inside its
    body."""
    assert "plans.registry.promote" in surface.reached()
    assert "operators.scale.dense_ids" in surface.edges["plans.relational.w_dense_id"]
    assert "plans.relational.w_dense_id" in surface.roots
