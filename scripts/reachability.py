"""Report the top-level definitions in kukur_spark/ that no code reaches.

An AST walk, no imports and no Spark.  The roots are every Python file of
the repository outside kukur_spark/ and outside any tests/ directory
(__spark_entry__.py, bench.py, perfbench/, scripts/), every kukur_spark
module with a ``__main__`` block (the CLI), and the module-level
statements of every kukur_spark module that reachable code imports
(registry updates, source registration).  A top-level def, class or
assigned name is reachable when reachable code names it, directly,
through an import alias or as a module attribute; reaching a class
reaches all of its methods.  Resolution is by name, so the scan
over-approximates: a name shadowed by a local variable still counts as a
reference.

KEEP lists the definitions that stay although nothing reaches them, each
with its reason.  tests/test_reachability.py fails when the unreachable
set differs from KEEP, so new dead code has to be deleted or listed here.

Usage:
    python scripts/reachability.py            # list unreachable definitions
"""

from __future__ import annotations

import ast
import os
import sys
from typing import Dict, Iterable, List, Optional, Set, Tuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kukur_spark"

KEEP = {
    "kukur_spark.sources.Source": "the protocol every connector implements; documents the source API",
    "kukur_spark.sources.delta_dv.serialize_bitmap": "fixture encoder for the live deletion-vector read path",
    "kukur_spark.sources.delta_dv.z85_encode": "fixture encoder for the live deletion-vector read path",
    "kukur_spark.workloads_r2._merge_pass": "reference implementation the registered merge query is compared against",
    "kukur_spark.workloads_r7._emb_outlier_knn_exact": "exact reference the registered outlier query is compared against",
    "kukur_spark.workloads_r7._OUTLIER_CAP": "row cap of the exact outlier reference above",
}

Target = Tuple[str, str]  # (module, top-level name)


class Module:
    def __init__(self, name: str, path: str, tree: ast.Module):
        self.name = name
        self.path = path
        self.defs: Dict[str, List[ast.AST]] = {}
        self.body: List[ast.AST] = []
        self.aliases: Dict[str, Tuple[str, ...]] = {}
        for node in tree.body:
            names = _defined_names(node)
            for n in names:
                self.defs.setdefault(n, []).append(node)
            if not names:
                self.body.append(node)
        self.aliases.update(_imports_in(self.body, name, self.is_package))

    @property
    def is_package(self) -> bool:
        return os.path.basename(self.path) == "__init__.py"


def _defined_names(node: ast.AST) -> List[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        if all(isinstance(t, ast.Name) for t in node.targets):
            return [t.id for t in node.targets]
    if isinstance(node, (ast.AnnAssign, ast.AugAssign)) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _import_aliases(
    node: ast.AST, module: str, is_package: bool
) -> Dict[str, Tuple[str, ...]]:
    """local name -> ("mod", module) or ("sym", module, name)."""
    out: Dict[str, Tuple[str, ...]] = {}
    if isinstance(node, ast.Import):
        for a in node.names:
            if a.asname:
                out[a.asname] = ("mod", a.name)
            else:
                top = a.name.split(".")[0]
                out[top] = ("mod", top)
                out[a.name] = ("mod", a.name)  # never a Name; loads a.b.c
    elif isinstance(node, ast.ImportFrom):
        base = node.module or ""
        if node.level:
            parts = module.split(".")
            if not is_package:
                parts = parts[:-1]
            parts = parts[: len(parts) - (node.level - 1)]
            base = ".".join(parts + ([base] if base else []))
        for a in node.names:
            out[a.asname or a.name] = ("sym", base, a.name)
    return out


def _imports_in(
    nodes: Iterable[ast.AST], module: str, is_package: bool
) -> Dict[str, Tuple[str, ...]]:
    out: Dict[str, Tuple[str, ...]] = {}
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                out.update(_import_aliases(node, module, is_package))
    return out


class Scan:
    def __init__(self, root: str = ROOT):
        self.root = root
        self.modules: Dict[str, Module] = {}
        for path in _py_files(os.path.join(root, PACKAGE)):
            rel = os.path.relpath(path, root)[: -len(".py")].split(os.sep)
            if rel[-1] == "__init__":
                rel = rel[:-1]
            name = ".".join(rel)
            self.modules[name] = Module(name, path, _parse(path))
        self.reached: Set[Target] = set()
        self.loaded: Set[str] = set()
        self._work: List[Tuple[Module, List[ast.AST]]] = []

    # -- resolution -------------------------------------------------------

    def _load(self, module: str) -> None:
        parts = module.split(".")
        for i in range(1, len(parts) + 1):
            name = ".".join(parts[:i])
            mod = self.modules.get(name)
            if mod is not None and name not in self.loaded:
                self.loaded.add(name)
                self._work.append((mod, mod.body))

    def _reach_symbol(self, module: str, name: str, seen=None) -> Optional[str]:
        """Mark module.name reached; returns the module path if it is one."""
        seen = seen or set()
        if (module, name) in seen:
            return None
        seen.add((module, name))
        sub = f"{module}.{name}"
        if sub in self.modules:
            self._load(sub)
            return sub
        mod = self.modules.get(module)
        if mod is None:
            return None
        self._load(module)
        if name in mod.defs:
            if (module, name) not in self.reached:
                self.reached.add((module, name))
                self._work.append((mod, mod.defs[name]))
            return None
        alias = mod.aliases.get(name)
        if alias is not None:
            return self._resolve_alias(alias, seen)
        return None

    def _resolve_alias(self, alias: Tuple[str, ...], seen=None) -> Optional[str]:
        if alias[0] == "mod":
            self._load(alias[1])
            return alias[1]
        return self._reach_symbol(alias[1], alias[2], seen)

    def _visit(self, module: Optional[Module], nodes: List[ast.AST],
               aliases: Dict[str, Tuple[str, ...]]) -> None:
        for alias in aliases.values():
            self._load(alias[1])  # importing a module runs its body
            if alias[0] == "sym":  # `from pkg import submodule` runs it too
                self._load(f"{alias[1]}.{alias[2]}")
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute):
                    self._visit_attribute(module, node, aliases)
                elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    self._visit_name(module, node.id, aliases)

    def _visit_name(self, module, name, aliases) -> Optional[str]:
        if name in aliases:
            return self._resolve_alias(aliases[name])
        if module is not None and name in module.defs:
            return self._reach_symbol(module.name, name)
        return None

    def _visit_attribute(self, module, node: ast.Attribute, aliases) -> None:
        chain = []
        cur: ast.AST = node
        while isinstance(cur, ast.Attribute):
            chain.append(cur.attr)
            cur = cur.value
        if not isinstance(cur, ast.Name):
            return
        target = self._visit_name(module, cur.id, aliases)
        for attr in reversed(chain):
            if target is None:
                return
            target = self._reach_symbol(target, attr)

    # -- driver -----------------------------------------------------------

    def run(self) -> "Scan":
        for name, mod in self.modules.items():
            if any(_is_main_guard(node) for node in mod.body):
                self._load(name)
        for path in _root_files(self.root):
            tree = _parse(path)
            self._visit(None, tree.body, _imports_in(tree.body, "", False))
        while self._work:
            mod, nodes = self._work.pop()
            aliases = dict(mod.aliases)
            aliases.update(_imports_in(nodes, mod.name, mod.is_package))
            self._visit(mod, nodes, aliases)
        return self

    def unreachable(self) -> Dict[str, int]:
        """Qualified name -> line count of every unreached definition."""
        out: Dict[str, int] = {}
        for mod in self.modules.values():
            for name, nodes in mod.defs.items():
                if name.startswith("__") and name.endswith("__"):
                    continue
                if (mod.name, name) in self.reached:
                    continue
                out[f"{mod.name}.{name}"] = sum(
                    n.end_lineno - _first_line(n) + 1 for n in nodes
                )
        return out


def _is_main_guard(node: ast.AST) -> bool:
    """``if __name__ == "__main__":`` — the module is a ``python -m`` entry."""
    return (
        isinstance(node, ast.If)
        and isinstance(node.test, ast.Compare)
        and isinstance(node.test.left, ast.Name)
        and node.test.left.id == "__name__"
        and any(
            isinstance(c, ast.Constant) and c.value == "__main__"
            for c in node.test.comparators
        )
    )


def _first_line(node: ast.AST) -> int:
    decorators = getattr(node, "decorator_list", None) or [node]
    return min(d.lineno for d in decorators + [node])


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _py_files(top: str) -> Iterable[str]:
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = sorted(
            d for d in dirnames if d != "tests" and not d.startswith((".", "__"))
        )
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _root_files(root: str) -> Iterable[str]:
    for path in _py_files(root):
        rel = os.path.relpath(path, root)
        if rel.split(os.sep)[0] != PACKAGE:
            yield path


def unreachable(root: str = ROOT) -> Dict[str, int]:
    return Scan(root).run().unreachable()


def main() -> int:
    dead = unreachable()
    width = max((len(n) for n in dead), default=0)
    for name in sorted(dead):
        note = KEEP.get(name, "NOT IN KEEP")
        print(f"{name:<{width}}  {dead[name]:>5}  {note}")
    print(f"{len(dead)} unreachable definitions, {sum(dead.values())} lines")
    unexpected = sorted(set(dead) - set(KEEP))
    stale = sorted(set(KEEP) - set(dead))
    for name in stale:
        print(f"KEEP entry is reachable or gone: {name}")
    return 1 if unexpected or stale else 0


if __name__ == "__main__":
    sys.exit(main())
