"""Count the package's definition lines that only tests reach.

An AST pass over the top-level definitions (functions, classes and
assigned names) of every module under ``graph_importer_spark/``.  It
imports nothing from the package.  A definition is *reached* from a root
if a chain of name references leads to it: a bare name resolves to the
module's own definition or to what the module imports, and
``module.attr`` resolves through an imported module.  The roots are the
KG system's surface:

* the driver registry (``contract.QUERIES`` and ``contract.ORACLES``);
* every module under ``perfbench/`` and ``scripts/``, ``__spark_entry__``
  and ``cli``, whole;
* ``pipeline.run_pipeline``/``Pipeline`` and
  ``streaming.incremental_triples``;
* dunder names such as ``__version__``, which tools read by convention.

Prints, per module, the definition lines that the tests under ``tests/``
reach and no root does, then the total, then every definition that
neither reaches (nothing references it).  A name bound twice counts the
lines of both statements.  Exits 1, naming it, if a root does not
resolve: a renamed root would otherwise count its subtree as test-only.

    python scripts/reachability.py [REPO_DIR]
"""

from __future__ import annotations

import argparse
import ast
import sys
from collections import Counter
from pathlib import Path

PKG = "graph_importer_spark"
ROOT_DEFS = [
    ("contract", "QUERIES"),
    ("contract", "ORACLES"),
    ("pipeline", "run_pipeline"),
    ("pipeline", "Pipeline"),
    ("streaming", "incremental_triples"),
]
WHOLE_PKG_MODULES = ["cli"]


class Module:
    def __init__(self, name: str, path: Path):
        self.name = name
        self.tree = ast.parse(path.read_text(), str(path))
        # name -> the top-level statements that bind it
        self.defs: dict[str, list[ast.stmt]] = {}
        for node in self.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs.setdefault(node.name, []).append(node)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            self.defs.setdefault(n.id, []).append(node)
        # local name -> (module, name) for ``from m import name``;
        # local name -> module for ``import m [as x]``.  Imports inside
        # functions count too.
        self.names: dict[str, tuple[str, str]] = {}
        self.modules: dict[str, str] = {}
        pkg_parts = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
        for node in ast.walk(self.tree):
            if isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    parts = pkg_parts[: len(pkg_parts) - node.level + 1]
                    base = ".".join(parts + ([base] if base else []))
                for a in node.names:
                    self.names[a.asname or a.name] = (base, a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    self.modules[a.asname or a.name.split(".")[0]] = (
                        a.name if a.asname else a.name.split(".")[0]
                    )

    def lines(self, name: str) -> int:
        return sum(n.end_lineno - n.lineno + 1 for n in self.defs[name])


def module_name(repo: Path, path: Path) -> str:
    parts = list(path.relative_to(repo).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def references(node: ast.AST, mod: Module, mods: dict[str, Module]) -> set[tuple[str, str]]:
    """The (module, name) pairs the code under ``node`` refers to."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            if n.id in mod.names:
                base, name = mod.names[n.id]
                out.add((base, name))
            elif n.id in mod.defs:
                out.add((mod.name, n.id))
        elif isinstance(n, ast.Attribute):
            chain = []
            head = n
            while isinstance(head, ast.Attribute):
                chain.append(head.attr)
                head = head.value
            if not isinstance(head, ast.Name):
                continue
            if head.id in mod.names:
                prefix = ".".join(mod.names[head.id])
            elif head.id in mod.modules:
                prefix = mod.modules[head.id]
            else:
                continue
            dotted = (prefix + "." + ".".join(reversed(chain))).split(".")
            # the longest prefix that names a module; the next part is
            # the definition
            for k in range(len(dotted) - 1, 0, -1):
                if ".".join(dotted[:k]) in mods:
                    out.add((".".join(dotted[:k]), dotted[k]))
                    break
    return out


def reach(roots: set[tuple[str, str]], mods: dict[str, Module]) -> set[tuple[str, str]]:
    seen: set[tuple[str, str]] = set()
    stack = list(roots)
    while stack:
        m, name = stack.pop()
        mod = mods.get(m)
        if mod is None or (m, name) in seen:
            continue
        if name not in mod.defs:
            if name in mod.names:  # a re-export, e.g. from a package __init__
                stack.append(mod.names[name])
            continue
        seen.add((m, name))
        for node in mod.defs[name]:
            stack.extend(references(node, mod, mods))
    return seen


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("repo", nargs="?", default=str(Path(__file__).resolve().parents[1]))
    args = ap.parse_args()
    repo = Path(args.repo).resolve()

    pkg_files = sorted((repo / PKG).rglob("*.py"))
    root_files = (
        sorted((repo / "perfbench").glob("*.py"))
        + sorted((repo / "scripts").glob("*.py"))
        + [repo / "__spark_entry__.py"]
    )
    test_files = sorted((repo / "tests").glob("*.py"))
    mods = {module_name(repo, p): Module(module_name(repo, p), p) for p in pkg_files + root_files + test_files}
    pkg = [module_name(repo, p) for p in pkg_files]

    def whole(m: str) -> set[tuple[str, str]]:
        return references(mods[m].tree, mods[m], mods)

    def resolves(m: str, n: str) -> bool:
        mod = mods.get(f"{PKG}.{m}")
        return mod is not None and (n in mod.defs or n in mod.names)

    unresolved = [f"{PKG}.{m}.{n}" for m, n in ROOT_DEFS if not resolves(m, n)]
    unresolved += [f"{PKG}.{m}" for m in WHOLE_PKG_MODULES if f"{PKG}.{m}" not in mods]
    if unresolved:
        print(f"unresolved root: {', '.join(unresolved)}", file=sys.stderr)
        return 1
    roots = {(f"{PKG}.{m}", n) for m, n in ROOT_DEFS}
    roots |= {(m, n) for m in pkg for n in mods[m].defs if n.startswith("__") and n.endswith("__")}
    for m in [module_name(repo, p) for p in root_files] + [f"{PKG}.{m}" for m in WHOLE_PKG_MODULES]:
        roots |= whole(m)
    live = reach(roots, mods)
    tested = reach(set().union(*(whole(module_name(repo, p)) for p in test_files)), mods)

    every = {(m, n) for m in pkg for n in mods[m].defs}
    test_only = (every & tested) - live
    unreferenced = sorted(every - live - tested)
    per_module = Counter()
    for m, n in test_only:
        per_module[m] += mods[m].lines(n)

    for m in sorted(per_module):
        print(f"{per_module[m]:7,d}  {m}")
    total = sum(mods[m].lines(n) for m, n in every)
    print(f"{sum(per_module.values()):7,d}  reached only by tests, of {total:,d} definition lines")
    for m, n in unreferenced:
        print(f"  unreferenced {mods[m].lines(n):5d}  {m}.{n}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
