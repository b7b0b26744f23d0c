#!/usr/bin/env python
"""Fingerprint the code of every registered query and re-queue the
changed ones for driver re-verification.

Usage: python tools/fingerprints.py

A query's fingerprint is one sha256 over its builder's source, every
package function, class and module-level constant that source names
(transitively: through a global name, a module attribute such as
``dedup_ops.doc_shingles``, or an in-function package import), and its
whitespace-normalised oracle SQL. Sources are compared as parsed
``ast`` trees without docstrings or decorators, so comment, docstring
and layout edits leave a fingerprint alone. A builder's plan is a
function of that code: an unchanged fingerprint means an unchanged
plan. The converse does not hold; a refactor that keeps a plan still
re-queues the builders that reach it. ``ast.dump`` output differs
between Python minor versions, so fingerprints compare only under one
interpreter version.

The tool rewrites FINGERPRINTS.json, ``{name: [sha, since]}``. An
unchanged sha keeps its ``since``; a new or changed one gets the round
after the newest CORRECTNESS_r*.json, the first driver round that can
verify it. ``__spark_entry__`` re-queues every name whose newest green
driver row predates its ``since``. The changed names are printed as a
``tools/driver_sim.py --only`` list.
"""

from __future__ import annotations

import ast
import copy
import hashlib
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

PACKAGE = "movie_data_pipeline_spark"
FINGERPRINTS = ROOT / "FINGERPRINTS.json"

Key = tuple[str, str]  # (module, top-level name)


def _strip(node: ast.AST) -> ast.AST:
    """A copy of ``node`` without docstrings or decorators."""
    node = copy.deepcopy(node)
    for n in ast.walk(node):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            n.decorator_list = []
            body = n.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                n.body = body[1:] or [ast.Pass()]
    return node


class Sources:
    """The top-level definitions of one package's modules under
    ``root``, each module parsed on first use, and the fingerprint of
    any definition over everything it reaches."""

    def __init__(self, root: Path, package: str):
        self.root, self.package = root, package
        # module -> name -> ("def", key) | ("module", m) | ("import", m, name)
        self._bindings: dict[str, dict[str, tuple]] = {}
        self._nodes: dict[Key, ast.AST] = {}
        self._deps: dict[Key, tuple[str, frozenset[Key]]] = {}

    def _path(self, module: str) -> Path | None:
        base = self.root.joinpath(*module.split("."))
        for path in (base.with_suffix(".py"), base / "__init__.py"):
            if path.is_file():
                return path
        return None

    def _imports(self, stmt: ast.AST) -> dict[str, tuple]:
        """The package names one import statement binds."""
        pkg = self.package
        out: dict[str, tuple] = {}
        if isinstance(stmt, ast.Import):
            for a in stmt.names:
                if a.name == pkg or a.name.startswith(pkg + "."):
                    out[a.asname or pkg] = ("module", a.name if a.asname else pkg)
        elif (
            isinstance(stmt, ast.ImportFrom)
            and stmt.level == 0
            and (stmt.module == pkg or (stmt.module or "").startswith(pkg + "."))
        ):
            for a in stmt.names:
                sub = f"{stmt.module}.{a.name}"
                out[a.asname or a.name] = (
                    ("module", sub) if self._path(sub) else ("import", stmt.module, a.name)
                )
        return out

    def _scan(self, module: str, body: list[ast.stmt], out: dict[str, tuple]) -> None:
        for stmt in body:
            names: list[str] = []
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [
                    n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
                ]
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                out.update(self._imports(stmt))
            else:  # definitions under a module-level if/try/with
                for field in ("body", "orelse", "finalbody"):
                    self._scan(module, getattr(stmt, field, []), out)
                for handler in getattr(stmt, "handlers", []):
                    self._scan(module, handler.body, out)
            for name in names:
                self._nodes[(module, name)] = stmt
                out[name] = ("def", (module, name))

    def _module(self, module: str) -> dict[str, tuple]:
        if module not in self._bindings:
            self._bindings[module] = {}
            path = self._path(module)
            if path:
                tree = ast.parse(path.read_text())
                self._scan(module, tree.body, self._bindings[module])
        return self._bindings[module]

    def _lookup(self, module: str, name: str) -> tuple | None:
        """What ``name`` is in ``module``, following re-exports."""
        seen = set()
        while (module, name) not in seen:
            seen.add((module, name))
            binding = self._module(module).get(name)
            if binding is None and self._path(f"{module}.{name}"):
                return ("module", f"{module}.{name}")
            if binding is None or binding[0] != "import":
                return binding
            _, module, name = binding
        return None

    def _direct(self, key: Key) -> tuple[str, frozenset[Key]]:
        """The normalised source of ``key`` and the definitions it names."""
        if key not in self._deps:
            module = key[0]
            self._module(module)
            node = _strip(self._nodes[key])
            local: dict[str, tuple] = {}
            for n in ast.walk(node):
                local.update(self._imports(n))

            def ref(e: ast.AST) -> tuple | None:
                if isinstance(e, ast.Name):
                    b = local.get(e.id)
                    if b and b[0] == "import":
                        return self._lookup(b[1], b[2])
                    return b or self._lookup(module, e.id)
                if isinstance(e, ast.Attribute):
                    base = ref(e.value)
                    if base and base[0] == "module":
                        return self._lookup(base[1], e.attr)
                return None

            deps = set()
            for n in ast.walk(node):
                b = ref(n)
                if b and b[0] == "def":
                    deps.add(b[1])
            self._deps[key] = (ast.dump(node), frozenset(deps))
        return self._deps[key]

    def digest(self, key: Key, oracle: str) -> str:
        """sha256 over ``key``'s normalised source, that of every
        definition it reaches, and ``oracle``."""
        seen, todo = {key}, [key]
        while todo:
            for dep in self._direct(todo.pop())[1]:
                if dep not in seen:
                    seen.add(dep)
                    todo.append(dep)
        h = hashlib.sha256()
        for k in sorted(seen):
            h.update(f"{k[0]}:{k[1]}\n{self._direct(k)[0]}\n".encode())
        h.update(oracle.encode())
        return h.hexdigest()


def compute() -> dict[str, str]:
    """Registered query name -> fingerprint."""
    from movie_data_pipeline_spark.plans import REGISTRY

    sources = Sources(ROOT, PACKAGE)
    return {
        name: sources.digest(
            (spec.build.__module__, spec.build.__name__),
            " ".join((spec.oracle or "").split()),
        )
        for name, spec in REGISTRY.items()
    }


def _next_round() -> int:
    rounds = [
        int(m.group(1))
        for p in ROOT.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    ]
    return max(rounds, default=0) + 1


def main() -> int:
    shas = compute()
    stored = json.loads(FINGERPRINTS.read_text()) if FINGERPRINTS.exists() else {}
    since = _next_round()
    changed = [n for n in sorted(shas) if stored.get(n, [None])[0] != shas[n]]
    lines = [
        f"{json.dumps(n)}: {json.dumps([sha, since if n in changed else stored[n][1]])}"
        for n, sha in sorted(shas.items())
    ]
    FINGERPRINTS.write_text("{\n" + ",\n".join(lines) + "\n}\n")
    if not changed:
        print(f"{FINGERPRINTS.name}: every fingerprint is unchanged")
        return 0
    print(f"{FINGERPRINTS.name}: {len(changed)} changed, re-queued at round {since}")
    print(f"python tools/driver_sim.py --only {','.join(changed)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
