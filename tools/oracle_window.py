"""Write the correctness driver's 50-query oracle window into
``tectonic_spark/operators/registry.py`` as ``PRIORITY``, and print it.

The driver checks the first 50 registered queries, and ``finalize_order``
puts ``PRIORITY`` first. Queries whose builder reaches a changed name come
first, then the rest; each part by last green round in
``CORRECTNESS_r*.json`` (oldest first, no green row is round 0), ties in
registration order. A builder reaches the top-level definitions of
``tectonic_spark/`` that it names (decorator and oracle included) and all
that those name in turn. A changed name is a top-level definition or
assignment whose lines ``git diff <base>`` changes; ``<base>`` added the
newest ``CORRECTNESS_r*.json``.

Usage: python tools/check_correctness.py --no-pushdown $(python tools/oracle_window.py)
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import json
import pathlib
import re
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "tectonic_spark"
REGISTRY_PY = ROOT / PKG / "operators" / "registry.py"

Key = tuple[str, str]  # (module, top-level name)


def _defined(s: ast.stmt) -> list[str]:
    if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [s.name]
    targets = s.targets if isinstance(s, ast.Assign) else [getattr(s, "target", None)]
    return [n.id for t in targets if t for n in ast.walk(t) if isinstance(n, ast.Name)]


def _span(s: ast.stmt) -> tuple[int, int]:
    """A statement's first and last line, decorators included."""
    return min([s.lineno] + [d.lineno for d in getattr(s, "decorator_list", [])]), s.end_lineno


def _bindings(stmts: list[ast.stmt]) -> dict[str, tuple[str, str | None]]:
    """alias -> (module, name), or (module, None) for a module, of the
    imports in ``stmts``."""
    out = {}
    for s in (n for st in stmts for n in ast.walk(st)):
        if isinstance(s, ast.Import):
            for a in s.names:
                top = a.name.split(".")[0]
                out[a.asname or top] = (a.name if a.asname else top, None)
        elif isinstance(s, ast.ImportFrom):
            if s.level:
                raise ValueError(f"line {s.lineno}: relative imports are not resolved")
            out.update({a.asname or a.name: (s.module, a.name) for a in s.names})
    return out


class Package:
    """The top-level definitions of ``tectonic_spark/`` and what they name."""

    def __init__(self, root: pathlib.Path = ROOT):
        self.modules: dict[str, str] = {}  # repo-relative path -> module
        self.defs: dict[str, dict[str, list[ast.stmt]]] = {}
        self.imports: dict[str, dict] = {}
        for path in sorted((root / PKG).rglob("*.py")):
            parts = path.relative_to(root).with_suffix("").parts
            mod = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
            self.modules[path.relative_to(root).as_posix()] = mod
            body = ast.parse(path.read_text(), str(path)).body
            self.defs[mod] = {}
            for s in body:
                for name in _defined(s):
                    self.defs[mod].setdefault(name, []).append(s)
            self.imports[mod] = _bindings(
                [s for s in body if isinstance(s, (ast.Import, ast.ImportFrom))]
            )
        self._refs: dict[Key, set[Key]] = {}

    def _resolve(self, mod: str, name: str | None, hops: int = 8) -> Key | None:
        """Where ``name`` of ``mod`` is defined, through re-exports."""
        if name in self.defs.get(mod, {}):
            return mod, name
        where, what = self.imports.get(mod, {}).get(name, (None, None))
        if f"{mod}.{name}" in self.defs or not (hops and what):
            return None
        return self._resolve(where, what, hops - 1)

    def refs(self, key: Key) -> set[Key]:
        """The top-level definitions that the definitions of ``key`` name."""
        if key not in self._refs:
            mod, name = key
            bound = {**self.imports[mod], **_bindings(self.defs[mod][name])}
            out = set()
            for node in (n for s in self.defs[mod][name] for n in ast.walk(s)):
                chain = []
                while isinstance(node, ast.Attribute):
                    chain.insert(0, node.attr)
                    node = node.value
                if isinstance(node, ast.Name):
                    where, what = bound.get(node.id, (mod, node.id))
                    if f"{where}.{what}" in self.defs or what is None:  # a module
                        where = where if what is None else f"{where}.{what}"
                        while len(chain) > 1 and f"{where}.{chain[0]}" in self.defs:
                            where = f"{where}.{chain.pop(0)}"
                        what = chain[0] if chain else None
                    out.add(self._resolve(where, what))
            self._refs[key] = out - {None, key}
        return self._refs[key]

    def touched(self, builders: dict[str, Key], changed: set[Key]) -> set[str]:
        """The queries whose builder reaches a name in ``changed``."""
        out = set()
        for query, builder in builders.items():
            seen, todo = {builder}, [builder]
            while todo:
                new = self.refs(todo.pop()) - seen
                seen |= new
                todo += new
            if seen & changed:
                out.add(query)
        return out

    def changed(self, diff: str) -> set[Key]:
        """The top-level names whose lines a ``git diff -U0`` changes. A pure
        deletion after line ``n`` changes what holds line ``n`` or ``n + 1``."""
        out, mod = set(), None
        for line in diff.splitlines():
            if line.startswith("+++ "):
                mod = self.modules.get(line[len("+++ b/") :])
            elif mod and (hunk := re.match(r"@@ -\S+ \+(\d+)(?:,(\d+))? @@", line)):
                lo, n = int(hunk[1]), int(hunk[2] or 1)
                hi = lo + n - 1 if n else lo + 1
                for name, stmts in self.defs[mod].items():
                    if any(first <= hi and lo <= last for first, last in map(_span, stmts)):
                        out.add((mod, name))
        return out


def builders(registry: dict) -> dict[str, Key]:
    """query -> (module, name) of its builder, in ``registry``'s order."""
    return {n: (q.builder.__module__, q.builder.__qualname__) for n, q in registry.items()}


def registered() -> dict[str, Key]:
    """The builders in registration order, in a process that has not imported
    the operators: the registry loads first, with an empty PRIORITY."""
    sys.path.insert(0, str(ROOT))
    spec = importlib.util.spec_from_file_location(f"{PKG}.operators.registry", REGISTRY_PY)
    registry = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(registry)
    registry.PRIORITY = ()
    importlib.import_module(f"{PKG}.operators")
    return builders(registry.REGISTRY)


def _round(path: pathlib.Path) -> int:
    return int(path.stem.rpartition("_r")[2])


def last_green(root: pathlib.Path = ROOT) -> dict[str, int]:
    """query -> the newest round in which its driver row passed."""
    out: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        for name, row in json.loads(path.read_text()).items():
            flags = (row["rows_match"], row["schema_match"], row["hash_match"])
            if row["err"] in (None, "no_oracle") and False not in flags:
                out[name] = max(out.get(name, 0), _round(path))
    return out


def window(order: list[str], touched: set[str], green: dict[str, int], size=50) -> list[str]:
    rank = {n: i for i, n in enumerate(order)}
    return sorted(order, key=lambda n: (n not in touched, green.get(n, 0), rank[n]))[:size]


def main() -> None:
    def git(*args: str) -> str:
        run = subprocess.run(["git", "-C", str(ROOT), *args], capture_output=True, text=True)
        run.check_returncode()
        return run.stdout

    newest = max(ROOT.glob("CORRECTNESS_r*.json"), key=_round)
    base = git("log", "-1", "--diff-filter=A", "--format=%H", "--", newest.name).strip()
    queries, pkg = registered(), Package()
    touched = pkg.touched(queries, pkg.changed(git("diff", "-U0", base, "--", PKG)))
    names = window(list(queries), touched, last_green())
    src = REGISTRY_PY.read_text()
    body = "".join(f'    "{n}",\n' for n in names)
    new = f"PRIORITY: tuple[str, ...] = (\n{body})\n"
    new = re.sub(r"^PRIORITY\b.*?^\)\n", new, src, count=1, flags=re.M | re.S)
    if new != src:
        REGISTRY_PY.write_text(new)
    print("\n".join(names))


if __name__ == "__main__":
    main()
