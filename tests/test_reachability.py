"""Every package module is reachable from a shipped entry point.

Walks ``import`` / ``from ... import`` nodes (module level and inside
functions, absolute and relative) starting from ``__spark_entry__.py``,
the two bench scripts and the CLI scripts, and follows every
``ocr_hardsubx_spark`` module it reaches.  A module nothing reaches is
dead code and gets deleted; the few kept on purpose are listed below with
their reason.  Reaching one of them from an entry point also fails, so
the list cannot go stale.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ocr_hardsubx_spark"

ENTRY_POINTS = ["__spark_entry__.py", "bench.py", "bench_extra.py",
                *sorted(os.path.relpath(p, ROOT) for p in
                        glob.glob(os.path.join(ROOT, "scripts", "*.py")))]

KEPT_UNREACHED = {
    "functions.media_codecs":
        "media decoders behind operators.multimodal; due for deletion",
    "operators.multimodal":
        "binary media column operators; due for deletion with its codecs",
    "sources.catalog":
        "Iceberg-gated documents source; needs a runtime jar no CLI ships",
    "streaming.extract_stream":
        "streaming twin of the batch extraction job (README capability)",
    "streaming.stateful_sessions":
        "streaming twin of q_sessionize (README capability)",
}


def _module_file(root: str, name: str) -> str | None:
    base = os.path.join(root, *name.split("."))
    if os.path.isdir(base):
        init = os.path.join(base, "__init__.py")
        return init if os.path.exists(init) else None
    return base + ".py" if os.path.exists(base + ".py") else None


def _module_name(root: str, path: str) -> str:
    parts = os.path.relpath(path, root)[:-len(".py")].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_names(root: str, path: str):
    """Every dotted name an import statement in ``path`` may load."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    me = _module_name(root, path)
    package = me if path.endswith("__init__.py") else me.rpartition(".")[0]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = ".".join(parts[:len(parts) - node.level + 1])
                if node.module:
                    base = f"{base}.{node.module}"
            else:
                base = node.module
            yield base
            # ``from pkg import mod`` loads a submodule when one exists
            yield from (f"{base}.{a.name}" for a in node.names)


def unreached_modules(root: str, pkg: str, entry_points: list[str]
                      ) -> set[str]:
    """Modules of ``pkg`` under ``root`` no entry point imports."""
    seen: set[str] = set()
    todo = [os.path.join(root, p) for p in entry_points]
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(root, path):
            parts = name.split(".")
            if parts[0] != pkg:
                continue
            # importing a.b.c imports a and a.b first
            for i in range(1, len(parts) + 1):
                f = _module_file(root, ".".join(parts[:i]))
                if f is not None and f not in seen:
                    todo.append(f)
    modules = glob.glob(os.path.join(root, pkg, "**", "*.py"), recursive=True)
    return {_module_name(root, p) for p in modules if p not in seen}


def test_scripts_are_entry_points():
    assert any(p.startswith("scripts") for p in ENTRY_POINTS)


def test_walk_follows_relative_and_function_level_imports(tmp_path):
    files = {
        "main.py": "def run():\n    from pkg.sub import a\n",
        "pkg/__init__.py": "",
        "pkg/sub/__init__.py": "",
        "pkg/sub/a.py": "from . import b\nfrom ..c import f\n",
        "pkg/sub/b.py": "def g():\n    from .. import d\n",
        "pkg/c.py": "import os\n",
        "pkg/d.py": "",
        "pkg/dead.py": "import pkg.c\n",
    }
    for rel, text in files.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    assert unreached_modules(str(tmp_path), "pkg", ["main.py"]) == {
        "pkg.dead"}


def test_only_kept_modules_are_unreached():
    unreached = unreached_modules(ROOT, PKG, ENTRY_POINTS)
    assert unreached == {f"{PKG}.{m}" for m in KEPT_UNREACHED}, (
        "delete unreached modules, or list a kept one with its reason")
