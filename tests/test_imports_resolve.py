"""Every import inside ``beats_spark`` and ``beats_analytics`` that
names one of the two packages names a module and a name that exist.

A function-level ``from .x import y`` only fails when the function is
called, so a deleted module or a renamed helper can hide behind it
until some rarely-run path reaches it; the same holds for the
analytics package's ``from beats_spark.x import y``. This check is
static: it parses each module with ``ast`` and never imports
anything."""

from __future__ import annotations

import ast
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGES = ("beats_spark", "beats_analytics")


def _module_file(parts):
    """``beats_spark/a/b`` parts → its source file, or None."""
    base = os.path.join(REPO, *parts)
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def _bindings(stmts):
    """Names a module binds at top level, including inside top-level
    ``if``/``try``/``with`` blocks."""
    names = set()
    for node in stmts:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0]
                         for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign,
                               ast.For)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            names.update(n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name))
        for field in ("body", "orelse", "finalbody"):
            if isinstance(node, (ast.If, ast.Try, ast.With)) and \
                    hasattr(node, field):
                names |= _bindings(getattr(node, field))
        if isinstance(node, ast.Try):
            for h in node.handlers:
                names |= _bindings(h.body)
    return names


def _modules():
    for pkg in PACKAGES:
        for base, dirs, files in os.walk(os.path.join(REPO, pkg)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.join(base, f)


def _package_imports(path):
    """``(lineno, target module parts, imported names)`` for every
    relative ``from … import …`` in ``path``, and every absolute one
    into ``PACKAGES``, at any depth."""
    rel = os.path.relpath(path, REPO)
    parts = rel[:-len(".py")].split(os.sep)
    package = parts[:-1]  # __init__ and plain modules alike
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        if node.level:
            anchor = package[:len(package) - (node.level - 1)]
            target = anchor + (node.module.split(".") if node.module
                               else [])
        elif node.module.split(".")[0] in PACKAGES:
            target = node.module.split(".")
        else:
            continue
        yield node.lineno, target, [a.name for a in node.names]


def test_package_imports_resolve():
    bindings = {}
    problems = []
    for path in _modules():
        where = os.path.relpath(path, REPO)
        for lineno, target, names in _package_imports(path):
            mod = _module_file(target)
            dotted = ".".join(target)
            if mod is None:
                problems.append(f"{where}:{lineno}: no module {dotted}")
                continue
            if mod not in bindings:
                bindings[mod] = _bindings(ast.parse(
                    open(mod, encoding="utf-8").read(), mod).body)
            for name in names:
                if name == "*" or name in bindings[mod]:
                    continue
                if _module_file(target + [name]) is not None:
                    continue  # a submodule of the package
                problems.append(
                    f"{where}:{lineno}: {dotted} has no name {name!r}")
    assert not problems, "\n".join(problems)


def test_a_dangling_import_is_reported(tmp_path, monkeypatch):
    """The check itself: a function-level import of a missing module
    and of a missing name, relative or absolute, fail it."""
    pkg = tmp_path / "beats_spark"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "sub" / "a.py").write_text("def kept():\n    pass\n")
    (pkg / "sub" / "b.py").write_text(
        "from .a import kept\n"
        "def f():\n"
        "    from ..gone import x\n"
        "    from .a import missing\n"
        "    from beats_spark.sub.a import kept, lost\n"
        "    from beats_spark.void import y\n")
    monkeypatch.setattr(sys.modules[__name__], "REPO", str(tmp_path))
    monkeypatch.setattr(sys.modules[__name__], "PACKAGES",
                        ("beats_spark",))
    with pytest.raises(AssertionError) as exc:
        test_package_imports_resolve()
    msg = str(exc.value)
    assert "no module beats_spark.gone" in msg
    assert "beats_spark.sub.a has no name 'missing'" in msg
    assert "beats_spark.sub.a has no name 'lost'" in msg
    assert "no module beats_spark.void" in msg
    assert "kept" not in msg


def test_shipper_never_imports_analytics():
    """The boundary runs one way: ``beats_analytics`` builds on the
    shipper, and no ``beats_spark`` module imports it back."""
    problems = []
    for path in _modules():
        rel = os.path.relpath(path, REPO)
        if rel.split(os.sep)[0] != "beats_spark":
            continue
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        for node in ast.walk(tree):
            mods = ([node.module or ""] if isinstance(node, ast.ImportFrom)
                    else [a.name for a in node.names]
                    if isinstance(node, ast.Import) else [])
            if any(m.split(".")[0] == "beats_analytics" for m in mods):
                problems.append(f"{rel}:{node.lineno}")
    assert not problems, "\n".join(problems)
