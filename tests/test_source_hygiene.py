"""Source hygiene: every Python file in the repository compiles with
warnings as errors, so the package and its entry module import clean under
``python -W error`` (an invalid string escape such as ``'\\pZ'`` is a
compile-time warning), and only ``session.py`` reads the environment."""

from __future__ import annotations

import ast
import os
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python_files(top=REPO):
    for root, dirs, files in os.walk(top):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        for name in files:
            if name.endswith(".py"):
                yield os.path.join(root, name)


def test_every_python_file_compiles_with_warnings_as_errors():
    failures = []
    paths = list(_python_files())
    assert any(p.endswith("__spark_entry__.py") for p in paths)
    for path in paths:
        with open(path, encoding="utf-8") as f:
            src = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(src, path, "exec", dont_inherit=True)
            except (SyntaxError, Warning) as e:
                failures.append(f"{os.path.relpath(path, REPO)}: {e}")
    assert not failures, "\n".join(failures)


def _env_reads(tree):
    """Line numbers where ``tree`` reads the process environment:
    ``os.environ`` / ``os.getenv`` attributes, or importing either name
    from ``os``."""
    names = {"environ", "getenv"}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in names
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            yield node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in names for a in node.names):
                yield node.lineno


def test_only_session_module_reads_the_environment():
    """Deployment settings (CPUs, shuffle partitions, driver memory) are
    read once, in ``session.py``; every other engine constant is code,
    so no module's behaviour hides behind an unset environment knob."""
    pkg = os.path.join(REPO, "grape_vector_db_spark")
    allowed = os.path.join(pkg, "session.py")
    failures = []
    for path in _python_files(pkg):
        if path == allowed:
            continue
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        failures += [
            f"{os.path.relpath(path, REPO)}:{line}" for line in _env_reads(tree)
        ]
    assert not failures, "environment read outside session.py:\n" + "\n".join(
        failures
    )
