"""Every Python file in the repository compiles with warnings as errors, so
the package and its entry module import clean under ``python -W error``
(an invalid string escape such as ``'\\pZ'`` is a compile-time warning)."""

from __future__ import annotations

import os
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python_files():
    for root, dirs, files in os.walk(REPO):
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
