"""Dead-code guard: every top-level ``def``/``class`` under
``dataflows_spark/``, in ``scripts/*.py`` and ``__spark_entry__.py``
must be named somewhere other than its own definition — in the
package, the tests, the scripts, the benchmark or
``__spark_entry__.py``. Names are read from the syntax tree
(identifiers, attributes and imported names), so a mention in a
docstring or comment does not keep a function alive, and neither does
a re-export from a package ``__init__.py``. stdlib only."""

from __future__ import annotations

import ast
import os
import subprocess
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "dataflows_spark"
TOP_LEVEL = ("__spark_entry__.py",)


def _tracked_py() -> list[str]:
    try:
        out = subprocess.run(
            ["git", "-C", REPO, "ls-files", "*.py"], capture_output=True, text=True, check=True
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):  # an exported tree, no .git
        out = [
            os.path.relpath(os.path.join(d, f), REPO)
            for d, _, fs in os.walk(REPO)
            for f in fs
            if f.endswith(".py")
        ]
    return sorted(p for p in out if os.path.exists(os.path.join(REPO, p)))


def _names(node: ast.AST) -> list[str]:
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.append(n.id)
        elif isinstance(n, ast.Attribute):
            out.append(n.attr)
        elif isinstance(n, ast.alias):
            out.append(n.name.rsplit(".", 1)[-1])
    return out


def unreferenced() -> list[str]:
    """``path:line name`` of every top-level def/class under the package,
    the scripts and the top-level entry files that no tracked .py file
    names outside that definition."""
    used: Counter = Counter()
    defs = []
    for rel in _tracked_py():
        with open(os.path.join(REPO, rel), encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        body = tree.body
        if os.path.basename(rel) == "__init__.py":
            # a re-export from a package __init__ is not a use
            body = [s for s in body if not isinstance(s, ast.ImportFrom)]
        for stmt in body:
            used.update(_names(stmt))
        if rel.startswith(PKG + "/") or os.path.dirname(rel) == "scripts" or rel in TOP_LEVEL:
            for d in tree.body:
                if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    # a self-reference (recursion) does not count as a use
                    defs.append((rel, d, _names(d).count(d.name)))
    return [
        f"{rel}:{d.lineno} {d.name}" for rel, d, own in defs if used[d.name] - own == 0
    ]


def test_no_unreferenced_top_level_defs():
    dead = unreferenced()
    assert not dead, "top-level defs named nowhere else:\n" + "\n".join(dead)


if __name__ == "__main__":
    print("\n".join(unreferenced()) or "no dead code")
