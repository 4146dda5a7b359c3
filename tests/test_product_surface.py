"""The package carries no code that only tests reach.

Every public top-level function and class in ``sqllog_analysis_spark/``
must be referenced from code outside ``tests/``: the CLIs, the driver
contract (``__spark_entry__.py``), the benchmarks or the tools.  A name
that only tests use is a second code path beside one the product runs;
delete it together with its tests instead.  References are code tokens
(comments and docstrings do not count), and a ``def``/``class`` line
does not reference its own name.
"""

from __future__ import annotations

import ast
import subprocess
import tokenize
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "sqllog_analysis_spark"


def _python_files() -> list[Path]:
    """Tracked .py files that exist in the working tree; outside a git
    checkout of this tree (an exported source tree, also one unpacked
    inside another repository), every .py file not under a
    dot-directory."""
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True,
            text=True, check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):
        out = []
    if not out:
        return sorted(
            p for p in ROOT.rglob("*.py")
            if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
        )
    return [ROOT / f for f in out if (ROOT / f).is_file()]


def _name_uses(path: Path) -> Counter:
    """NAME tokens of one file, minus the name right after def/class."""
    uses: Counter = Counter()
    prev = None
    with open(path, "rb") as fh:
        for tok in tokenize.tokenize(fh.readline):
            if tok.type == tokenize.NAME and prev not in ("def", "class"):
                uses[tok.string] += 1
            if tok.type not in (tokenize.NL, tokenize.NEWLINE, tokenize.COMMENT):
                prev = tok.string
    return uses


def test_every_public_package_name_is_reached_outside_tests():
    files = _python_files()
    product, tests = Counter(), Counter()
    for f in files:
        rel = f.relative_to(ROOT).parts
        (tests if rel[0] == "tests" else product).update(_name_uses(f))

    test_only = []
    for f in files:
        if f.relative_to(ROOT).parts[0] != PKG:
            continue
        tree = ast.parse(f.read_text(encoding="utf-8"))
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            name = node.name
            if name.startswith("_") or product[name]:
                continue
            test_only.append(
                f"{f.relative_to(ROOT)}:{node.lineno} {name}"
                f" ({'used by tests only' if tests[name] else 'unused'})"
            )
    assert not test_only, "\n".join(test_only)
