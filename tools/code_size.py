#!/usr/bin/env python3
"""Two size figures for a Python package: its lines, and the defaulted
parameters of its public functions.

    python3 tools/code_size.py [PACKAGE_DIR]

PACKAGE_DIR defaults to the engine package next to this script. Lines are
the newlines of every ``*.py`` file under the directory, blank lines and
comments included (what ``wc -l`` counts). Defaulted parameters are counted
over every ``def`` found by ``ast.walk`` (module level, methods and nested
functions alike) whose name does not start with ``_``: positional
parameters with a default plus keyword-only ones with a default.
"""

from __future__ import annotations

import ast
import os
import sys

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "demo_otel_parquet_antalya_spark",
)


def _sources(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".py")
    )


def defaulted_params(source: str) -> int:
    n = 0
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not node.name.startswith("_"):
            n += len(node.args.defaults) + sum(d is not None for d in node.args.kw_defaults)
    return n


def code_size(root: str) -> tuple[int, int]:
    """(package lines, defaulted parameters on public functions)."""
    lines = params = 0
    for path in _sources(root):
        with open(path, encoding="utf-8") as f:
            source = f.read()
        lines += source.count("\n")
        params += defaulted_params(source)
    return lines, params


def main(argv: list[str]) -> int:
    lines, params = code_size(argv[0] if argv else PACKAGE)
    print(f"package lines: {lines}")
    print(f"defaulted parameters: {params}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
