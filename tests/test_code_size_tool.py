"""tools/code_size.py: package lines and defaulted parameters of public
functions, on a two-file package built here."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "code_size.py")
_spec = importlib.util.spec_from_file_location("code_size_tool", _PATH)
code_size = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(code_size)

TOP = '''def public(a, b=1, *, c=2, d):
    def nested(x=0):
        return x
    return nested


def _private(a=1, b=2):
    return a
'''

SUB = '''# a comment line

class Box:
    def put(self, item, force=False):
        pass

    def _check(self, strict=True):
        pass


async def fetch(url, timeout=5.0, *, retries=None):
    pass
'''


def test_counts_lines_and_public_defaults(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "top.py").write_text(TOP)
    (pkg / "sub" / "box.py").write_text(SUB)
    (pkg / "notes.txt").write_text("not python\n")

    # public: b, c (public); x (nested); force (put); timeout, retries (fetch)
    want = (TOP.count("\n") + SUB.count("\n"), 6)
    assert code_size.code_size(str(pkg)) == want

    out = subprocess.run(
        [sys.executable, _PATH, str(pkg)], capture_output=True, text=True, check=True
    ).stdout
    assert out.splitlines() == [f"package lines: {want[0]}", f"defaulted parameters: {want[1]}"]
