"""``tools/ab.py --lines`` counts code lines: lines holding a token other
than a comment, a newline or indentation, outside every docstring."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ab.py"
)
_spec = importlib.util.spec_from_file_location("ab", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_code_lines_skips_docstrings_comments_and_blank_lines():
    src = '''"""Module
docstring."""
# a comment

import os  # trailing comment


def f(x):
    """One-line docstring."""
    y = (x +
         1)
    return "not a docstring"
'''
    # import, def, the two lines of the assignment, return
    assert ab.code_lines(src) == 5


def test_line_counts_reads_ref_and_checkout():
    here = os.path.relpath(os.path.abspath(__file__), ab.ROOT)
    missing = os.path.join("tests", "no_such_file.py")
    [(rel, _, new), (rel2, old2, new2)] = ab.line_counts("HEAD", [here, missing])
    assert rel == here
    with open(__file__, encoding="utf-8") as f:
        assert new == ab.code_lines(f.read())
    assert (rel2, old2, new2) == (missing, 0, 0)
