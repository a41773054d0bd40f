"""``tools/driver_rehearsal.py --changed-since`` counts a module as changed
only when its code changed: a diff that touches docstrings, comments or
layout alone selects none of the module's queries."""

from __future__ import annotations

import importlib.util
import os

import pytest

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "driver_rehearsal.py",
)
_spec = importlib.util.spec_from_file_location("driver_rehearsal", _PATH)
rehearsal = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(rehearsal)

BASE = '''"""Module docstring."""
import os


class Op:
    """Class docstring."""

    def run(self, x):
        """Method docstring."""
        # a comment
        return x + 1


def q(spark, sf_dir):
    """Query docstring."""
    return spark.range(3)
'''


@pytest.mark.parametrize(
    "new",
    [
        BASE,
        BASE.replace("Module docstring.", "Reworded module docstring."),
        BASE.replace('    """Query docstring."""\n', ""),
        BASE.replace("# a comment", "# another comment\n        # and more"),
        BASE.replace("return x + 1", "return (\n            x + 1\n        )"),
        BASE.replace('"""Method docstring."""', "'''Method, single quotes.'''"),
    ],
    ids=["same", "module-doc", "dropped-doc", "comment", "layout", "doc-quotes"],
)
def test_docstring_and_comment_edits_are_not_changes(new):
    assert rehearsal._same_code(BASE, new)


@pytest.mark.parametrize(
    "new",
    [
        BASE.replace("x + 1", "x + 2"),
        BASE.replace("spark.range(3)", "spark.range(4)"),
        BASE.replace("import os", "import sys"),
        # a string expression that is not the first statement is code
        BASE.replace("return x + 1", "'not a docstring'\n        return x + 1"),
        BASE + "\n\ndef extra():\n    pass\n",
        "def broken(:\n",
        None,
    ],
    ids=["expr", "literal", "import", "late-string", "new-def", "syntax", "deleted"],
)
def test_code_edits_are_changes(new):
    assert not rehearsal._same_code(BASE, new)


def test_a_file_new_since_ref_is_a_change():
    assert not rehearsal._same_code(None, BASE)
