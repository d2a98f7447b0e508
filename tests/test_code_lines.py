"""tools/code_lines.py counts lines with a non-comment token, docstrings excluded."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from code_lines import count_code_lines  # noqa: E402

SAMPLE = '''"""Module docstring,
two lines."""

import os  # a trailing comment keeps the line

# a comment line


class A:
    """Class docstring."""

    x = """a multi-line
string that is not a docstring"""

    def f(self):
        """Function
        docstring."""
        return (
            1
        )
'''


def test_counts_code_lines_only():
    # import, class, x (2 lines), def, return ( 1 ) (3 lines)
    assert count_code_lines(SAMPLE) == 8


def test_blank_and_comment_only_source_is_zero():
    assert count_code_lines("# only a comment\n\n") == 0
