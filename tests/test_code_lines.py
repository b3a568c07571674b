"""tools/code_lines.py counts non-blank, non-comment, non-docstring
lines (no Spark)."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

from code_lines import count_source  # noqa: E402

_SRC = '''"""Module docstring,
over two lines."""

import os  # a trailing comment keeps its line

# a comment-only line


class A:
    """Class docstring."""

    x = (
        1,
        2,
    )

    def f(self):
        """One-line docstring."""
        s = """a string that is not a docstring
        still counts"""
        return s
'''


def test_counts_code_lines_only():
    # import, class, x = (, 1, 2, ), def, s = """ (2 lines), return
    assert count_source(_SRC) == 10


def test_empty_and_docstring_only_sources_count_zero():
    assert count_source("") == 0
    assert count_source('"""only a docstring"""\n\n# and a comment\n') == 0
