"""``tools/code_lines.py``: the code-line count that simplicity changes
report leaves out comments, docstrings and blank lines, and counts
every line of a multi-line string that is not a docstring."""

from __future__ import annotations

from tools.code_lines import code_lines, main

SOURCE = '''"""Module docstring,
over two lines."""

# a comment
import os  # a trailing comment


def f(x):
    """Function docstring."""
    # a comment inside

    s = """not a
docstring"""
    return os.sep + x + s
'''


def test_code_lines_counts_only_code():
    # import, def, the two lines of the assigned string, return
    assert code_lines(SOURCE) == 5


def test_code_lines_cli_prints_each_file_and_the_total(tmp_path, capsys):
    path = tmp_path / "m.py"
    path.write_text(SOURCE)
    assert main([str(path), str(path)]) == 0
    assert capsys.readouterr().out.split() == ["5", str(path), "5", str(path), "10", "total"]
