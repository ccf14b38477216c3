#!/usr/bin/env python
"""Print the package's code-line count.

Usage: python scripts/code_lines.py [root]

Counts the lines of every ``.py`` file under ``geoarrow_rs_spark/`` (of
``root``, default the repository this script lives in) that are not blank
and do not start with ``#`` once leading whitespace is stripped.
Docstrings count as code. This is the figure simplicity changes report.
"""

import os
import sys


def code_lines(package: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(package):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
                    total += sum(
                        1 for line in fh
                        if line.strip() and not line.lstrip().startswith("#")
                    )
    return total


if __name__ == "__main__":
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    print(code_lines(os.path.join(root, "geoarrow_rs_spark")))
