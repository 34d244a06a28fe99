"""Shared BENCH/BASELINE.md section writer and reference-snapshot check
for the report scripts."""

from __future__ import annotations

import os
import sys

# the reference implementation's checkout: golden MVT/COVT tiles
REFERENCE_DATA = "/root/reference/parser/js/data"


def require_dir(path: str) -> None:
    """Exit with code 2 and one line on stderr when ``path`` is not a
    directory, before any Spark session or decode starts."""
    if not os.path.isdir(path):
        print(f"missing directory: {path}", file=sys.stderr)
        sys.exit(2)


def replace_section(path: str, header: str, body: str) -> None:
    """Replace the section starting at ``header`` (through the next
    '## ' heading), append it if absent, or create the file if missing."""
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write(body)
        return
    text = open(path).read()
    i = text.find(header)
    if i < 0:
        with open(path, "a") as f:
            f.write("\n" + body)
        return
    j = text.find("\n## ", i + len(header))
    tail = text[j:] if j >= 0 else ""
    open(path, "w").write(text[:i] + body + tail)
