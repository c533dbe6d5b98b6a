"""The engine takes its settings from arguments and module constants
only: no module under rindex_spark/ reads an environment variable, so a
switch cannot change what a call does without showing in the call."""

from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "rindex_spark"


def test_engine_reads_no_environment_variable():
    pattern = re.compile(r"\benviron\b|\bgetenv\b")
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, "\n".join(hits)
