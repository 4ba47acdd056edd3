"""Every repo path named by the live code and docs must exist.

Scans the package, ``tests/``, ``.claude/``, ``README.md`` and
``docs/`` (except the dated log ``docs/PERF.md``, whose entries record
what existed when they were written) for repo-relative paths of the
forms ``tools/<name>.py|sh``, ``docs/<name>.md|json``, ``plans/r<N>/``
and root ``<NAME>_r<N>….json|txt|md``. A file that has left the tree is
cited as ``git show <sha>:<path>``, which the scan skips.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_SCAN = [
    REPO / "aws_etl_pipeline_financial_streamlit_dashboard_spark",
    REPO / "tests",
    REPO / ".claude",
    REPO / "README.md",
    REPO / "docs",
]
_SKIP = {REPO / "docs" / "PERF.md"}

# not preceded by a path/word character (a nested path such as
# perfbench/README.md is not a root-relative one) nor by "<sha>:"
_START = r"(?<![\w/.-])(?<![0-9a-f]{7}:)"
_PATH = re.compile(
    _START
    + r"(tools/[\w-]+\.(?:py|sh)"
    + r"|docs/[\w.-]+\.(?:md|json)"
    + r"|plans/r\d+/"
    + r"|[A-Za-z][\w.-]*_r\d+[\w.-]*\.(?:json|txt|md))\b"
)


def _files():
    for root in _SCAN:
        paths = [root] if root.is_file() else sorted(root.rglob("*"))
        for p in paths:
            if p.is_file() and p not in _SKIP and p.suffix in {".py", ".md", ".sh"}:
                yield p


def test_named_paths_exist():
    dangling = sorted(
        f"{p.relative_to(REPO)}:{n}: {m}"
        for p in _files()
        for n, line in enumerate(p.read_text(errors="replace").splitlines(), 1)
        for m in _PATH.findall(line)
        if not (REPO / m).exists()
    )
    assert dangling == [], "paths that do not exist:\n" + "\n".join(dangling)


def test_scan_sees_known_paths():
    # the guard is only a guard if its pattern matches real citations
    found = {m for p in _files() for m in _PATH.findall(p.read_text(errors="replace"))}
    assert {"tools/gen_sf.py", "docs/CATALOG.md", "CORRECTNESS_FULL_r14.json"} <= found
