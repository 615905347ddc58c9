"""Every ``scripts/<name>.py`` the docs tell a reader to run must exist.
SURVEY.md is excluded: it cites the reference repository's scripts."""

from __future__ import annotations

import glob
import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_documented_scripts_exist():
    docs = [
        os.path.join(_REPO, "README.md"),
        os.path.join(_REPO, "BENCH", "BASELINE.md"),
        *sorted(glob.glob(os.path.join(_REPO, "docs", "*.md"))),
    ]
    cited = set()
    for doc in docs:
        with open(doc, encoding="utf-8") as f:
            cited |= {
                (os.path.relpath(doc, _REPO), m)
                for m in re.findall(r"scripts/\w+\.py", f.read())
            }
    assert cited
    missing = sorted(
        (doc, script) for doc, script in cited
        if not os.path.exists(os.path.join(_REPO, script))
    )
    assert not missing, f"docs cite scripts that do not exist: {missing}"
