"""`tools/` holds maintained tools only: each one is listed where a reader
looks for how to run things, and no living document or module points at
a script that no longer exists.  Historical records (CHANGES.md,
VERDICT.md, OPTIMIZATION_r06.md) are deliberately not checked."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
TOOL_REF = re.compile(r"tools/([A-Za-z0-9_]+\.py)")


def _running_block() -> str:
    readme = (REPO / "README.md").read_text()
    m = re.search(r"^## Running\n+```\n(.*?)^```", readme, re.M | re.S)
    assert m, "README.md has no fenced block under '## Running'"
    return m.group(1)


def test_every_tool_is_in_readme_running_block():
    block = _running_block()
    missing = sorted(
        p.name for p in (REPO / "tools").glob("*.py") if f"tools/{p.name}" not in block
    )
    assert not missing, f"tools missing from README's Running block: {missing}"


def test_cited_tools_exist():
    docs = [REPO / n for n in ("README.md", "ROADMAP.md", "BENCH.md")]
    docs.append(REPO / "tools" / "render_bench.py")
    docs.extend(sorted((REPO / "biomedical_el_spark").rglob("*.py")))
    dangling = sorted(
        f"{doc.relative_to(REPO)}: tools/{name}"
        for doc in docs
        for name in set(TOOL_REF.findall(doc.read_text()))
        if not (REPO / "tools" / name).exists()
    )
    assert not dangling, f"citations of missing tools: {dangling}"
