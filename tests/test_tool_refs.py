"""Every ``tools/<name>.py`` that the docs or the code name must exist.

A deleted tool leaves its mentions behind in the README, the operations
guide, the verify notes and in comments, where they send a reader to a
file that is gone.  Historical records (BENCHLOG, CHANGES, VERDICT, the
round notes of COVERAGE/SCALING) keep their mentions on purpose and are
not scanned.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
DOCS = ("README.md", "OPERATIONS.md", ".claude/skills/verify/SKILL.md")
CODE_DIRS = ("debezium_nats_cdc_spark", "tools", "tests")
TOOL_REF = re.compile(r"tools/(\w+)\.py")


def _scanned() -> list[Path]:
    files = [REPO / d for d in DOCS] + [REPO / "bench.py"]
    for d in CODE_DIRS:
        files += sorted((REPO / d).rglob("*.py"))
    return files


def test_named_tools_exist():
    files = _scanned()
    missing = [str(f.relative_to(REPO)) for f in files if not f.is_file()]
    assert not missing, f"scanned files are gone: {missing}"
    stale = sorted(
        f"{f.relative_to(REPO)}: tools/{m.group(1)}.py"
        for f in files
        for m in TOOL_REF.finditer(f.read_text(encoding="utf-8"))
        if not (REPO / "tools" / f"{m.group(1)}.py").is_file()
    )
    assert not stale, "references to missing tools:\n" + "\n".join(stale)

