"""A script under scripts/ stays only while something runs it: a test,
a README or SKILL.md recipe, or the benchmark. A script nothing names
is a one-off whose result belongs in scripts/archive/, not in the tree.
"""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_every_script_is_named_by_a_test_recipe_or_the_benchmark():
    this = Path(__file__).name
    callers = [p for p in (ROOT / "tests").glob("*.py") if p.name != this]
    callers += [ROOT / "README.md", ROOT / ".claude/skills/verify/SKILL.md"]
    callers += list((ROOT / "perfbench").glob("*.py"))
    text = "\n".join(p.read_text(encoding="utf-8") for p in callers)

    scripts = sorted(p.name for p in (ROOT / "scripts").glob("*.py"))
    assert scripts
    unnamed = [s for s in scripts if s not in text]
    assert not unnamed, f"scripts nothing runs: {unnamed}"
