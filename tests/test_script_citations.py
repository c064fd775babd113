"""Dangling-citation guard for the ``scripts/`` directory.

Code comments, docstrings and the measurement write-ups (``SCALE.md``,
``OPTIMIZATION_r1*.md``) cite the scripts that measured their choices.
A cited script either exists in ``scripts/`` or the citation names the
last commit that held it, on one line, in the form
``<name>.py, last in commit <hash>`` or ``git show <hash>:scripts/<name>.py``,
so the measurement stays one ``git show`` away after a deletion.  In
the write-ups a bare citation also resolves through its script's
``git show`` row in ``SCALE.md`` § Retired probe scripts.
"""

from __future__ import annotations

import re
import shutil
import subprocess
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCANNED = ("ab_metadata_pusher_spark", "tests", "scripts", "bench.py")
DOCS = ("SCALE.md", "OPTIMIZATION_r1*.md")

#: a path under scripts/, or a bare probe-script name
_CITE = re.compile(r"(?:\bscripts/(\w+)|(?<![\w/.])(\w+_probe))\.py\b")
_LAST_IN = re.compile(r"\.py,? last in commit ([0-9a-f]{7,40})\b")
_SHOWN = re.compile(r"git show ([0-9a-f]{7,40}):$")


def _citations():
    """(file, line number, script name, commit or None) per citation."""
    files = []
    for entry in SCANNED:
        path = REPO / entry
        files += sorted(path.rglob("*.py")) if path.is_dir() else [path]
    for pattern in DOCS:
        files += sorted(REPO.glob(pattern))
    for f in files:
        for n, line in enumerate(f.read_text().splitlines(), 1):
            for m in _CITE.finditer(line):
                last = (_LAST_IN.match(line, m.end() - len(".py"))
                        or _SHOWN.search(line, 0, m.start()))
                yield (f.relative_to(REPO), n, m.group(1) or m.group(2),
                       last.group(1) if last else None)


def test_cited_scripts_exist_or_name_their_last_commit():
    cites = list(_citations())
    retired = {name for f, _n, name, commit in cites
               if f.suffix == ".md" and commit is not None}
    dangling = [f"{f}:{n}: scripts/{name}.py"
                for f, n, name, commit in cites
                if commit is None
                and not (f.suffix == ".md" and name in retired)
                and not (REPO / "scripts" / f"{name}.py").exists()]
    assert not dangling, (
        "citations of missing scripts (cite as '<name>.py, last in "
        "commit <hash>'):\n" + "\n".join(dangling))


def test_last_in_commit_citations_resolve():
    if shutil.which("git") is None or not (REPO / ".git").exists():
        pytest.skip("needs a git checkout")
    missing = []
    for f, n, name, commit in _citations():
        if commit is None:
            continue
        r = subprocess.run(
            ["git", "cat-file", "-e", f"{commit}:scripts/{name}.py"],
            cwd=REPO, capture_output=True)
        if r.returncode != 0:
            missing.append(f"{f}:{n}: {commit}:scripts/{name}.py")
    assert not missing, "cited commits lack the script:\n" + "\n".join(
        missing)
