"""Tests and tools import and write into the checkout they live in.

A module that puts a fixed absolute path on ``sys.path`` imports, in
any other checkout, that fixed checkout's engine instead of its own, so
a test run there tests the wrong code. ``conftest.py`` and
``tools/check_oracle.py`` derive the checkout from ``__file__``; every
other module must too.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
FIXED_IMPORT_ROOT = re.compile(r"""sys\.path\.insert\(\s*0\s*,\s*[rbuf]*["']/""")


def _sources() -> list[Path]:
    return sorted(p for d in ("tests", "tools") for p in (REPO / d).glob("*.py"))


def test_no_module_puts_a_fixed_path_on_sys_path():
    hits = [str(p.relative_to(REPO)) for p in _sources() if FIXED_IMPORT_ROOT.search(p.read_text())]
    assert hits == []


def test_no_module_names_its_own_checkout():
    hits = [str(p.relative_to(REPO)) for p in _sources() if str(REPO) in p.read_text()]
    assert hits == []


def test_run_meta_stamps_its_checkout_from_any_working_directory(tmp_path, monkeypatch):
    """A gate artifact written from outside the checkout must still name
    the checkout's HEAD, not the empty stamp of a non-repository cwd."""
    import subprocess

    from tools import run_meta

    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd=REPO
    ).stdout.strip()
    assert head, "the checkout must be a git work tree"
    monkeypatch.chdir(tmp_path)
    assert run_meta.meta()["head"] == head
