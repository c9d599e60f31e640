"""Run-provenance metadata for gate artifacts (ADVICE r13 #3).

Each gate output gets a record tying it verifiably to the exact tree
that produced it: HEAD commit, a sha256 over `git diff HEAD` (so a
dirty working tree is pinned to its exact content, and a clean tree
hashes the empty string), the dirty-file count, and a UTC timestamp.
A committed _r{N} snapshot can then be audited: if its `head` is an
ancestor commit and `diff_sha256` is the empty-diff hash, the snapshot
came from exactly that committed tree — a byte-identical rename of a
stale working copy can no longer masquerade as a fresh re-run.

Use: `from run_meta import meta` -> dict, embedded as the "_meta" key
of the oracle gate's JSON reports and of bench.py / perfbench results.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import time

# the checkout this module lives in, whatever the caller's working directory
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], capture_output=True, text=True, cwd=CHECKOUT
    ).stdout


def meta() -> dict:
    head = _git("rev-parse", "HEAD").strip()
    diff = _git("diff", "HEAD")
    dirty = _git("status", "--porcelain")
    return {
        "head": head,
        "diff_sha256": hashlib.sha256(diff.encode()).hexdigest(),
        "dirty_files": len(dirty.strip().splitlines()) if dirty.strip() else 0,
        "generated_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }

