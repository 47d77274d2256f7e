"""Repo-relative paths shared by operators, streaming replays and tests.

Everything scratch-like (blockfile fixtures, snapshot stores, streaming
replay dirs) lives under `<repo>/.tmp` (gitignored, safe to delete).
Deriving the root from this file's location — overridable via
$SPARK_GRAFT_TMP_ROOT — keeps the repo relocatable (ADVICE r5).

Derived fixtures (replay feeds, format conversions, snapshot stores,
blk files) are built by `derived_dir` alone, under one validity rule: a
cached derivation is served only while the `_fixture_identity` of every
fixture table it reads is unchanged — absolute path, size, mtime and
every nested file of a directory dataset. Any change yields a new
directory name, so a stale copy is never read; the older generations of
the same derivation for the same fixture root are swept when the new one
is built, and no other root's derivations are touched.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from collections.abc import Callable, Iterable

from .plans.memo import _fixture_identity

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tmp_root() -> str:
    root = os.environ.get("SPARK_GRAFT_TMP_ROOT") or os.path.join(
        REPO_ROOT, ".tmp"
    )
    os.makedirs(root, exist_ok=True)
    return root


def _digest(s: str, n: int) -> str:
    return hashlib.md5(s.encode()).hexdigest()[:n]


def derived_dir(
    name: str,
    sf_dir: str | None,
    tables: Iterable[str],
    build: Callable[[str], None],
) -> str:
    """Directory holding the derivation `name` of `tables` (read from
    `sf_dir`; no tables and no `sf_dir` for a derivation of constants).

    The directory is `<tmp>/<name>_<root>_<identity>`: `<root>` is the
    fixture root's basename plus a hash of its absolute path, so two
    roots sharing a basename never share a name or a sweep; `<identity>`
    hashes the tables' fixture identities. When the directory is
    missing, older generations of `<name>_<root>` (and their
    `<dir>.<suffix>` siblings, e.g. a stream checkpoint) are removed,
    `build(stage)` writes the derived files into the empty sibling
    `<dir>.staging`, and the stage is renamed into place, so a crashed
    build is never served. The stage stays a sibling of the target:
    shallow snapshot clones record `../<src>/...` paths relative to
    their root, and the rename must stay on one filesystem."""
    scope = name
    if sf_dir is not None:
        root = os.path.abspath(sf_dir)
        scope += f"_{os.path.basename(root)}-{_digest(root, 8)}"
    ident = tuple(_fixture_identity(sf_dir, t) for t in tables)
    base = tmp_root()
    d = os.path.join(base, f"{scope}_{_digest(repr(ident), 16)}")
    if os.path.isdir(d):
        return d
    generation = re.compile(re.escape(scope) + r"_[0-9a-f]{16}(\..+)?")
    for entry in os.listdir(base):
        if generation.fullmatch(entry):
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
    stage = f"{d}.staging"
    os.makedirs(stage)
    build(stage)
    os.rename(stage, d)
    return d
