"""The store's one commit protocol, the only code that replaces or drops
a directory — one rule for every mutation, as MergeTree replaces parts
for merges and mutations alike (cflux.js:152,164).

Staging under ``<base>/_commit/``: ``new/<rel>`` holds a complete new
copy before the live directory moves, ``old/<rel>`` the live directory
until the new copy is in, ``trash/<rel>`` a dropped one. ``<rel>`` is the
live path relative to ``base`` with ``/`` quoted, so ``recover`` maps an
entry back to its live path without a manifest: a new copy whose live
directory is absent is adopted, an old copy whose live directory is
still absent is restored, and the rest is removed. A crash at any step
leaves each directory all-before or all-after. One writer per base:
``recover`` must not run beside a commit. A reader listing a directory
between ``replace_dir``'s two renames sees it absent.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from urllib.parse import quote, unquote


def _staged(base: str, stage: str, rel: str) -> str:
    return os.path.join(base, "_commit", stage, quote(rel, safe="="))


def replace_dir(base: str, rel: str, write: Callable[[str], None]) -> None:
    """Replace the live directory ``base/rel`` with the one ``write(path)``
    creates at ``path``: stage the new copy, move the live one aside,
    move the new one in, then remove the old one."""
    live = os.path.join(base, rel)
    if not os.path.isdir(live):
        # recovery adopts a staged copy only in place of an absent live
        # directory, so a copy staged for one that never existed could
        # be adopted half-written
        raise FileNotFoundError(f"no directory to replace: {live}")
    new, old = _staged(base, "new", rel), _staged(base, "old", rel)
    write(new)
    os.makedirs(os.path.dirname(old), exist_ok=True)
    os.rename(live, old)
    os.rename(new, live)
    shutil.rmtree(old)


def drop_dir(base: str, rel: str) -> None:
    """Drop ``base/rel``: move it to the trash, then remove it there."""
    trash = _staged(base, "trash", rel)
    os.makedirs(os.path.dirname(trash), exist_ok=True)
    os.rename(os.path.join(base, rel), trash)
    shutil.rmtree(trash)


def recover(base: str) -> None:
    """Finish or undo whatever a crash left under ``base/_commit/``."""
    root = os.path.join(base, "_commit")
    if not os.path.isdir(root):
        return
    for stage in ("new", "old"):
        staged = os.path.join(root, stage)
        for name in os.listdir(staged) if os.path.isdir(staged) else ():
            live = os.path.join(base, unquote(name))
            if not os.path.exists(live):
                os.rename(os.path.join(staged, name), live)
    shutil.rmtree(root)
