"""Crash-safe directory snapshot swap.

The rename discipline used by the compactor (``sources/compact.py``) and the
partition-spec rewrite (``sources/partitions.py``): write the new snapshot to
a sibling temp dir, move the live dir aside, move the temp dir into place, drop
the old one. The two renames are not atomic together — a crash between them
leaves NO live directory, which a naive reader would treat as "empty state"
and silently discard all history. ``recover`` closes
that window: callers invoke it before reading the target, restoring the
``._old`` sibling if the swap died half-way. (On object stores rename is a
copy; there the fix is a manifest/pointer flip, which is what table formats
automate — the call-site shape here is identical.)
"""

from __future__ import annotations

import os
import shutil

_OLD_SUFFIX = "._old"


def recover(target_path: str) -> bool:
    """If a previous swap crashed after moving the live dir aside but before
    installing the new one, restore the saved copy. Returns True if a recovery
    happened. Call before reading ``target_path``."""
    target_path = target_path.rstrip("/")
    old = target_path + _OLD_SUFFIX
    if not os.path.isdir(target_path) and os.path.isdir(old):
        os.rename(old, target_path)
        return True
    return False


def swap(tmp_path: str, target_path: str) -> None:
    """Install ``tmp_path`` as ``target_path``, keeping the previous snapshot
    at ``<target>._old`` until the install succeeds (so :func:`recover` can
    restore it after a crash between the renames)."""
    target_path = target_path.rstrip("/")
    old = target_path + _OLD_SUFFIX
    shutil.rmtree(old, ignore_errors=True)  # stale copy from an old crash
    if os.path.isdir(target_path):
        os.rename(target_path, old)
    os.rename(tmp_path, target_path)
    shutil.rmtree(old, ignore_errors=True)
