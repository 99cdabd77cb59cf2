"""Per-process temp-dir discipline for operators that stage files.

Every operator temp dir is created under ONE per-process parent that an
atexit hook removes, so a full pytest suite / driver correctness gate /
bench invocation leaves no ``cae_*`` trees behind in /tmp no matter how
many times each op staged files (round-10 verdict: ~10 sink/round-trip
ops mkdtemp'd per call without cleanup — dozens of orphans per suite).

Why exit-time and not materialize-then-rmtree everywhere: most sink /
round-trip ops RETURN a DataFrame that lazily reads the staged files,
so removing the dir before the caller consumes the frame would poison
it, and forcing an eager materialization in every op just to allow an
early rmtree would add a full extra pass per call. The parent sweep
keeps frames valid for the life of the session and still guarantees
zero leakage at process exit. Ops whose fixture is provably one-shot
(snk_vacuum_retention) keep the stricter materialize-then-rmtree on
top of this backstop.

The parent is created lazily at the first ``fresh_dir`` call, so it
lands under whatever ``tempfile.tempdir`` is active then — bench.py's
private per-run parent override composes with it unchanged.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

_PARENT: str | None = None


def _parent() -> str:
    global _PARENT
    if _PARENT is None:
        _PARENT = tempfile.mkdtemp(prefix="cae_spark_run_")
        atexit.register(shutil.rmtree, _PARENT, ignore_errors=True)
    return _PARENT


def fresh_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` under the per-process parent (swept at
    exit); drop-in replacement for the operators' staging mkdtemps."""
    return tempfile.mkdtemp(prefix=prefix, dir=_parent())


# ----------------------------------------------------- deferred delete
#
# An evicted path-valued artifact (artifacts.py) is queued here, not
# removed, because a frame handed out before the eviction may still
# read it. It is removed after _DEFER_GRACE further evictions, so disk
# use stays bounded in a long-lived session; the atexit parent sweep
# takes whatever is still queued at exit.

_DEFER_GRACE = 2
_deferred: list[str] = []


def defer_delete(path: str) -> None:
    """Queue an evicted artifact dir; the oldest queued dirs beyond the
    grace window are swept now (bounded disk), the rest at exit."""
    _deferred.append(path)
    while len(_deferred) > _DEFER_GRACE:
        shutil.rmtree(_deferred.pop(0), ignore_errors=True)
