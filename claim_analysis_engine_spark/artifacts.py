"""One store for the expensive artifacts operators reuse within a
session: fitted models, label fixpoints, staged layouts, the shared
risk-series substrate, small result rows, and the result of every
registered operator. ``registry.OpRegistry`` stores each op's frame
under kind ``op:<id>``, ``localCheckpoint``ed lazily: the first
request's action computes and stores its blocks, and a repeat request
on unchanged files replays them in one job. The op's computation stays
reachable as ``op.query.__wrapped__``, for harnesses that must run it.

An artifact is a pure function of its session, its input directory
and its params, so the key is (kind, applicationId, startTime, sf_dir,
params) plus a fingerprint of every file under ``sf_dir`` — relative
path, size and ``st_mtime_ns``. A table rewritten in place (a merge
upsert, a re-upload) changes the fingerprint, and the next request
rebuilds instead of replaying the old data; the reference drops its
dashboard caches on every ingest for the same reason. The listing is
a local ``os.walk`` (~0.1 ms for ten tables; the same listing through
Hadoop's FileSystem API over py4j costs ~100 ms per call). The
JVM-minted startTime, unlike ``id(spark)``, never recurs within a
process, so a recreated session cannot be handed frames bound to a
stopped one. Fixtures with no input directory pass ``sf_dir=None``.
The key holds no session conf, so a stored result must not depend on
one (tests/test_default_session.py runs the sink ops on Spark's
defaults); nor may an op read a file outside ``sf_dir`` other than the
staging it writes itself (tests/test_artifacts.py checks every op's
scans).

Stored values own no CacheManager entry: each is driver rows or
objects, a path, a frame reading files nothing rewrites, or a
``localCheckpoint``ed frame. The CacheManager matches a later read of
the same path by plan, so a ``.cache()``d frame would keep serving
the old blocks after a rewrite; checkpointed blocks belong to their
own RDD and die with it. Operators follow the same no-CacheManager
rule: a frame reused within one call is ``localCheckpoint``ed.

One bound, ``MAX_ENTRIES``, evicts least-recently-used entries across
all kinds. Path-valued artifacts pass ``on_evict`` (usually
``tmputil.defer_delete``): a frame handed out before the eviction may
still read the path lazily, so the directory is queued, not removed.
"""

from __future__ import annotations

import os
import threading
from collections import Counter, OrderedDict

MAX_ENTRIES = 128

# bookkeeping only; a build runs outside the lock, so two threads that
# miss the same key at once may both build it
_lock = threading.Lock()
_store: OrderedDict[tuple, tuple] = OrderedDict()  # key -> (value, on_evict)
_hits: Counter = Counter()
_misses: Counter = Counter()


def fingerprint(sf_dir: str) -> tuple:
    """(relative path, size, st_mtime_ns) of every file under sf_dir,
    sorted. A missing or empty directory raises: an empty fingerprint
    would key every later version of the data to the same entry."""

    def fail(err: OSError) -> None:
        raise err

    files = []
    for root, _dirs, names in os.walk(sf_dir, onerror=fail):
        for name in names:
            path = os.path.join(root, name)
            st = os.stat(path)
            files.append((os.path.relpath(path, sf_dir), st.st_size, st.st_mtime_ns))
    if not files:
        raise FileNotFoundError(f"no input files under {sf_dir!r}")
    return tuple(sorted(files))


def get_or_build(kind, spark, sf_dir, build, *, params=(), on_evict=None):
    """The stored ``build()`` for (kind, session, sf_dir as it is now,
    params); built and stored on a miss."""
    sc = spark.sparkContext
    inputs = () if sf_dir is None else fingerprint(sf_dir)
    key = (kind, sc.applicationId, sc.startTime, sf_dir, tuple(params), inputs)
    with _lock:
        if key in _store:
            _store.move_to_end(key)
            _hits[kind] += 1
            return _store[key][0]
        _misses[kind] += 1
    value = build()
    with _lock:
        evicted = [_store.pop(key)] if key in _store else []
        _store[key] = (value, on_evict)
        while len(_store) > MAX_ENTRIES:
            evicted.append(_store.popitem(last=False)[1])
    _run_on_evict(evicted)
    return value


def rows(kind, spark, sf_dir, build, *, params=()):
    """get_or_build for a small result frame: the first request
    collects ``build()``'s rows, later ones replay them as a local
    frame. Only for result-sized frames; corpus-sized ones are stored
    as a path."""

    def collect():
        out = build()
        # bounded: callers pass result-sized frames (see above)
        return out.collect(), out.schema

    data, schema = get_or_build(kind, spark, sf_dir, collect, params=params)
    return spark.createDataFrame(data, schema)


def stats() -> dict[str, dict[str, int]]:
    """Per-kind hit and miss counts since the last ``clear()``."""
    with _lock:
        return {
            kind: {"hits": _hits[kind], "misses": _misses[kind]}
            for kind in sorted(_hits.keys() | _misses.keys())
        }


def clear() -> None:
    """Drop every entry (running its on_evict) and reset the counts."""
    with _lock:
        evicted = list(_store.values())
        _store.clear()
        _hits.clear()
        _misses.clear()
    _run_on_evict(evicted)


def _run_on_evict(entries: list[tuple]) -> None:
    for value, on_evict in entries:
        if on_evict is not None:
            on_evict(value)
