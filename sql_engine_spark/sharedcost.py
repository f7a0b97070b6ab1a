"""Shared builds: derived relations materialized once per (process,
dataset) and scanned by every consumer after the first.

`materialize(spark, sf_dir, name, tables, params, build)` is the one
primitive. Its validity key is

    (abspath(sf_dir), name, params,
     dataset_fingerprint(sf_dir, t) for t in tables)

so a dataset regenerated in place (bytes or mtime of any input table
moved) misses and rebuilds instead of serving a stale relation. On a
miss, `build(root)` writes into a fresh `tracked_tmpdir("sqe_{name}_")`,
bracketed by `cache_mark()`/`release_since()` so the build releases only
the intermediates it persisted itself (a caller's live persists, and a
nested `materialize` inside `build`, are untouched). The cold wall is
then recorded exactly once under `name`. A hit returns the same root,
records nothing, and is only served while the root is still a directory.

`record` is the process-level ledger of those cold walls: bench.py emits
`snapshot()` as `shared_builds` in both the artifact and the compact
final stdout line, so section totals decompose into true process cost.
The streaming replay, sentinel, fleet and batch-state drains record
their own walls, because they cache a schema, a payload or per-spec
membership beside the directory. Names are short on purpose: the final
line must survive the driver's 2,000-char stdout-tail capture.
"""

from __future__ import annotations

import os
import time

_COSTS: dict[str, float] = {}

# validity key -> materialized root, process-local.
_ROOTS: dict[tuple, str] = {}

# Every tracked_tmpdir, removed by one atexit sweep.
_TMP_DIRS: list[str] = []


def record(name: str, seconds: float) -> None:
    """Accumulate `seconds` of cold-build wall under `name` (a process
    may pay a build more than once, e.g. per dataset fingerprint)."""
    _COSTS[name] = round(_COSTS.get(name, 0.0) + seconds, 3)


def snapshot() -> dict[str, float]:
    return dict(sorted(_COSTS.items()))


def tracked_tmpdir(prefix: str) -> str:
    """mkdtemp whose tree is removed at interpreter exit. The shared
    builds write immutable derived parquet here; within a process the
    dirs must outlive every consumer (the caches hand out scans of
    them), so cleanup is process-exit, not per-query."""
    import atexit
    import shutil
    import tempfile

    if not _TMP_DIRS:
        atexit.register(
            lambda: [shutil.rmtree(d, ignore_errors=True) for d in _TMP_DIRS]
        )
    d = tempfile.mkdtemp(prefix=prefix)
    _TMP_DIRS.append(d)
    return d


def dataset_fingerprint(sf_dir: str, table: str) -> tuple[int, int]:
    """(total_bytes, max_mtime_ns) of `{sf_dir}/{table}.parquet` (file or
    directory tree); (0, 0) when it is missing."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    total, mtime = 0, 0
    try:
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                for fn in files:
                    st = os.stat(os.path.join(root, fn))
                    total += st.st_size
                    mtime = max(mtime, st.st_mtime_ns)
        else:
            st = os.stat(path)
            total, mtime = st.st_size, st.st_mtime_ns
    except OSError:
        pass
    return (total, mtime)


def materialize(spark, sf_dir: str, name: str, tables, params, build) -> str:
    """The root directory of shared build `name` over the input `tables`
    of `sf_dir`, built by `build(root)` on a miss (see module doc)."""
    from sql_engine_spark.operators.dedup import cache_mark, release_since

    key = (
        os.path.abspath(sf_dir),
        name,
        params,
        tuple(dataset_fingerprint(sf_dir, t) for t in tables),
    )
    root = _ROOTS.get(key)
    if root is not None and os.path.isdir(root):
        return root
    t0 = time.time()
    root = tracked_tmpdir(f"sqe_{name}_")
    mark = cache_mark()
    try:
        build(root)
    finally:
        release_since(mark)
    _ROOTS[key] = root
    record(name, time.time() - t0)
    return root
