"""Scratch-directory hygiene for the fixture-backed registry queries.

Several registered queries build their fixtures under
``tempfile.gettempdir()`` keyed by a hash of the sf_dir (stream epoch
files, ingest round-trip corpora, the bloom side table, the backfill
and bucketed-join tables). Each builder rmtree's ITS OWN tree on
re-entry, so correctness never depends on cleanup — but the trees
accumulate across sessions on a long-lived host (one tree per
(kind, sf_dir) pair, some hundreds of MB), which skews disk and page
cache between bench runs. :func:`clean_scratch` is the one sweep,
called by takuan_zoo.bench at the end of a run and safe to
invoke any time no query of THIS process is mid-flight.

Ownership makes the sweep concurrency-safe: every builder obtains its
tree through :func:`scratch_path`, which records the path in a
process-local registry. The sweep removes this process's own trees
unconditionally (its queries are done when the sweep runs) but another
session's trees only once they look ABANDONED — no entry anywhere in
the tree with an mtime younger than ``min_age_secs`` — so
a concurrent bench/pytest on the same host cannot lose fixtures
mid-query, while trees left by dead sessions still age out and get
swept by the next run.

The probe corpus (``/tmp/takuan_sfprobe``) is deliberately KEPT: it is
shared across probe runs, marker-invalidated on scale or version
change (scale_probe.build_probe_corpus), and costs minutes to rebuild.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

#: every per-(kind, sf_dir) scratch prefix the registry queries create;
#: a new fixture family must add its prefix here (tests assert the
#: sweep removes a sample of each).
SCRATCH_PREFIXES = (
    "takuan_stream_fold_",
    "takuan_ingest_",
    "takuan_bloom_fold_",
    "takuan_backfill_overwrite_",
    "takuan_bucketed_",
)

#: age (newest root/child mtime) past which an UNOWNED tree is treated
#: as abandoned by a dead session and swept
DEFAULT_MIN_AGE_SECS = 1800.0

# trees created by THIS process via scratch_path — swept regardless of
# age (the caller invokes clean_scratch only when no query is running)
_OWNED: set[str] = set()


def scratch_path(name: str) -> str:
    """The scratch tree path for one ``<prefix><tag>`` fixture name,
    registered as owned by this process so :func:`clean_scratch` may
    remove it regardless of age. ``name`` must start with one of
    :data:`SCRATCH_PREFIXES` (that is what the sweep globs for)."""
    if not name.startswith(SCRATCH_PREFIXES):
        raise ValueError(
            f"scratch name {name!r} does not start with a registered "
            f"prefix {SCRATCH_PREFIXES}; the sweep would never reclaim it"
        )
    path = os.path.join(tempfile.gettempdir(), name)
    _OWNED.add(path)
    return path


def _idle_at_least(path: str, min_age_secs: float, now: float) -> bool:
    """True iff NO entry anywhere under ``path`` has an mtime younger
    than ``min_age_secs``. A full walk, not a depth-1 peek: a live
    streaming query can go long stretches writing only deep entries
    (ckpt/offsets/*, sink/_spark_metadata/*) while its root and
    depth-1 children stay untouched — a shallow probe would misread
    that as abandonment and sweep a running query's fixtures. The walk
    early-exits on the first recent entry, so live trees (the case
    that matters) cost one short scan."""
    cutoff = now - min_age_secs
    try:
        if os.path.getmtime(path) > cutoff:
            return False
    except OSError:
        return True
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                if os.path.getmtime(os.path.join(root, name)) > cutoff:
                    return False
            except OSError:
                continue
    return True


def clean_scratch(
    min_age_secs: float = DEFAULT_MIN_AGE_SECS,
) -> list[str]:
    """Best-effort removal of registry-query scratch trees: all trees
    owned by this process, plus unowned trees idle for at least
    ``min_age_secs`` (see module docstring for why the distinction).

    Returns the list of paths removed (for logging). Errors are
    swallowed per-tree — a busy file on one tree must not abort the
    sweep of the rest.
    """
    import time

    removed: list[str] = []
    tmp = tempfile.gettempdir()
    now = time.time()
    for prefix in SCRATCH_PREFIXES:
        for path in sorted(glob.glob(os.path.join(tmp, prefix + "*"))):
            if not os.path.isdir(path):
                continue
            if path not in _OWNED and not _idle_at_least(
                path, min_age_secs, now
            ):
                continue
            shutil.rmtree(path, ignore_errors=True)
            if not os.path.exists(path):
                removed.append(path)
                _OWNED.discard(path)
    return removed
