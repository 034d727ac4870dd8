"""Central version stamp for persisted seed artifacts (VERDICT r11 #3).

The gitignored seed artifact ``.dedup_seed`` is keyed by
DATA fingerprint + builder CONFIG.  Without a code-version component
in the tag, a builder behavior change silently leaves consumers
serving stale artifacts: the oracle hash gate catches the divergence,
but the failure masquerades as a training/builder bug instead of a
stale cache (the r11 footgun, self-documented in CLAUDE.md).

:data:`ARTIFACT_VERSION` folds into every tag via
:func:`artifact_tag`; bump the single constant whenever ANY
seed-artifact builder's output changes, and every consumer rebuilds
on its next run.  Builders additionally write the version into a
``VERSION`` marker inside the artifact directory; :func:`version_ok`
is the read-time assert that refuses to reuse an artifact carrying a
different (or missing) stamp — this covers artifacts copied across
versions, which tag keying alone cannot.
"""

from __future__ import annotations

import hashlib
import os

# "2": .dedup_seed gains the per-cluster keeper index sub-artifact
# ({path}/keep) — r13 incremental keeper election
# "3": r14 — dedup_components_incremental now MAINTAINS the keeper
# index alongside the label index (the keeper invariant: {path}/keep
# always reflects {path}/comps).  Pre-r14 artifacts whose batch was
# first folded by the components query carry permanently-stale
# keepers (the first-fold-order latent bug a fresh host exposed);
# the bump forces a clean rebuild.
ARTIFACT_VERSION = "3"

# underscore-prefixed so Spark's file listing ignores it — the marker
# may live INSIDE a parquet directory (a plain-named file there breaks
# footer reads)
_MARKER = "_ARTIFACT_VERSION"


def artifact_tag(*parts: str) -> str:
    """16-hex tag over (ARTIFACT_VERSION, *parts) — the version is read
    at CALL time so a bump (or a test monkeypatch) changes every tag."""
    key = "|".join((ARTIFACT_VERSION,) + tuple(parts))
    return hashlib.md5(key.encode()).hexdigest()[:16]


def stamp_version(path: str) -> None:
    """Write the current ARTIFACT_VERSION marker into an artifact dir
    (call after a successful build)."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, _MARKER), "w") as fh:
        fh.write(ARTIFACT_VERSION)


def version_ok(path: str) -> bool:
    """Read-time assert: True iff the artifact carries the CURRENT
    version stamp.  Missing marker -> False (rebuild)."""
    try:
        with open(os.path.join(path, _MARKER)) as fh:
            return fh.read().strip() == ARTIFACT_VERSION
    except OSError:
        return False
