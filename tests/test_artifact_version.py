"""ARTIFACT_VERSION central stamp (VERDICT r11 #3).

The persisted seed artifact (.dedup_seed) keys on data fingerprint +
config; the r11 footgun was that a builder behavior change without a
manual tag bump leaves consumers serving stale artifacts.  One central ARTIFACT_VERSION now folds into
every tag (build-or-reuse path changes => rebuild) AND is stamped into
the artifact dir (read-time assert catches artifacts copied across
versions, which tag keying alone cannot).
"""

from __future__ import annotations

import glob
import os

from edsnlp_spark.core import artifacts

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_version_bump_changes_every_tag(monkeypatch):
    t1 = artifacts.artifact_tag("/data", "cfg", "fp")
    same = artifacts.artifact_tag("/data", "cfg", "fp")
    assert t1 == same  # deterministic
    monkeypatch.setattr(artifacts, "ARTIFACT_VERSION", "bumped")
    t2 = artifacts.artifact_tag("/data", "cfg", "fp")
    assert t2 != t1, "version bump must change the artifact tag"


def test_version_stamp_roundtrip_and_bump_forces_rebuild(
        tmp_path, monkeypatch):
    path = str(tmp_path / "artifact")
    # unbuilt artifact: no marker -> not reusable
    assert not artifacts.version_ok(path)
    artifacts.stamp_version(path)
    assert artifacts.version_ok(path)
    # a version bump invalidates the existing stamp: the build-or-reuse
    # done-check (done = _SUCCESS present AND version_ok) goes False,
    # forcing a rebuild even at an unchanged path.
    monkeypatch.setattr(artifacts, "ARTIFACT_VERSION", "bumped")
    assert not artifacts.version_ok(path)
    # rebuilding under the new version re-stamps and is reusable again
    artifacts.stamp_version(path)
    assert artifacts.version_ok(path)


def test_no_raw_md5_tags_left_in_queries():
    """Source audit (the repo's guard convention): every seed-artifact
    tag must go through artifacts.artifact_tag — a raw
    md5(...).hexdigest()[:16] tag would silently drop the version."""
    offenders = []
    for f in glob.glob(os.path.join(
            _REPO, "edsnlp_spark", "queries", "*.py")):
        src = open(f).read()
        if "hexdigest()[:16]" in src:
            offenders.append(os.path.basename(f))
    assert not offenders, (
        f"raw artifact tags (bypass ARTIFACT_VERSION) in: {offenders}")
