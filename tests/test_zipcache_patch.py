"""zipcache_patch: the stat-guarded ``zipimporter.invalidate_caches``.

Three properties, in order of importance:
1. Freshness is preserved — a genuinely MODIFIED archive is re-read and
   new module content is visible after ``invalidate_caches`` (the whole
   point of the stdlib call; the guard must never serve stale data).
2. An UNCHANGED archive stops paying the central-directory re-parse
   (the r15 finding: pyspark workers call ``importlib.invalidate_caches``
   per task, and CPython 3.11 re-parses every sys.path zip each time —
   ~150 ms of worker CPU per python-boundary task on pyspark.zip).
3. ``apply()`` is idempotent.
"""

from __future__ import annotations

import importlib
import os
import sys
import time
import zipfile
import zipimport

import pytest

from affinity_spark import zipcache_patch


@pytest.fixture()
def patched():
    if sys.version_info >= (3, 12):
        pytest.skip("upstream zipimport already stat-checks on 3.12+")
    if os.environ.get("AFFINITY_NO_ZIPCACHE_PATCH"):
        pytest.skip("AFFINITY_NO_ZIPCACHE_PATCH disables the patch")
    assert zipcache_patch.apply()
    yield


def _make_zip(path: str, body: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zc_probe_mod.py", body)


def test_apply_idempotent(patched):
    fn1 = zipimport.zipimporter.invalidate_caches
    assert zipcache_patch.apply()
    assert zipimport.zipimporter.invalidate_caches is fn1


def test_modified_archive_is_still_picked_up(patched, tmp_path):
    zpath = str(tmp_path / "probe.zip")
    _make_zip(zpath, "VALUE = 1\n")
    sys.path.insert(0, zpath)
    try:
        import zc_probe_mod

        assert zc_probe_mod.VALUE == 1
        # rewrite the archive with new content and a new mtime
        time.sleep(0.01)
        _make_zip(zpath, "VALUE = 2\n")
        os.utime(zpath, (time.time() + 5, time.time() + 5))
        importlib.invalidate_caches()
        del sys.modules["zc_probe_mod"]
        import zc_probe_mod  # noqa: F811

        assert zc_probe_mod.VALUE == 2
    finally:
        sys.path.remove(zpath)
        sys.modules.pop("zc_probe_mod", None)


def test_unchanged_archive_skips_reread(patched, tmp_path):
    zpath = str(tmp_path / "stable.zip")
    _make_zip(zpath, "VALUE = 7\n")
    imp = zipimport.zipimporter(zpath)
    # first patched call re-reads once (establishes the stat stamp)
    imp.invalidate_caches()
    files_after_first = imp._files
    # unchanged archive: the dict object must be REUSED, not re-parsed
    imp.invalidate_caches()
    assert imp._files is files_after_first
    # changed archive: a fresh dict proves the re-read happened
    time.sleep(0.01)
    _make_zip(zpath, "VALUE = 8\nOTHER = 1\n")
    os.utime(zpath, (time.time() + 5, time.time() + 5))
    imp.invalidate_caches()
    assert imp._files is not files_after_first
