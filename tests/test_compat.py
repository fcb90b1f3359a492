"""Regression tests for the protobuf compat shim (`compat/pbshim.py`).

ADVICE r5 (medium): the shim used to claim the bare ``google`` name
unconditionally with an empty ``__path__``, shadowing every other
``google.*`` namespace distribution (google.auth, google.cloud, …) the
runtime might ship. The fix decides google-ownership before inserting
the finder; these tests pin that behavior. They build their own fake
vendored protobuf dir, so they are green with and without the Google
Cloud SDK present, and they snapshot/restore all import state so the
rest of the suite (streaming uses the real shim) is unaffected.

The tests at the end cover ``worker_site/sitecustomize.py``'s zip
block, which keeps a worker's per-task ``importlib.invalidate_caches()``
from re-reading unchanged zip archives.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile

import pytest

from high_energy_gamma_ray_search_in_kascade_array_data_spark.compat import pbshim


@pytest.fixture()
def fake_vendor(tmp_path):
    """A minimal vendored pure-Python protobuf package dir."""
    pb = tmp_path / "vendor" / "cloudsdkish" / "google" / "protobuf"
    pb.mkdir(parents=True)
    (pb / "__init__.py").write_text("__version__ = 'fake-4.23'\n")
    (pb / "descriptor.py").write_text("SENTINEL = 'fake-descriptor'\n")
    return str(pb)


@pytest.fixture()
def google_import_state():
    """Snapshot and restore sys.modules/meta_path/path around the test."""
    saved_modules = {
        k: v for k, v in sys.modules.items() if k == "google" or k.startswith("google.")
    }
    saved_meta = list(sys.meta_path)
    saved_path = list(sys.path)
    for k in saved_modules:
        del sys.modules[k]
    yield
    for k in [k for k in sys.modules if k == "google" or k.startswith("google.")]:
        del sys.modules[k]
    sys.modules.update(saved_modules)
    sys.meta_path[:] = saved_meta
    sys.path[:] = saved_path


def _make_namespace_portion(tmp_path) -> str:
    """A ``google.fakeauth`` namespace portion (no google/__init__.py),
    like what google-auth et al. install."""
    site = tmp_path / "site"
    (site / "google" / "fakeauth").mkdir(parents=True)
    (site / "google" / "fakeauth" / "__init__.py").write_text("VALUE = 42\n")
    return str(site)


def test_shim_preserves_existing_google_namespace_portions(
    tmp_path, fake_vendor, google_import_state
):
    """With another google.* portion present the finder must NOT claim
    the bare ``google`` name — both the portion and the shimmed
    protobuf must import side by side."""
    sys.path.insert(0, _make_namespace_portion(tmp_path))
    # the ownership decision the shim makes in install(): a resolvable
    # ``google`` spec (the namespace portion) means we do not own it
    own_google = importlib.util.find_spec("google") is None
    assert own_google is False
    sys.meta_path.insert(0, pbshim._PbCompatFinder(fake_vendor, own_google))

    import google.fakeauth  # the pre-existing portion still resolves

    assert google.fakeauth.VALUE == 42
    import google.protobuf  # the shim serves protobuf from the vendor dir

    assert google.protobuf.__version__ == "fake-4.23"
    assert list(google.protobuf.__path__) == [fake_vendor]
    import google.protobuf.descriptor as desc

    assert desc.SENTINEL == "fake-descriptor"
    # the namespace package's own portions remain visible alongside
    assert any("site" in p for p in google.__path__), list(google.__path__)


def test_shim_owns_google_when_nothing_else_provides_it(
    fake_vendor, google_import_state
):
    """Without any other provider the finder claims ``google`` so the
    vendored protobuf is importable at all."""
    # ensure no stray portion from the test env
    if importlib.util.find_spec("google") is not None:
        pytest.skip("environment ships a real google package")
    sys.meta_path.insert(0, pbshim._PbCompatFinder(fake_vendor, own_google=True))

    import google.protobuf

    assert google.protobuf.__version__ == "fake-4.23"
    import google.protobuf.runtime_version as rv

    assert rv.ValidateProtobufRuntimeVersion("x", 1) is None  # advisory no-op


def test_install_is_idempotent_and_reports_availability(google_import_state):
    """install() returns a bool and never raises; calling twice adds at
    most one finder (idempotence)."""
    before = sum(isinstance(f, pbshim._PbCompatFinder) for f in sys.meta_path)
    r1 = pbshim.install()
    r2 = pbshim.install()
    assert r1 == r2
    after = sum(isinstance(f, pbshim._PbCompatFinder) for f in sys.meta_path)
    assert after - before <= 1
    if r1:
        spec = importlib.util.find_spec("google.protobuf.descriptor")
        assert spec is not None and spec.loader is not None


def test_worker_site_dir_has_sitecustomize():
    d = pbshim.worker_site_dir()
    assert os.path.isfile(os.path.join(d, "sitecustomize.py"))


# ------------------------------------------------- worker zip re-read block
_LAZY_ZIPIMPORT = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport reads lazily from 3.13 on; the block stays off"
)

# Counts zipimport's directory reads from here on.
_COUNT_READS = """
import importlib, os, sys, zipfile, zipimport
archive = sys.argv[1]
reads = []
_read = zipimport._read_directory
def _counting(path):
    reads.append(path)
    return _read(path)
zipimport._read_directory = _counting
"""


def _worker_shaped(tmp_path, code: str) -> list[str]:
    """Run ``code`` after ``_COUNT_READS`` in a new interpreter whose
    path is shaped like a pyspark worker's: a zip archive ahead of the
    worker_site directory. Returns its stdout lines."""
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "A = 1\n")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([str(archive), pbshim.worker_site_dir()]))
    proc = subprocess.run(
        [sys.executable, "-c", _COUNT_READS + code, str(archive)],
        env=env, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    return proc.stdout.split()


@_LAZY_ZIPIMPORT
def test_unchanged_archive_is_not_reread(tmp_path):
    """While the archive is unchanged, repeated invalidations read no
    zip directory, the one site.py read included."""
    out = _worker_shaped(
        tmp_path,
        """
import zmod_a
for _ in range(5):
    importlib.invalidate_caches()
print(len(reads), zmod_a.A, zipimport.zipimporter.invalidate_caches.__module__)
""",
    )
    assert out == ["0", "1", "sitecustomize"]


@_LAZY_ZIPIMPORT
def test_replaced_archive_is_reread(tmp_path):
    """An archive replaced through ``os.replace`` is read again at the
    next invalidation, and a module added to it imports."""
    out = _worker_shaped(
        tmp_path,
        """
importlib.invalidate_caches()
print(len(reads))
new = archive + ".new"
with zipfile.ZipFile(new, "w") as z:
    z.writestr("zmod_a.py", "A = 1\\n")
    z.writestr("zmod_b.py", "B = 2\\n")
os.replace(new, archive)
importlib.invalidate_caches()
print(reads.count(archive))
import zmod_b
importlib.invalidate_caches()
print(reads.count(archive), zmod_b.B)
""",
    )
    assert out == ["0", "1", "1", "2"]


@_LAZY_ZIPIMPORT
def test_python_workers_run_the_zip_block(spark):
    """The session puts worker_site on the Python workers' path, so a
    worker's ``zipimporter.invalidate_caches`` is the block's."""

    def probe(_):
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        yield f.__module__, f.__name__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == [("sitecustomize", "_invalidate_caches_if_changed")]
