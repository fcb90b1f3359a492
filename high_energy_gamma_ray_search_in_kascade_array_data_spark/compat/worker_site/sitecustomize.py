"""Auto-install the protobuf compat shim in every python process whose
PYTHONPATH includes this directory — pyspark's worker processes inherit
the JVM's environment, which is how the state-protocol client inside
``transformWithStateInPandas`` workers finds ``google.protobuf`` on
runtimes without the real package.

SELF-CONTAINED twin of ``compat/pbshim.py`` (keep in lockstep): this
file must not import the engine package (or anything heavy) — it runs
at interpreter startup in every worker, and pyspark's worker-spawn
protocol has a ~10 s connect-back timeout that a slow sitecustomize
would blow. Installing the meta-path finder costs microseconds; the
vendored modules load only if something actually imports
``google.protobuf``. Guarded: any failure leaves the interpreter
exactly as it was.

It also keeps pyspark's per-task ``importlib.invalidate_caches()``
from re-reading every zip archive on the worker's path (below)."""

# Before Python 3.13, zipimporter.invalidate_caches re-reads the whole
# central directory of its archive, and pyspark's worker calls
# importlib.invalidate_caches() once per task. The worker's path holds
# pyspark.zip, the py4j zip and the spark-core jar: 17 importers and
# about 32k entries read again for every task, most of a small Python
# task's time. Here an importer re-reads only when its archive's stat
# key differs from the key taken when the directory was read. The keys
# are seeded from the directories site.py read while it searched for
# this module. 3.13+ reads lazily (zipimporter._get_files) and is left
# alone.
try:
    import os
    import zipimport

    if not hasattr(zipimport.zipimporter, "_get_files"):
        _zip_read_directory = zipimport._read_directory
        _zip_invalidate_caches = zipimport.zipimporter.invalidate_caches
        _zip_dirs = {}  # archive -> (directory, stat key taken before it was read)

        def _zip_key(archive):
            try:
                st = os.stat(archive)
            except OSError:
                return None
            return st.st_mtime_ns, st.st_size, st.st_ino

        def _read_directory(archive):
            _zip_dirs.pop(archive, None)
            key = _zip_key(archive)
            files = _zip_read_directory(archive)
            if key is not None:
                _zip_dirs[archive] = files, key
            return files

        def _invalidate_caches_if_changed(self):
            held = _zip_dirs.get(self.archive)
            if held is not None and held[1] == _zip_key(self.archive):
                self._files = zipimport._zip_directory_cache[self.archive] = held[0]
            else:
                _zip_invalidate_caches(self)

        for _archive, _files in list(zipimport._zip_directory_cache.items()):
            _key = _zip_key(_archive)
            if _key is not None:
                _zip_dirs[_archive] = _files, _key
        zipimport._read_directory = _read_directory
        zipimport.zipimporter.invalidate_caches = _invalidate_caches_if_changed
except Exception:  # noqa: BLE001 — never break interpreter startup
    pass

try:
    import importlib
    import importlib.abc
    import importlib.util
    import os
    import sys
    import types

    _THIRD_PARTY = "/usr/lib/google-cloud-sdk/lib/third_party"
    _PB_DIR = os.path.join(_THIRD_PARTY, "cloudsdk", "google", "protobuf")

    def _protobuf_missing() -> bool:
        # A loader-less spec is a NAMESPACE portion, not a usable
        # runtime: Spark's own jars sit on worker sys.path and their
        # shaded google/protobuf/*.class directories register exactly
        # that, which is how "protobuf looks installed but has no
        # modules" happens inside workers.
        try:
            spec = importlib.util.find_spec("google.protobuf")
        except ModuleNotFoundError:
            return True
        return spec is None or spec.loader is None

    if os.path.isfile(os.path.join(_PB_DIR, "__init__.py")) and _protobuf_missing():
        if _THIRD_PARTY not in sys.path:
            sys.path.insert(0, _THIRD_PARTY)

        # Own the bare ``google`` name ONLY when nothing else provides
        # it — shadowing an existing namespace package with an empty
        # __path__ would break every other google.* distribution on
        # the runtime (google.auth, google.cloud, …).
        try:
            _OWN_GOOGLE = importlib.util.find_spec("google") is None
        except Exception:
            _OWN_GOOGLE = True

        class _PbCompatFinder(importlib.abc.MetaPathFinder, importlib.abc.Loader):
            def find_spec(self, fullname, path=None, target=None):
                if fullname == "google" and not _OWN_GOOGLE:
                    return None
                if fullname in (
                    "google",
                    "google.protobuf",
                    "google.protobuf.runtime_version",
                ):
                    is_pkg = fullname != "google.protobuf.runtime_version"
                    return importlib.util.spec_from_loader(
                        fullname, self, is_package=is_pkg
                    )
                return None

            def create_module(self, spec):
                m = types.ModuleType(spec.name)
                if spec.name == "google":
                    m.__path__ = []
                elif spec.name == "google.protobuf":
                    m.__path__ = [_PB_DIR]
                return m

            def exec_module(self, module):
                if module.__name__ == "google.protobuf":
                    init = os.path.join(_PB_DIR, "__init__.py")
                    with open(init) as f:
                        exec(compile(f.read(), init, "exec"), module.__dict__)
                elif module.__name__ == "google.protobuf.runtime_version":

                    class Domain:
                        GOOGLE_INTERNAL = 1
                        PUBLIC = 2

                    module.Domain = Domain
                    module.ValidateProtobufRuntimeVersion = lambda *a, **k: None

        sys.meta_path.insert(0, _PbCompatFinder())
except Exception:  # noqa: BLE001 — never break interpreter startup
    pass

# site.py imports only the FIRST sitecustomize on sys.path — since this
# directory is prepended to PYTHONPATH, any pre-existing sitecustomize
# (e.g. coverage's subprocess hook) would be silently shadowed.
# Chain-load the next one so this shim composes instead of displacing.
try:
    import importlib.util as _ilu
    import os as _os
    import sys as _sys

    _here = _os.path.dirname(_os.path.abspath(__file__))
    for _p in _sys.path:
        _d = _os.path.abspath(_p) if _p else _os.getcwd()
        if _d == _here:
            continue
        _cand = _os.path.join(_d, "sitecustomize.py")
        if _os.path.isfile(_cand):
            _spec = _ilu.spec_from_file_location("_chained_sitecustomize", _cand)
            if _spec and _spec.loader:
                _mod = _ilu.module_from_spec(_spec)
                _spec.loader.exec_module(_mod)
            break
except Exception:  # noqa: BLE001 — never break interpreter startup
    pass
