"""Start-up patches for every python process whose PYTHONPATH includes
this directory — pyspark's worker processes inherit the JVM's
environment, which is how both reach the workers:

* the protobuf compat shim, so the state-protocol client inside
  ``transformWithStateInPandas`` workers finds ``google.protobuf`` on
  runtimes without the real package;
* a zip-directory re-read guard: pyspark calls
  ``importlib.invalidate_caches()`` before every Python task, and
  CPython 3.11's ``zipimporter.invalidate_caches`` eagerly re-reads the
  whole directory of every zip and jar on the worker's ``sys.path``
  (spark-core's jar alone has 5,359 entries), 0.12-0.21 s per task.
  The guard re-reads an archive only when its (mtime_ns, size, inode)
  changed since that importer last read it.

The protobuf half is the SELF-CONTAINED twin of ``compat/pbshim.py``
(keep in lockstep). This file must not import the engine package (or
anything heavy) — it runs at interpreter startup in every worker, and
pyspark's worker-spawn protocol has a ~10 s connect-back timeout that a
slow sitecustomize would blow. Installing the meta-path finder and the
guard costs microseconds; the vendored modules load only if something
actually imports ``google.protobuf``. Each patch is guarded: any
failure leaves the interpreter exactly as it was."""

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

# The zip-directory re-read guard (see the module docstring). The key
# lives on the importer itself, so each of the several importers of one
# archive re-reads once after the archive changes.
try:
    import functools as _functools
    import os as _os
    import zipimport as _zipimport

    _read_directory_always = _zipimport.zipimporter.invalidate_caches

    @_functools.wraps(_read_directory_always)
    def _invalidate_if_changed(self):
        try:
            st = _os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_directory_key", None):
            _read_directory_always(self)
            self._directory_key = key

    _zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
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
