"""The worker daemon's stat-checked ``zipimporter.invalidate_caches``.
Each check runs in a fresh interpreter, so this process's own
``zipimport`` is never patched."""

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

DAEMON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "petastorm_spark",
    "_worker_daemon.py",
)

# Loads the daemon module by file path (no package import, so it runs on
# any interpreter), builds a zip holding a module and a package, imports
# both from it and checks the installer.
SCRIPT = textwrap.dedent(
    """
    import importlib
    import importlib.util
    import os
    import sys
    import zipfile
    import zipimport

    daemon_path, work = sys.argv[1], sys.argv[2]
    spec = importlib.util.spec_from_file_location("worker_daemon", daemon_path)
    daemon = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(daemon)

    archive = os.path.join(work, "mods.zip")

    def write_zip(modules):
        tmp = archive + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for name, src in modules.items():
                zf.writestr(name, src)
        os.replace(tmp, archive)

    modules = {"zmod_a.py": "X = 1\\n", "zpkg/__init__.py": "", "zpkg/inner.py": "Y = 2\\n"}
    write_zip(modules)
    sys.path.insert(0, archive)
    import zmod_a
    import zpkg.inner

    original = zipimport.zipimporter.invalidate_caches
    daemon.install_stat_checked_reread()
    if sys.version_info >= (3, 13):
        assert zipimport.zipimporter.invalidate_caches is original
        print("NOOP")
        raise SystemExit(0)
    assert zipimport.zipimporter.invalidate_caches is not original

    importers = [
        imp for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    ]
    assert len(importers) >= 2, importers  # the archive root and zpkg/

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting

    # keys are unknown until the first call: one re-read, shared by
    # every importer of the archive
    importlib.invalidate_caches()
    assert reads.count(archive) == 1, reads
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1, reads
    assert all(imp._files is zipimport._zip_directory_cache[archive] for imp in importers)

    # a rewritten archive is re-read once, and its new module imports
    write_zip({**modules, "zmod_b.py": "Z = 3\\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2, reads
    import zmod_b
    assert zmod_b.Z == 3
    importlib.invalidate_caches()
    assert reads.count(archive) == 2, reads

    # an archive that cannot be read is re-read on every call, however
    # unchanged, and leaves its importers empty, not broken
    with open(archive, "wb") as f:
        f.write(b"not a zip archive")
    for _ in range(2):
        before = reads.count(archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == before + len(importers), reads
        assert archive not in zipimport._zip_directory_cache
        assert all(imp._files == {} for imp in importers)

    # an archive that disappears is handed to the original method
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert all(imp._files == {} for imp in importers)
    print("CHECKED")
    """
)


def _run(python: str, work) -> str:
    """Run the script under ``python``; returns its last stdout line."""
    proc = subprocess.run(
        [python, "-c", SCRIPT, DAEMON, str(work)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-3000:]
    return proc.stdout.strip().splitlines()[-1]


def test_stat_checked_zip_reread(tmp_path):
    expected = "NOOP" if sys.version_info >= (3, 13) else "CHECKED"
    assert _run(sys.executable, tmp_path) == expected


def test_installer_is_noop_on_python_313(tmp_path):
    for name in ("python3.13", "python3.14"):
        exe = shutil.which(name)
        # a version-manager shim can be on PATH without a working interpreter
        if exe and subprocess.run([exe, "-c", ""], capture_output=True).returncode == 0:
            assert _run(exe, tmp_path) == "NOOP"
            return
    pytest.skip("no Python 3.13+ interpreter on PATH")
