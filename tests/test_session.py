"""session.py: the zip-directory invalidation gate every Python worker
installs on package import, and shipping the package to each new
SparkContext."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import parse_html_spark  # noqa: F401  (installs the gate)
from parse_html_spark.session import stat_gate_zip_invalidation

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


def _reads_of(archive):
    """Count of zipimport._read_directory calls on ``archive`` during one
    importlib.invalidate_caches()."""
    read = zipimport._read_directory
    calls = []

    def counting(path):
        if path == archive:
            calls.append(path)
        return read(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    return len(calls)


def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path):
    archive = str(tmp_path / "zgate.zip")
    modules = {
        "zgate/__init__.py": "",
        "zgate/a.py": "A = 1\n",
        "zgate/sub/__init__.py": "",
        "zgate/sub/s.py": "S = 2\n",
    }
    _write_zip(archive, modules)
    sys.path.insert(0, archive)
    try:
        import zgate.a
        import zgate.sub.s

        assert (zgate.a.A, zgate.sub.s.S) == (1, 2)
        importers = [
            k for k, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive
        ]
        assert len(importers) >= 3  # root, zgate/, zgate/sub/
        stat_gate_zip_invalidation()  # idempotent
        # the first pass after the import reads the archive at most once,
        # not once per importer; later passes not at all
        assert _reads_of(archive) <= 1
        assert _reads_of(archive) == 0
        assert _reads_of(archive) == 0

        _write_zip(archive, {**modules, "zgate/b.py": "B = 3\n"})
        reads = _reads_of(archive)
        if sys.version_info < (3, 12):  # 3.12+ re-reads lazily, on use
            assert reads == 1
        import zgate.b

        assert zgate.b.B == 3
        assert _reads_of(archive) == 0
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m == "zgate" or m.startswith("zgate.")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_gate_is_installed_once():
    if sys.version_info >= (3, 12):
        assert not hasattr(zipimport.zipimporter.invalidate_caches, "stat_gated")
        return
    gated = zipimport.zipimporter.invalidate_caches
    assert gated.stat_gated
    stat_gate_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is gated


def test_new_context_after_stop_gets_the_package_zip():
    """A SparkContext created after stop() may reuse the freed one's id();
    the package must still be shipped to it. Every context is given the
    same id() here, which makes that reuse certain. Runs in its own
    process: the test session's context cannot be stopped."""
    script = textwrap.dedent(
        """
        import os
        import parse_html_spark.session as session
        from parse_html_spark.session import get_spark

        session.id = lambda obj: 0

        shipped = []
        for _ in range(3):
            spark = get_spark(cpus=1, app="ship_after_stop")
            zip_name = f"parse_html_spark_{os.getpid()}.zip"
            shipped.append(zip_name in spark.sparkContext._python_includes)
            spark.stop()
        print("SHIPPED", shipped)
        """
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "SHIPPED [True, True, True]" in out.stdout, out.stdout + out.stderr
