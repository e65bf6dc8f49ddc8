"""The Python worker daemon (spark_streaming_twitter_spark/pyworker.py).

The stamp rule is tested without Spark: an importer re-reads its zip
archive only when the archive's stat stamp changed. The session tests
check that local sessions really start their Python workers from this
module, also from a process that cannot see the checkout on its own
path.
"""

from __future__ import annotations

import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
DAEMON = "spark_streaming_twitter_spark.pyworker"


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    import importlib
    import sys
    import zipfile
    import zipimport

    from spark_streaming_twitter_spark import pyworker

    archive = tmp_path / "mods.zip"

    def write(**modules):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("stampzip_pkg/__init__.py", "")
            for name, src in modules.items():
                z.writestr(f"stampzip_pkg/{name}.py", src)

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_if_changed
    )
    monkeypatch.setattr(pyworker, "_stamps", {})
    write(one="VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        # two importers share the archive: its root and the package dir
        assert importlib.import_module("stampzip_pkg.one").VALUE == 1
        importlib.invalidate_caches()  # the first call reads and stamps
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        write(one="VALUE = 1\n", two="VALUE = 2\n")
        importlib.invalidate_caches()
        # one read serves both importers of the rewritten archive
        assert len(reads) == 1
        assert importlib.import_module("stampzip_pkg.two").VALUE == 2
    finally:
        for name in ("stampzip_pkg", "stampzip_pkg.one", "stampzip_pkg.two"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_python_udf_runs_under_package_daemon(spark):
    def probe(batches):
        # which module the worker's daemon ran as, and which zip-cache
        # rule the worker holds
        import sys
        import zipimport

        for pdf in batches:
            yield pdf.assign(
                daemon=sys.modules["__main__"].__spec__.name,
                rule=zipimport.zipimporter.invalidate_caches.__name__,
            )

    row = (
        spark.range(1)
        .mapInPandas(probe, "id long, daemon string, rule string")
        .first()
    )
    assert (row.daemon, row.rule) == (DAEMON, "invalidate_if_changed")


def test_python_udf_runs_from_a_foreign_cwd(tmp_path):
    """A driver that put the checkout on ``sys.path`` itself, from a cwd
    and ``PYTHONPATH`` without it: the workers still find the daemon."""
    import os
    import subprocess
    import sys

    script = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from spark_streaming_twitter_spark.session import get_spark

def probe(batches):
    import sys
    for pdf in batches:
        yield pdf.assign(daemon=sys.modules["__main__"].__spec__.name)

spark = get_spark(app_name="foreign_cwd", master="local[1]", shuffle_partitions=1)
print("DAEMON", spark.range(1).mapInPandas(probe, "id long, daemon string").first().daemon)
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert f"DAEMON {DAEMON}" in proc.stdout, proc.stdout[-2000:]
