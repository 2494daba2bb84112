"""Python workers launch from flock_spark.worker_daemon and import the
installed pyspark, not the pyspark.zip / py4j zip / spark-core jar that Spark
puts first on their sys.path. Structural checks only, no timing: a worker
with no zip importer cached has nothing for a task's
``importlib.invalidate_caches()`` to re-read."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)


def test_workers_import_installed_pyspark(spark):
    # defined inside the test: cloudpickle ships it by value, and the
    # workers cannot import this test module by name
    def report(it):
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in it:
            pass
        zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        yield pd.DataFrame({
            "zip_importers": [zips],
            "pyspark_on_disk": [os.path.isfile(pyspark.__file__)],
            "version": [pyspark.__version__],
        })

    rows = (
        spark.range(0, 8, 1, 4)
        .mapInPandas(report, "zip_importers long, pyspark_on_disk boolean, version string")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.zip_importers == 0
        assert r.pyspark_on_disk
        assert r.version == spark.version


def _run(code: str, pythonpath: list[str], cwd: Path, *flags: str) -> object:
    out = subprocess.run(
        [sys.executable, *flags, "-c", code],
        env={**os.environ, "PYTHONPATH": os.pathsep.join(pythonpath)},
        cwd=cwd, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout)


_DROP = """
import importlib.util, json, sys, zipimport
import flock_spark.worker_daemon as d
before = list(sys.path)
d.drop_archives()
print(json.dumps({
    "before": before, "after": sys.path,
    "zip_importers": sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()),
    "pyspark": importlib.util.find_spec("pyspark").origin,
}))
"""


def _stub_archive(tmp_path: Path) -> str:
    archive = tmp_path / "spark-python.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("py4j/__init__.py", "")
    return str(archive)


def test_archives_dropped_and_evicted_when_pyspark_is_installed(tmp_path):
    # the archive comes before the package, as on a worker: locating
    # flock_spark caches a zip importer for it, which must be evicted
    archive = _stub_archive(tmp_path)
    r = _run(_DROP, [archive, REPO], tmp_path)
    assert archive in r["before"]
    assert r["after"] == [p for p in r["before"] if p != archive]
    assert r["zip_importers"] == 0
    assert Path(r["pyspark"]).is_file() and archive not in r["pyspark"]


def test_path_kept_when_pyspark_only_in_archive(tmp_path):
    # -S: no site-packages, so pyspark and py4j resolve only in the archive
    archive = _stub_archive(tmp_path)
    r = _run(_DROP, [archive, REPO], tmp_path, "-S")
    assert r["after"] == r["before"]
    assert r["zip_importers"] >= 1
    assert r["pyspark"].startswith(archive)


def test_package_import_leaves_pyspark_unloaded(tmp_path):
    code = "import json, sys, flock_spark; print(json.dumps('pyspark' in sys.modules))"
    assert _run(code, [REPO], tmp_path) is False
