"""The worker daemon's zipimport patch: invalidation reads no archive, a
rewritten archive is still seen, and Spark's workers run with it, also when
the package is shipped only with --py-files."""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark

from work_order_pdf_extractor_spark import pyworker


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_invalidation_is_lazy_and_sees_a_rewritten_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyworker_mod_a": "X = 1\n"})
    # undo what install() sets on the class at teardown
    if sys.version_info < (3, 13):
        monkeypatch.setattr(zipimport.zipimporter, "_files", None, raising=False)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    pyworker.install()
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pyworker_mod_a").X == 1
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"pyworker_mod_a": "X = 1\n", "pyworker_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("pyworker_mod_b").Y == 2
        assert reads == [archive]
    finally:
        for name in ("pyworker_mod_a", "pyworker_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_spark_workers_fork_from_the_package_daemon(spark):
    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(0, 64, numPartitions=8).mapInPandas(probe, "m string").collect()
    want = "work_order_pdf_extractor_spark.pyworker" if sys.version_info < (3, 13) else "zipimport"
    assert len(rows) == 8 and {r.m for r in rows} == {want}


SUBMITTED = """
from work_order_pdf_extractor_spark.session import get_spark

spark = get_spark(app_name="py-files", cores=2)
print("ROWS", spark.range(0, 8, numPartitions=4).mapInPandas(lambda it: it, "id long").count())
spark.stop()
"""


def test_spark_submit_with_the_package_only_in_py_files(tmp_path):
    pkg = os.path.dirname(pyworker.__file__)
    archive = shutil.make_archive(str(tmp_path / "wo_spark"), "zip", os.path.dirname(pkg), os.path.basename(pkg))
    (tmp_path / "job.py").write_text(SUBMITTED)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    submit = os.path.join(os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out = subprocess.run(
        [submit, "--py-files", archive, "job.py"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "ROWS 8" in out.stdout, out.stderr[-3000:]
