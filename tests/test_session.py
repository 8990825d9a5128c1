"""``get_spark`` under spark-submit: the launcher's ``--master`` stands."""

from __future__ import annotations

import os
import subprocess

import pyspark

JOB = """
from work_order_pdf_extractor_spark.session import get_spark

spark = get_spark(app_name="master", cores=2)
print("MASTER", spark.sparkContext.master)
spark.stop()
"""


def test_spark_submit_master_overrides_cores(tmp_path):
    (tmp_path / "job.py").write_text(JOB)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_DRIVER_MEM="1g")
    submit = os.path.join(os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out = subprocess.run(
        [submit, "--master", "local[3]", "job.py"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "MASTER local[3]" in out.stdout, out.stderr[-3000:]
