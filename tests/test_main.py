"""``main.py`` end to end, in a subprocess: ``main()`` stops its session,
which would stop the suite's shared one."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from work_order_pdf_extractor_spark import fixtures

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_main_checkpointed_run_resume_and_bucket_count_guard(tmp_path, tiny_transcripts_pd):
    paths = fixtures.write_fixture_parquet(str(tmp_path), "tiny")
    out = str(tmp_path / "out")
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")

    def main(n_buckets: int) -> subprocess.CompletedProcess:
        return subprocess.run(
            [
                sys.executable, os.path.join(ROOT, "main.py"),
                "--transcripts", paths["transcripts"],
                "--ref-orders", paths["reference_orders"],
                "--out", out, "--n-buckets", str(n_buckets),
            ],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
        )

    def summary(run: subprocess.CompletedProcess) -> dict:
        assert run.returncode == 0, run.stderr[-3000:]
        return json.loads(run.stdout.strip().splitlines()[-1])

    first = summary(main(4))
    assert first["mode"] == "checkpointed"
    assert first["buckets_done"] == 4
    assert first["metrics"]["files_processed"] == len(tiny_transcripts_pd)

    other = main(8)
    assert other.returncode != 0
    assert "committed with n_buckets=4" in other.stderr, other.stderr[-3000:]

    again = summary(main(4))
    assert again["buckets_done"] == 0 and again["buckets_skipped"] == 4
