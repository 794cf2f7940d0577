"""scripts/run_job.py, the production entry point, run as a user runs it:
a fresh process on the committed sf0.001 transcripts, then a rerun into
the same workdir that must resume (skip) every committed stage."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from transner_spark.plans.pipeline import STAGES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT = os.path.join(REPO, "data", "cache", "sf0.001", "transcripts.parquet")


def _run_job(workdir: str) -> dict:
    # Spark's Python workers import transner_spark by name, so the repo
    # root must be on their path, not just on the driver's
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "scripts/run_job.py", "--input", INPUT,
         "--workdir", workdir, "--master", "local[2]"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert summary, proc.stdout[-4000:]
    return json.loads(summary[-1])


def test_run_job_runs_then_resumes(tmp_path):
    workdir = str(tmp_path / "kg")
    first = _run_job(workdir)
    assert sorted(first["stages_run"]) == sorted(STAGES)
    assert first["stages_skipped"] == []
    assert first["edges"] > 0

    second = _run_job(workdir)
    assert second["stages_run"] == []
    assert sorted(second["stages_skipped"]) == sorted(STAGES)
    assert second["edges"] == first["edges"]
