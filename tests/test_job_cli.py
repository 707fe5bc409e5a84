"""spark-submit job entrypoint smoke (subprocess, the real CLI surface)."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "dedup_job.py"), *args],
        capture_output=True,
        text=True,
        timeout=560,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][0]
    return json.loads(line)


def test_job_cli_runs_and_resumes(tmp_path):
    outdir = str(tmp_path / "run")
    first = _run(["--synthetic", "500", "--output", outdir, "--threshold", "0.5"])
    assert first["n_docs"] == 500
    assert first["n_clusters"] < 500  # dups found
    assert os.path.exists(os.path.join(outdir, "clusters._metrics.json"))
    resumed = _run(
        ["--synthetic", "500", "--output", outdir, "--threshold", "0.5", "--resume"]
    )
    assert resumed["n_clusters"] == first["n_clusters"]
    assert resumed["elapsed_sec"] < first["elapsed_sec"]
    # A different input must not be served the stored stages.
    other = _run(
        ["--synthetic", "300", "--output", outdir, "--threshold", "0.5", "--resume"]
    )
    assert other["n_docs"] == 300


def _run_failing(args):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "dedup_job.py"), *args],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode != 0
    return out.stderr.lower()


def test_job_cli_requires_input():
    err = _run_failing(["--output", "/tmp/x"])
    assert "required" in err or "input" in err


def test_job_cli_hash_modes():
    # Every DedupConfig hash mode is a valid choice, unknown ones are not.
    # Without an input the job stops before starting Spark.
    err = _run_failing(["--output", "/tmp/x", "--hash-mode", "parity64"])
    assert "invalid choice" not in err and "required" in err
    assert "invalid choice" in _run_failing(["--output", "/tmp/x", "--hash-mode", "parity_64"])
