"""CLI parity: run both reference jobs through `python -m
mapreduce_implementation_spark` on the reference's own fixtures and diff
the single-file outputs against its checked-in goldens byte-for-byte."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from tests.conftest import REFERENCE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(*extra: str) -> str:
    out = tempfile.mkdtemp(prefix="cli_out_")
    shutil.rmtree(out)  # CLI recreates it
    cmd = [sys.executable, "-m", "mapreduce_implementation_spark",
           "--output", out, "--single-file", *extra]
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(cmd, cwd=REPO, env=env, capture_output=True, text=True,
                       timeout=480)
    assert r.returncode == 0, r.stderr[-2000:]
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1
    with open(os.path.join(out, parts[0])) as f:
        data = f.read()
    shutil.rmtree(out, ignore_errors=True)
    return data


@pytest.mark.slow
def test_cli_word_count_golden():
    got = _run_cli("--input", os.path.join(REFERENCE, "inputdir"), "--nreduce", "2")
    with open(os.path.join(REFERENCE, "outputdir", "output.txt")) as f:
        golden = f.read()
    assert got == golden


@pytest.mark.slow
def test_cli_sort_golden():
    got = _run_cli("--input", os.path.join(REFERENCE, "number_sort_input"),
                   "--sort", "--nreduce", "4")
    with open(os.path.join(REFERENCE, "sort_outputdir", "output.txt")) as f:
        golden = f.read()
    assert got == golden


@pytest.mark.slow
def test_cli_nworkers_overrides_env(tmp_path):
    """An explicit --nworkers wins over an exported SPARK_GRAFT_CPUS."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("the cat the dog\n")
    script = (
        "import sys\n"
        "from pyspark.sql import SparkSession\n"
        "from mapreduce_implementation_spark.__main__ import main\n"
        "main(sys.argv[1:])\n"
        "print(SparkSession.getActiveSession().sparkContext.master)\n")
    cmd = [sys.executable, "-c", script, "--input", str(src),
           "--output", str(tmp_path / "out"), "--nworkers", "1"]
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(cmd, cwd=REPO, env=env, capture_output=True, text=True,
                       timeout=480)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip().splitlines()[-1] == "local[1, 4]"
