"""Smoke test of the benchmark itself: every workload once at the
smallest size, untraced and traced. ``run.py --smoke`` exits non-zero
unless every metric named in BENCHMARK.json is reported with its unit
and no op failed or mismatched its oracle."""

import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def test_smoke_reports_every_metric_and_no_failures():
    p = subprocess.run(
        [sys.executable, str(RUN), "--smoke"],
        capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    assert json.loads(p.stdout.strip().splitlines()[-1]) == {"smoke_ok": True}


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in RUN.parent.glob("*.py"):
        (bench / f.name).write_text(f.read_text())
    p = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "warehouse_sql",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=60, cwd=tmp_path,
    )
    assert p.returncode != 0
    assert p.stdout == ""
