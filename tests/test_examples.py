"""Examples must stay runnable — they are the documented entry points
and rot silently otherwise. Each runs in a subprocess (own
SparkSession, so ``spark.stop()`` inside an example can't kill the
suite's shared session) and is asserted individually. Each pays a
~20 s JVM+Spark startup, so they run two at a time. A child's stdout
and stderr go to temp files, not pipes: a child that fills a pipe
nobody is reading yet would block until its timeout."""

from __future__ import annotations

import subprocess
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

EXAMPLES = Path(__file__).resolve().parent.parent / "examples"

_CHECKED = [
    "basic_usage.py",
    "validation_modes.py",
    "cross_field_validators.py",
    "nested_fields.py",
]


def _run_example(name: str) -> tuple[int, str, str]:
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        try:
            rc = subprocess.run(
                [sys.executable, str(EXAMPLES / name)],
                stdout=out,
                stderr=err,
                timeout=300,
            ).returncode
            note = ""
        except subprocess.TimeoutExpired:
            rc, note = -1, "\nTIMEOUT"
        out.seek(0)
        err.seek(0)
        return rc, out.read(), err.read() + note


@pytest.fixture(scope="module")
def example_results():
    with ThreadPoolExecutor(max_workers=2) as pool:
        return dict(zip(_CHECKED, pool.map(_run_example, _CHECKED)))


@pytest.mark.parametrize("name", _CHECKED)
def test_example_runs_clean(name, example_results):
    rc, stdout, stderr = example_results[name]
    assert rc == 0, (
        f"{name} exited {rc}\n"
        f"stdout tail: {stdout[-1500:]}\n"
        f"stderr tail: {stderr[-1500:]}"
    )
