"""Engine knobs read from the environment: parsed once, at import, and a
malformed value fails with an error that names the variable."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _import_functions(cap: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, SPARK_GRAFT_BROADCAST_ROW_CAP=cap)
    return subprocess.run(
        [
            sys.executable,
            "-c",
            "from kinesis_customer_sample_spark.functions import BROADCAST_ROW_CAP;"
            " print(BROADCAST_ROW_CAP)",
        ],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )


def test_broadcast_row_cap_from_env():
    out = _import_functions("1500")
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "1500"


def test_malformed_broadcast_row_cap_names_the_variable():
    out = _import_functions("2e6")
    assert out.returncode != 0
    assert "ValueError: SPARK_GRAFT_BROADCAST_ROW_CAP must be an integer, got '2e6'" in out.stderr
