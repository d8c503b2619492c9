"""`scripts/verify_all.py --only` rejects unknown query names before a
Spark session starts, so a typo cannot shrink the run to zero queries
and still print an empty FAILS list with exit 0."""

import pathlib
import subprocess
import sys

SCRIPT = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "verify_all.py"


def test_only_rejects_unknown_names_without_spark():
    res = subprocess.run(
        [sys.executable, str(SCRIPT), "--only", "monthly_order_counts,no_such_query"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert res.returncode == 2, res.stdout + res.stderr
    assert "no_such_query" in res.stderr
    assert "monthly_order_counts" not in res.stderr
    assert "ENTRY rows" not in res.stdout  # exited before any session
