"""Session factory contracts."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Grouped kernels pickle module-level package functions by reference, so
# the Python workers must be able to import the package themselves.
_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from ddataframeoperation_spark.operators import dedup
from ddataframeoperation_spark.session import get_spark

spark = get_spark("cwd-probe")
pairs = spark.createDataFrame(
    [(1, 2, "s"), (2, 3, "s"), (7, 8, "t")], "id_a long, id_b long, src string"
)
for comp in (
    dedup.connected_components(pairs, block_col="src"),
    dedup.connected_components(pairs.select("id_a", "id_b")),
):
    print(sorted(map(tuple, comp.collect())))
"""


def test_kernels_import_package_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_WAREHOUSE=str(tmp_path / "warehouse"),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    want = "[(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]"
    got = [ln for ln in proc.stdout.splitlines() if ln.startswith("[(")]
    assert got == [want, want], proc.stdout
