"""Process-shared store roots (``cache.temp_root``) are removed when the
process that built them exits."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent

# builds one process-shared IVF index through its real site, then exits
SCRIPT = """
from affinity_spark import get_spark
from affinity_spark.operators.ivf_index import shared_ivf

spark = get_spark(
    app_name="temp-roots", master="local[1]",
    conf={"spark.sql.shuffle.partitions": "1"},
)
emb = spark.createDataFrame(
    [(i, [float(i), 1.0]) for i in range(8)], "vec_id long, embedding array<double>"
)
print(shared_ivf(spark, emb, "temp-roots", k=2).path)
"""


def test_shared_store_root_is_removed_at_exit(tmp_path):
    env = {
        **os.environ,
        "TMPDIR": str(tmp_path),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
        ),
    }
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    root = pathlib.Path(out.stdout.strip().splitlines()[-1])
    # the index was built under this TMPDIR, and is gone now
    assert root.parent == tmp_path and root.name.startswith("affinity_ivf_")
    assert not root.exists()
    assert [p.name for p in tmp_path.iterdir() if p.name.startswith("affinity_")] == []
