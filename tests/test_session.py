"""Session factory: Python workers find the engine from any working dir."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_engine_outside_repo_root(tmp_path):
    """A driver started outside the repo root, with the repo only on its
    own sys.path, runs the build's Arrow UDFs: get_spark points the
    workers at the package (they failed with ModuleNotFoundError)."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from search_engine_spark.corpus import gen_pages_df
from search_engine_spark.operators.indexer import build_index
from search_engine_spark.session import get_spark

spark = get_spark(cores=2, shuffle_partitions=2)
stats = build_index(gen_pages_df(spark, 20, partitions=2),
                    {str(tmp_path / "idx")!r}, partitions=2)
print("n_docs", stats["n_docs"])
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "n_docs" in r.stdout
