"""Session factory: Spark's Python workers import the package wherever the
driver script runs from."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)

DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from elasticsearch_spark.operators import index_build, topk
from elasticsearch_spark.session import get_spark
from elasticsearch_spark.sources.transcripts import generate_transcripts

index_build.LOCAL_BUILD_MAX_ROWS = 0  # build in Spark tasks (mapInArrow)
spark = get_spark(master="local[2]")
store = index_build.build_index(spark, generate_transcripts(spark, 500, seed=3), "store")
assert store.snapshot().segments[0].metrics["build_path"] == "spark"
rows = topk.search_indexed(spark, store, {{"match": {{"text": "w1"}}}}, k=5).collect()
print("HITS", len(rows))
spark.stop()
"""


def test_workers_import_package_from_another_directory(tmp_path):
    """A script that puts the repository on sys.path itself, run from
    another directory with PYTHONPATH unset: the build's mapInArrow and the
    kernel's applyInPandas run the package's functions in the workers."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(DRIVER.format(repo=REPO)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    r = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    assert "HITS 5" in r.stdout
