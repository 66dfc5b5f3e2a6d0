"""Driver-contract regression: the engine must work from a subprocess
whose cwd is OUTSIDE the repo, with a stock SparkSession.

Guards the worker-serialization class of bug: a module-level function
shipped to Python workers pickles by reference and raises
ModuleNotFoundError unless the driver's cwd happens to be the repo root
(found in round 1 in the media decoder — every repo-cwd test passed
while the plain replica failed). Runs the worker-shipping queries only;
the full 73-key gate lives in tools/check_oracles.py.
"""

import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = f"""
import sys
sys.path.insert(0, {REPO_ROOT!r})
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").appName("contract").getOrCreate()
import __spark_entry__ as E
q = E.queries()
for key in ["multimodal_decode", "udf_surface", "kmeans_fit", "dedup_embedding_cosine", "sim_pq_topk", "udtf_surface"]:
    n = q[key](spark, "/root/testdata/sf0.001").count()
    assert n > 0, key
print("CONTRACT_OK", flush=True)
"""


def test_worker_functions_import_free_outside_repo_cwd(tmp_path):
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=480,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "CONTRACT_OK" in r.stdout
