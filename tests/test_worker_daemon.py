"""The Python worker daemon of get_spark sessions: workers carry the
``zipimporter.invalidate_caches`` patch, and the patch keeps the stdlib
semantics (an unchanged archive is not re-read, a changed one is)."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_run_the_patched_invalidate(spark):
    @F.udf("string")
    def where(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    got = spark.range(1).select(where("id").alias("m")).first()["m"]
    assert got == "flink_kmeans_spark.worker_daemon"


SCRIPT = """
import importlib, sys, zipfile, zipimport
from flink_kmeans_spark import worker_daemon

worker_daemon.install()
zp = sys.argv[1]
with zipfile.ZipFile(zp, "w") as z:
    z.writestr("mod_a.py", "X = 1\\n")
sys.path.insert(0, zp)
import mod_a

importlib.invalidate_caches()  # the first call records the archive's stamp
reads = []
stock = zipimport._read_directory
zipimport._read_directory = lambda a: reads.append(a) or stock(a)
importlib.invalidate_caches()
assert reads == [], reads

with zipfile.ZipFile(zp, "w") as z:
    z.writestr("mod_a.py", "X = 1\\n")
    z.writestr("mod_b.py", "Y = 2\\n")
importlib.invalidate_caches()
import mod_b

assert mod_b.Y == 2 and reads == [zp], reads
print("DAEMON_PATCH_OK", flush=True)
"""


def test_patch_rereads_only_a_changed_archive(tmp_path):
    # a subprocess, so this test process keeps the stock zipimport
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path / "mods.zip")],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": REPO_ROOT},
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert "DAEMON_PATCH_OK" in r.stdout, r.stderr[-2000:]
