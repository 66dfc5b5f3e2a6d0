"""The Python boundary of get_spark sessions: workers run from the
package's daemon and carry the ``zipimporter.invalidate_caches`` patch,
the patch keeps the stdlib semantics (an unchanged archive is not
re-read, a changed one is), and the driver builds plans without
per-Column call-site capture."""

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


CAPTURE_SCRIPT = """
import sys
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F
from flink_kmeans_spark.session import get_spark

spark = get_spark("capture-off")
df = spark.range(3).select((F.col("id") + 1).alias("b")).where(F.col("b") > 1)
assert df.count() == 2
assert is_debugging_enabled() is False
assert "IPython" not in sys.modules, "call-site capture imported IPython"
spark.stop()
print("CAPTURE_OFF_OK", flush=True)
"""


def test_get_spark_turns_off_call_site_capture(tmp_path):
    # a subprocess: PySpark caches the flag for the whole process at the
    # first Column op, so it must be read fresh after get_spark
    r = subprocess.run(
        [sys.executable, "-c", CAPTURE_SCRIPT],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": REPO_ROOT},
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert "CAPTURE_OFF_OK" in r.stdout, r.stderr[-2000:]
