"""The Python boundary: every worker function starts with
``boundary.install``, which patches ``zipimporter.invalidate_caches`` in
its worker process on both session paths; the patch keeps the stdlib
semantics (an unchanged archive is not re-read, a changed one is, and an
interpreter whose stock method is already lazy keeps it); and the driver
of get_spark sessions builds plans without per-Column call-site
capture."""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import importlib, sys, zipfile, zipimport
from flink_kmeans_spark import boundary

boundary.install()
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
print("BOUNDARY_PATCH_OK", flush=True)
"""


def _runs(python: str) -> bool:
    return shutil.which(python) is not None and subprocess.run(
        [python, "-c", "pass"], capture_output=True, timeout=60
    ).returncode == 0


@pytest.mark.parametrize(
    "python", [sys.executable, "python3.13"], ids=["this-python", "python3.13"]
)
def test_patch_rereads_only_a_changed_archive(tmp_path, python):
    # CPython 3.13's stock method is lazy and has no _files: install
    # must leave it in place there, with the same observable behavior
    if python != sys.executable and not _runs(python):
        pytest.skip(f"{python} is not installed")
    # a subprocess, so this test process keeps the stock zipimport
    r = subprocess.run(
        [python, "-c", SCRIPT, str(tmp_path / "mods.zip")],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": REPO_ROOT},
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert "BOUNDARY_PATCH_OK" in r.stdout, r.stderr[-2000:]


def _plain_session(script: str, timeout: int = 300) -> str:
    """Run ``script`` from a cwd outside the repo with the repo on the
    driver's sys.path only: its plain session's workers cannot import
    the package, as in a session the engine did not build."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    prelude = f"import sys\nsys.path.insert(0, {REPO_ROOT!r})\n"
    with tempfile.TemporaryDirectory() as cwd:
        r = subprocess.run(
            [sys.executable, "-c", prelude + script],
            cwd=cwd,
            env=env,
            capture_output=True,
            text=True,
            timeout=timeout,
        )
    assert r.returncode == 0, r.stderr[-3000:]
    return r.stdout


PLAIN_SCRIPT = """
from pyspark.sql import SparkSession, functions as F
from flink_kmeans_spark.operators import kmeans

spark = SparkSession.builder.master("local[2]").getOrCreate()
pts = spark.createDataFrame(
    [(i, [float(i % 7), float(i % 3)]) for i in range(64)],
    "vec_id long, embedding array<double>",
)
kmeans.fit(pts, k=3, n_iter=2)


@F.udf("string")
def where(_):
    import zipimport

    m = zipimport.zipimporter.invalidate_caches
    return f"{m.__module__}:{getattr(m, 'stamp_checked', False)}"


# one task, so it runs in a reused worker that ran a fit task
got = spark.range(1).select(where("id").alias("m")).first()["m"]
assert got == "flink_kmeans_spark.boundary:True", got
spark.stop()
print("PLAIN_BOUNDARY_OK", flush=True)
"""


def test_plain_session_workers_carry_the_patch():
    assert "PLAIN_BOUNDARY_OK" in _plain_session(PLAIN_SCRIPT)


def _assign_input(spark):
    pts = spark.createDataFrame(
        [(i, [float(i % 11) - 5.0, float(i % 5), float(i % 3) * 0.5]) for i in range(300)],
        "vec_id long, embedding array<double>",
    ).repartition(3)
    cents = [(0, [-5.0, 0.0, 0.0]), (1, [0.0, 2.0, 1.0]), (2, [5.0, 4.0, 0.5])]
    return pts, cents


NO_REUSE_SCRIPT = """
import json
from pyspark.sql import SparkSession
from flink_kmeans_spark.operators import kmeans
from tests.test_boundary import _assign_input

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.python.worker.reuse", "false")
    .getOrCreate()
)
assert spark.conf.get("spark.python.worker.reuse") == "false"
rows = kmeans.assign_arrow(*_assign_input(spark)).collect()
print("ROWS " + json.dumps(sorted(tuple(r) for r in rows)), flush=True)
spark.stop()
"""


def test_assign_arrow_without_worker_reuse_matches(spark):
    from flink_kmeans_spark.operators import kmeans

    out = _plain_session(NO_REUSE_SCRIPT)
    line = next(ln for ln in out.splitlines() if ln.startswith("ROWS "))
    no_reuse = [tuple(r) for r in json.loads(line[len("ROWS "):])]
    reuse = sorted(tuple(r) for r in kmeans.assign_arrow(*_assign_input(spark)).collect())
    assert len(reuse) == 300
    assert no_reuse == reuse


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
