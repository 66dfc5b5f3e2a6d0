"""SparkSession construction and required runtime configuration.

Two entry paths exist: our own tests/bench build a session via
:func:`get_spark`, while the driver passes us *its* session. Both paths
funnel through :func:`ensure_conf`, which applies the runtime-settable
confs every operator relies on:

- ``spark.sql.legacy.parquet.nanosAsLong`` — ``events.ts`` is Parquet
  TIMESTAMP(NANOS); Spark 4 hard-errors on read without this conf
  (yields int64 nanoseconds, normalized in ``sources.tables``).
- ``spark.sql.session.timeZone=UTC`` — keeps timestamp values identical
  to DuckDB's naive reading when results are compared.
- AQE on — runtime coalescing / skew-join handling; at 100 TB this is
  what turns a mis-sized shuffle into a survivable one.

Both paths cross the Python boundary the same way: workers run the
stock ``pyspark.daemon``, and every function the engine hands to a
worker starts with :func:`boundary.install`, which stops the worker's
later tasks from re-reading ``pyspark.zip``.

:func:`get_spark` also sets static confs, which only take effect when a
SparkContext starts. Among them it turns off PySpark's per-Column
call-site capture, which ``ensure_conf`` leaves as the driver's session
has it: PySpark reads that flag once per process, and it belongs to the
caller.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Confs that are safe (and required) to set on an already-running session.
# SPARK_GRAFT_AQE=false runs the whole engine without adaptive execution —
# the gate-battery perturbation class proving every plan property the
# operators rely on (broadcasts, bucket pruning, WindowGroupLimit, DPP)
# holds without runtime re-planning.
_AQE_RAW = os.environ.get("SPARK_GRAFT_AQE", "true")
_AQE = _AQE_RAW.strip().lower()
if _AQE not in ("true", "false"):
    # fail at import with a clear message, not later inside Spark's
    # conf reader with an IllegalArgumentException far from the cause;
    # report the env var's RAW contents, not the normalized form
    raise ValueError(
        f"SPARK_GRAFT_AQE must be 'true' or 'false', got {_AQE_RAW!r}"
    )
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": _AQE,
    "spark.sql.adaptive.coalescePartitions.enabled": _AQE,
    # test-scale shuffle sizing for sessions we didn't build (the
    # driver's default 200 costs ~10× task overhead at sf≤0.1; AQE
    # coalesces results either way, and a real cluster deployment sets
    # this per data volume)
    "spark.sql.shuffle.partitions": "16",
}


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not build (driver's)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if k == "spark.sql.shuffle.partitions":
                # only rescue the untouched 200-partition default; never
                # override a deliberately-sized session (ours or theirs)
                if spark.conf.get(k, "200") != "200":
                    continue
            spark.conf.set(k, v)
        except Exception:
            # Conf not runtime-settable in this build — reads that need it
            # will surface a clear error instead.
            pass
    return spark


@contextmanager
def conf_scope(spark: SparkSession, confs: dict):
    """Set ``confs`` on ``spark`` for the body, then put each key back:
    restore its previous value, or unset it if it had none. Restored in
    a ``finally``, so a body that raises leaves the session as found."""
    saved = {}
    try:
        for k, v in confs.items():
            saved[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def overlap(*thunks):
    """Run each thunk on its own driver thread and return their results
    in order, so independent job chains overlap instead of queueing.

    Threads run under ``inheritable_thread_target`` (the classic-PySpark
    form; Spark Connect needs the session-argument form), so their jobs
    keep the caller's job group and local properties. A lazy checkpoint
    that more than one thunk reads is computed by whichever task locks
    each block first, while the other thread's task waits for it."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(t)) for t in thunks]
        return [f.result() for f in futures]


def get_spark(app_name: str = "flink-kmeans-spark") -> SparkSession:
    """Build the local session used by tests and bench.

    ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``) with 8 shuffle
    partitions: a small fixed count plus AQE coalescing, sized for the
    local bench. A cluster deployment sizes this to data volume
    (~128 MB per partition) instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no Python call-site capture per Column op: with it on, each
        # F.col / Column method walks the stack and makes ~5 extra Py4J
        # round trips (and imports IPython once). PySpark reads this flag
        # once per process, at the first Column op under an active session
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # the local-bench sizing wins over the RUNTIME_CONFS default
    builder = builder.config("spark.sql.shuffle.partitions", "8")
    return builder.getOrCreate()


# Engine state lives inside the repo (gitignored): ``.scratch/`` holds
# per-call dirs, ``.index/`` holds build-once bucketed tables.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCRATCH_ROOT = os.path.join(_REPO_ROOT, ".scratch")
_INDEX_ROOT = os.path.join(_REPO_ROOT, ".index")

# Scratch dirs this process still holds lazy DataFrame handles over.
# Pruning never deletes these, however old they get, so a handle
# returned early in a long session keeps its files.
_LIVE_SCRATCH: set = set()

# Per-key phase walls for the streaming operators: the landing-dir build
# is test scaffolding (writes that simulate file arrival) while the
# drain is the operator under measurement. ``streaming.jobs.drain``
# records {"scaffold_s": ..., "drain_s": ...} here for each streaming key
# on every run so the two can be measured separately.
PHASE_WALLS: dict = {}


def scratch_dir(prefix: str) -> str:
    """Create a fresh per-call dir ``.scratch/<prefix>_<random>``.

    Each call first prunes sibling dirs older than 2 h, so repeated runs
    don't accumulate spill. The new dir is exempt from that pruning for
    the life of this process, because every caller returns a lazy frame
    that still reads it."""
    import tempfile

    os.makedirs(_SCRATCH_ROOT, exist_ok=True)
    _prune_scratch()
    path = tempfile.mkdtemp(prefix=f"{prefix}_", dir=_SCRATCH_ROOT)
    _LIVE_SCRATCH.add(path)
    return path


def index_dir(tbl: str) -> str:
    """Location of the build-once bucketed table ``tbl``: ``.index/<tbl>``.

    Index dirs are never pruned (a catalog entry may outlive any one
    call); ``BucketedIndex`` drops a source's superseded fingerprints
    when it builds a new one."""
    return os.path.join(_INDEX_ROOT, tbl)


def _prune_scratch() -> None:
    """Best-effort GC of scratch dirs older than 2 h, skipping the
    ones this process handed out. Errors are swallowed: a
    concurrent run may own a dir we try to delete."""
    import shutil
    import time

    try:
        cutoff = time.time() - 7200
        for name in os.listdir(_SCRATCH_ROOT):
            p = os.path.join(_SCRATCH_ROOT, name)
            if p in _LIVE_SCRATCH:
                continue
            try:
                if os.path.isdir(p) and os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    except OSError:
        pass
