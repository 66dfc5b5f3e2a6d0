"""One benchmark run: a single driver process and one closed-loop client.

Launched by ``run.py`` with a JSON config path. It sets up the session
through the package's public entry points, then runs a cold pass, an
untimed check pass, the workload's warm-up passes and measured warm
passes until the measuring window is spent, each step starting only
after the previous one finished. With tracing on, every other measured
pass is traced and the status stores are read after each key. The
record of the run is written as JSON to the path the config names.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
import traceback

import numpy as np
from ledger import StatusStore, Tracer, key_ledger

# a disabled tracer: untraced passes and the check pass record no spans
_NO_TRACE = Tracer(False)


# Warm-up passes run after the check pass and are not reported. Both
# workloads keep getting faster until their sixth or seventh pass in a
# session (JIT of the driver-side paths): on a 4-core host the streaming
# key went 3.0, 2.9, 2.8, 2.6 s over the warm passes after its check
# pass before levelling at 2.5 s, and a lloyd-bulk pass 3.2, 2.8, 2.5,
# 2.7 s before levelling at 2.3-2.4 s.
WARMUP = 4

# Fewest measured warm passes per run: the median of five is the
# third-fastest pass, so two passes slowed by bursts of host CPU steal
# do not move it.
MIN_MEASURED = 5


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host from /proc/stat: the share a
    pass lost to other tenants of the machine, which the load average
    of this container's view does not show."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Steps:
    """How each step of a workload calls into the package and is checked."""

    def __init__(self, spark, workload, inputs, queries, oracles):
        from flink_kmeans_spark.operators import kmeans as km

        self.spark, self.inputs = spark, inputs
        self.queries, self.km, self.oracles = queries, km, oracles
        self.model = None  # lloyd-bulk: the last fitted model
        if workload.points:
            import pyarrow.parquet as pq

            t = pq.read_table(inputs["points_path"]).to_pandas().sort_values("vec_id")
            self.points = np.stack(t["embedding"].to_numpy())

    def build(self, step, tracer):
        """Call into the package; returns a DataFrame to force, or None."""
        from workloads import LLOYD_ITERS, LLOYD_K

        if step == "kmeans.fit":
            pts = self.spark.read.parquet(self.inputs["points_path"])
            with tracer.span("operators.kmeans.fit"):
                self.model = self.km.fit(pts, k=LLOYD_K, n_iter=LLOYD_ITERS)
            return None
        if step == "kmeans.assign_arrow":
            pts = self.spark.read.parquet(self.inputs["points_path"])
            return self.km.assign_arrow(pts, self.model.centroids)
        return self.queries[step](self.spark, self.inputs["data_dir"])

    def check(self, step) -> list[str]:
        """Untimed: collect the step's output once and compare it. The
        fit is eager, so its check reuses the cold pass's centroids."""
        from workloads import check_centroids, check_labels, check_oracles

        if step == "kmeans.fit":
            if self.model is None:  # the cold pass's fit did not finish
                self.build(step, _NO_TRACE)
            return check_centroids(self.model.centroids, self.points)
        if step == "kmeans.assign_arrow":
            pdf = self.build(step, _NO_TRACE).toPandas()
            return check_labels(pdf, self.model.centroids, self.points)
        pdf = self.build(step, _NO_TRACE).toPandas()
        oracle = check_oracles()
        con = oracle.duckdb_conn(self.inputs["data_dir"])
        try:
            return oracle.compare(step, pdf, con.execute(self.oracles()[step]).df())
        finally:
            con.close()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])

    t_import = time.monotonic()
    from flink_kmeans_spark.plans.registry import ORACLES, QUERIES
    from flink_kmeans_spark.session import PHASE_WALLS, get_spark

    t_spark = time.monotonic()
    spark = get_spark("perfbench")
    t_queries = time.monotonic()
    queries = QUERIES()
    t_ready = time.monotonic()

    from workloads import WORKLOADS

    spark.sparkContext.setLogLevel("ERROR")
    workload = WORKLOADS[cfg["workload"]]
    traced = bool(cfg["trace"])
    tracer = Tracer(traced)
    store = StatusStore(spark) if traced else None
    steps = Steps(spark, workload, cfg["inputs"], queries, ORACLES)
    rng = np.random.default_rng([cfg["seed"], 3])
    nproc = cfg["nproc"]
    attempted = failed = 0
    errors: list[str] = []
    jobs: list = []
    execs: list = []

    def drain():
        j, e = store.drain()
        jobs.extend(j)
        execs.extend(e)

    def run_pass(index: int, kind: str, trace_on: bool) -> dict:
        nonlocal attempted, failed
        tr = tracer if trace_on else _NO_TRACE
        order = list(workload.steps)
        if not workload.ordered:
            order = [order[i] for i in rng.permutation(len(order))]
        if trace_on:
            drain()  # backlog of untraced passes, outside the pass wall
        load0 = os.getloadavg()[0]
        rec = {"index": index, "kind": kind, "traced": trace_on, "order": order,
               "load_before": load0, "loaded": load0 > nproc, "keys": {}}
        steal0, ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        with tr.span("pass", index=index, kind=kind):
            for step in order:
                attempted += 1
                walls_before = PHASE_WALLS.get(step)
                k0, e0 = time.perf_counter(), time.time()
                try:
                    with tr.span("key", key=step) as kspan:
                        with tr.span("plans.build"):
                            b0 = time.perf_counter()
                            df = steps.build(step, tr)
                            b1 = time.perf_counter()
                        if df is not None:
                            with tr.span("plans.action"):
                                noop(df)
                except Exception:  # a failing key is counted, the run goes on
                    failed += 1
                    errors.append(f"{kind} pass {index} {step}:\n{traceback.format_exc()}")
                    continue
                k1 = time.perf_counter()
                key = {"wall_s": k1 - k0, "plans.build_s": b1 - b0, "plans.action_s": k1 - b1}
                walls = PHASE_WALLS.get(step)
                if walls is not None and walls is not walls_before:
                    key["streaming.scaffold_s"] = walls.get("scaffold_s", 0.0)
                    key["streaming.drain_s"] = walls.get("drain_s", 0.0)
                if trace_on:
                    drain()
                    key.update(key_ledger(jobs, execs, e0, time.time()))
                    for j in jobs:
                        if j["jobId"] in key["job_ids"]:
                            tracer.add_job(kspan["id"], j)
                rec["keys"][step] = key
        rec["wall_s"] = time.perf_counter() - t0
        rec["load_after"] = os.getloadavg()[0]
        steal1, ticks1 = cpu_ticks()
        rec["steal_frac"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
        return rec

    passes = []
    with tracer.span("run", workload=workload.name, seed=cfg["seed"]):
        passes.append(run_pass(0, "cold", traced))

        checks = {}
        t_checks = time.perf_counter()
        for step in workload.steps:
            attempted += 1
            try:
                problems = steps.check(step)
            except Exception:
                problems = [traceback.format_exc()]
            checks[step] = problems
            if problems:
                failed += 1
                errors.append(f"check {step}: " + "\n".join(problems))

        check_s = time.perf_counter() - t_checks
        for _ in range(WARMUP):
            passes.append(run_pass(len(passes), "warmup", False))
        window_end = time.monotonic() + cfg["seconds"]
        measured = 0
        while measured < MIN_MEASURED or time.monotonic() < window_end:
            # with tracing on, every other measured pass runs untraced so
            # the run also yields the untraced wall the overhead is taken from
            passes.append(run_pass(len(passes), "warm", traced and measured % 2 == 0))
            measured += 1

    record = {
        "workload": workload.name,
        "seed": cfg["seed"],
        "trace": traced,
        "nproc": nproc,
        "setup": {
            "ready_monotonic": t_ready,
            "import_s": t_spark - t_import,
            "session.get_spark_s": t_queries - t_spark,
            "queries_s": t_ready - t_queries,
        },
        "passes": passes,
        "checks": checks,
        "check_s": check_s,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "jvm.peak_rss_mb": jvm_peak_rss_mb(spark),
    }
    if traced:
        record["spans"] = tracer.spans
        record["self_times"] = tracer.self_times()
    spark.stop()
    with open(cfg["out"], "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
