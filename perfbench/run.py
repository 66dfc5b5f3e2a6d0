"""Benchmark runner: one workload, one seed, one driver process per run.

    python3 perfbench/run.py --workload lloyd-bulk --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Run from the repository root. The runner generates the workload's inputs
from the seed, launches ``client.py`` in a fresh process on
``local[<nproc>]`` and reports its end-to-end metrics (``--trace 0``) or
its per-layer metrics (``--trace 1``). The last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``; a
readable report goes to stderr. Generated inputs, logs, run records
and span files live under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170.0  # a whole run, inputs included, must end within 180 s
ENGINE_STATE = (".scratch", ".index")

sys.path.insert(0, HERE)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def dir_usage(path: str) -> dict:
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.lstat(os.path.join(base, n)).st_size
                files += 1
            except OSError:
                pass
    return {"bytes": size, "files": files}


def engine_state() -> dict:
    return {d: dir_usage(os.path.join(ROOT, d)) for d in ENGINE_STATE}


def group_running(pgid: int) -> bool:
    """Whether a process of the group still runs; a zombie has ended and
    only waits for init to reap it."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended meanwhile
            continue
        state, _ppid, pgrp = stat[stat.rindex(")") + 2:].split()[:3]
        if state != "Z" and int(pgrp) == pgid:
            return True
    return False


def stop_group(pgid: int) -> None:
    """Kill what is left of the driver's process group (the JVM and the
    Python workers) and wait until none of it is running."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10.0
    while group_running(pgid) and time.monotonic() < deadline:
        time.sleep(0.02)


def launch(workload, seed: int, seconds: int, trace: int) -> dict:
    """Generate inputs, run one driver process, return its run record."""
    from workloads import generate

    for sub in ("tmp", "spark-local"):  # what a killed JVM may leave behind
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    for sub in ("tmp", "spark-local", "runs"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    data_dir = os.path.join(WORK, "data", workload.name)
    shutil.rmtree(data_dir, ignore_errors=True)
    t_gen = time.monotonic()
    inputs = generate(workload, data_dir, seed)
    generate_s = time.monotonic() - t_gen

    tag = f"{workload.name}-seed{seed}-trace{trace}"
    out = os.path.join(WORK, "runs", f"{tag}.json")
    cfg_path = os.path.join(WORK, "runs", f"{tag}.cfg.json")
    log_path = os.path.join(WORK, "runs", f"{tag}.log")
    if os.path.exists(out):
        os.remove(out)
    cfg = {"root": ROOT, "workload": workload.name, "seed": seed, "seconds": seconds,
           "trace": trace, "nproc": nproc(), "inputs": inputs, "out": out}
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    tmp = os.path.join(WORK, "tmp")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cfg["nproc"]),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    })
    state_before = engine_state()
    with open(log_path, "w") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "client.py"), cfg_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc.pid)
            proc.wait()
        driver_s = time.monotonic() - t_spawn
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        reason = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"driver process {reason}; log {log_path}:\n{tail}")
    with open(out) as f:
        record = json.load(f)
    record["setup_s"] = record["setup"]["ready_monotonic"] - t_spawn
    record["generate_s"], record["driver_s"] = generate_s, driver_s
    record["engine_state"] = {"before": state_before, "after": engine_state()}
    with open(out, "w") as f:
        json.dump(record, f)
    return record


def end_to_end(record: dict) -> dict:
    warm = [p["wall_s"] for p in record["passes"] if p["kind"] == "warm" and not p["traced"]]
    return {
        "setup_s": (record["setup_s"], "s"),
        "cold_pass_s": (record["passes"][0]["wall_s"], "s"),
        "steady_pass_s": (statistics.median(warm), "s"),
        "driver_rss_mb": (record["driver_rss_mb"], "MB"),
    }


# per-layer metrics that are sums over a pass's keys -> unit
PASS_SUMS = {
    "plans.build_s": "s",
    "plans.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.failed_tasks": "count",
    "python.run_s": "s",
    "python.start_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "streaming.scaffold_s": "s",
    "streaming.drain_s": "s",
}


def per_layer(record: dict) -> dict:
    from workloads import LLOYD_ITERS, WORKLOADS

    traced = [p for p in record["passes"] if p["kind"] == "warm" and p["traced"]]
    plain = [p["wall_s"] for p in record["passes"] if p["kind"] == "warm" and not p["traced"]]

    def med(fn) -> float:
        return statistics.median(fn(p) for p in traced)

    def total(p, field) -> float:
        return sum(k.get(field, 0) for k in p["keys"].values())

    def key(p, step, field="wall_s") -> float:
        return p["keys"].get(step, {}).get(field, 0.0)

    m = {"session.get_spark_s": (record["setup"]["session.get_spark_s"], "s")}
    for name, unit in PASS_SUMS.items():
        m[name] = (med(lambda p, f=name: total(p, f)), unit)
    m["spark.stage_reuse_ratio"] = (med(
        lambda p: total(p, "spark.skipped_stages") / max(1, total(p, "spark.stages"))), "ratio")
    m["driver.residual_s"] = (med(
        lambda p: total(p, "wall_s") - total(p, "spark.job_busy_s")), "s")
    fit = med(lambda p: key(p, "kmeans.fit", "plans.build_s"))
    m["operators.kmeans.fit_s"] = (fit, "s")
    m["operators.kmeans.fit_iter_s"] = (fit / LLOYD_ITERS, "s")
    m["operators.kmeans.assign_arrow_s"] = (med(lambda p: key(p, "kmeans.assign_arrow")), "s")
    for k in (s for w in WORKLOADS.values() if w.tables for s in w.steps):
        m[f"plans.{k}.wall_s"] = (med(lambda p, k=k: key(p, k)), "s")
    m["jvm.peak_rss_mb"] = (record["jvm.peak_rss_mb"], "MB")
    m["trace.overhead_s"] = (med(lambda p: p["wall_s"]) - statistics.median(plain), "s")
    return m


def report(record: dict, metrics: dict) -> None:
    w = record["workload"]
    print(f"== {w} seed {record['seed']} trace {int(record['trace'])} "
          f"(nproc {record['nproc']})", file=sys.stderr)
    for p in record["passes"]:
        flag = "  LOADED" if p["loaded"] else ""
        print(f"  pass {p['index']:2d} {p['kind']:6s} {'T' if p['traced'] else ' '} "
              f"{p['wall_s']:7.3f} s  load {p['load_before']:.2f}->{p['load_after']:.2f}"
              f"  steal {100 * p['steal_frac']:.1f}%{flag}", file=sys.stderr)
    warm = [p["wall_s"] for p in record["passes"] if p["kind"] == "warm" and not p["traced"]]
    q1, med, q3 = statistics.quantiles(warm, n=4, method="inclusive")
    print(f"  untraced warm pass median {med:.3f} s [q1 {q1:.3f}, q3 {q3:.3f}] n={len(warm)}",
          file=sys.stderr)
    for step, problems in record["checks"].items():
        print(f"  check {step}: {'ok' if not problems else 'FAILED'}", file=sys.stderr)
    for e in record["errors"]:
        print("  " + e.replace("\n", "\n    "), file=sys.stderr)
    print(f"  inputs {record['generate_s']:.2f} s, checks {record['check_s']:.2f} s, "
          f"driver process {record['driver_s']:.2f} s", file=sys.stderr)
    print(f"  failed_ratio {record['failed']}/{record['attempted']} = "
          f"{record['failed'] / record['attempted']:.4f}", file=sys.stderr)
    st = record["engine_state"]
    for d in ENGINE_STATE:
        b, a = st["before"][d], st["after"][d]
        print(f"  {d}: {b['files']} files {b['bytes']} B -> {a['files']} files {a['bytes']} B",
              file=sys.stderr)
    for name, (value, unit) in metrics.items():
        print(f"  {name:40s} {value:14.4f} {unit}", file=sys.stderr)
    if "self_times" in record:
        print("  span self time (s): " + ", ".join(
            f"{n} {v['self_s']:.3f}/{v['total_s']:.3f}" for n, v in record["self_times"].items()),
            file=sys.stderr)


def run_one(workload, seed: int, seconds: int, trace: int) -> dict:
    record = launch(workload, seed, seconds, trace)
    metrics = per_layer(record) if trace else end_to_end(record)
    report(record, metrics)
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an error, so the driver process group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for needed in ("flink_kmeans_spark", os.path.join("tools", "check_oracles.py")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}", file=sys.stderr)
            return 2
    from workloads import WORKLOADS

    if args.workload == "all":
        names = list(WORKLOADS)
    elif args.workload in WORKLOADS:
        names = [args.workload]
    else:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2

    results = {}
    for name in names:
        try:
            results[name] = run_one(WORKLOADS[name], args.seed, args.seconds, args.trace)
        except RuntimeError as e:
            print(f"perfbench: {name}: {e}", file=sys.stderr)
            return 1
    if len(results) == 1:
        line = results[names[0]]
    else:
        line = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}/{n}": v for w, r in results.items()
                        for n, v in r["metrics"].items()},
        }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
