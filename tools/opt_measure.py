"""Optimization measurement harness (guide §1; rounds 11/12).

Times individual registry keys in isolation with the noop sink and
dumps ``explain("formatted")`` to <plan-dir>/<key>_<tag>.txt so plan
claims in OPTIMIZATION_r<N>.md are judge-checkable.

    python tools/opt_measure.py --tag before --runs 3 key1 key2 ...

Writes one JSON line per key to stdout and appends to
/tmp/opt_measure_<tag>.jsonl. ``py4j_calls`` lists the Python→JVM
round trips of each timed run, so driver-side plan construction is
attributable per key; ``jobs``, ``stages``, ``tasks`` and the
``shuffle_read_bytes``/``shuffle_write_bytes`` lists give each timed
run's scheduler and shuffle totals, read from the driver's status
store with the benchmark's own ledger (``perfbench/ledger.py``). Uses
the same session/methodology as bench.py (warm session, best-of-N,
noop sink, sf0.1 by default).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def count_py4j_calls() -> list:
    """Count every Py4J round trip this process makes from now on; the
    returned one-element list holds the running total."""
    from py4j.clientserver import ClientServerConnection

    calls = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        calls[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    return calls


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--tag", default="probe")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-plan", action="store_true",
                    help="skip the explain dump (timing only)")
    ap.add_argument("--plan-dir", default=os.path.join(ROOT, "plans", "r12"))
    args = ap.parse_args()

    from flink_kmeans_spark.plans.registry import QUERIES
    from flink_kmeans_spark.session import get_spark
    from perfbench.ledger import StatusStore, key_ledger

    py4j_calls = count_py4j_calls()
    spark = get_spark("opt-measure")
    spark.sparkContext.setLogLevel("ERROR")
    store = StatusStore(spark)
    queries = QUERIES()
    plandir = args.plan_dir
    os.makedirs(plandir, exist_ok=True)
    out_path = f"/tmp/opt_measure_{args.tag}.jsonl"

    for key in args.keys:
        fn = queries[key]
        spark.sparkContext.setJobDescription(f"opt:{key}")
        walls, calls, ledgers = [], [], []
        for _ in range(args.runs):
            t0, c0 = time.time(), py4j_calls[0]
            df = fn(spark, args.sf_dir)
            df.write.mode("overwrite").format("noop").save()
            t1 = time.time()
            walls.append(round(t1 - t0, 4))
            calls.append(py4j_calls[0] - c0)
            ledgers.append(key_ledger(*store.drain(), t0, t1))
        spark.sparkContext.setJobDescription(None)
        if not args.no_plan:
            # a fresh plan (outside the timed loop) for the artifact
            pdf = fn(spark, args.sf_dir)
            plan = pdf._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(f"{plandir}/{key}_{args.tag}.txt", "w") as f:
                f.write(plan)
        rec = {
            "key": key,
            "tag": args.tag,
            "best": min(walls),
            "cold": walls[0],
            "walls": walls,
            "py4j_calls": calls,
            **{
                name: [led[f"spark.{name}"] for led in ledgers]
                for name in (
                    "jobs", "stages", "tasks",
                    "shuffle_read_bytes", "shuffle_write_bytes",
                )
            },
            "load": round(os.getloadavg()[0], 2),
        }
        line = json.dumps(rec)
        print(line, flush=True)
        with open(out_path, "a") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
