"""Child process of a traced run: time the first measured batches at
local[N] in a fresh JVM, on a clone of the base table the parent built.

    python3 cdcbench/scaling.py --work .cdcbench_work --workload cow_bulk --cores 1 --batches 1

The parent runs it once at local[1] and once at local[4], so both core
counts take the same steps from the same start: a fresh JVM, the batches
applied once to a throwaway clone as warm-up, then timed on a fresh clone
through ``measured_pass`` without reads. After the warm-up it prints
``{"ready": true}`` and waits for a line on stdin, so the parent can warm
both children up side by side and time each alone. Then it prints
``{"secs": ...}``: the summed apply time of the timed batches.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--work", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--batches", type=int, required=True)
    args = p.parse_args()
    sys.path.insert(0, ROOT)
    import spark_env

    spark_env.isolate(args.work)  # before anything imports the engine
    from clinvar_ingest_spark.engine import CdcEngine
    from workloads import KINDS, Workload

    kind = KINDS[args.workload]
    work = os.path.join(args.work, f"local{args.cores}")
    phases: dict[str, float] = {}
    t = time.perf_counter()
    spark, _ = spark_env.start_session(work, kind.shape.n_buckets, cores=args.cores)
    try:
        wl = Workload(kind, spark, work, seed=0)  # inputs come from the parent
        wl.measured_cl = spark.read.parquet(
            os.path.join(args.work, "inputs", "measured.parquet"))
        wl.base = CdcEngine(spark, os.path.join(args.work, "base"),
                            n_buckets=kind.shape.n_buckets)
        phases["session_s"] = time.perf_counter() - t
        for tag in ("warm", "timed"):
            if tag == "timed":
                print(json.dumps({"ready": True}), flush=True)
                sys.stdin.readline()  # the parent's turn signal
            t = time.perf_counter()
            res = wl.measured_pass(os.path.join(work, tag), reads=False,
                                   n_batches=args.batches)
            phases[f"{tag}_s"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        spark_env.stop_processes()
        phases["stop_s"] = time.perf_counter() - t
    if wl.ops.failed:
        print(f"scaling: {wl.ops.failures}", file=sys.stderr)
        return 1
    print(json.dumps({"secs": sum(res.batch_s), "phases_s": phases}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
