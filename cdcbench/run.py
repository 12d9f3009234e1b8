"""CDC engine benchmark: one workload per run, one JSON result line.

Run from the repository root:

    python3 cdcbench/run.py --workload cow_bulk --seed 1 --seconds 10 --trace 0

The engine runs at local[4] from this one process in a closed loop: the
next batch goes in only after the previous one commits. Each workload
measures a fixed list of batches (``workloads.KINDS``), the same on every
run; ``--seed`` makes the inputs. ``--seconds`` is accepted for the
benchmark harness's calling convention and does not change the run.
``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` additionally runs a traced pass and prints the per-layer
metrics instead. Earlier lines carry a ``detail`` object; the last line
is the result.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import queue
import shutil
import statistics
import subprocess
import sys
import threading
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = ".cdcbench_work"


def tail_percentile(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return {"value": None, "samples": n, "note": "a tail needs at least 11 samples"}
    return {"value": xs[n - 11], "percentile": 100 * (n - 10) // n, "samples": n}


def _metric_specs(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def _emit(values: dict, kind: str) -> dict:
    specs = _metric_specs(kind)
    missing = [s["name"] for s in specs if s["name"] not in values]
    if missing:
        raise RuntimeError(f"benchmark computed no value for {missing}")
    return {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "clinvar_ingest_spark", "__init__.py")):
        print(f"cdcbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TZ"] = "UTC"
    time.tzset()
    import spark_env

    spark_env.isolate(work)  # before anything imports the engine
    try:
        from workloads import KINDS

        if args.workload not in KINDS:
            print(f"cdcbench: unknown workload {args.workload!r}; one of {sorted(KINDS)}",
                  file=sys.stderr)
            return 2
        result = run(KINDS[args.workload], args, work)
    finally:
        spark_env.stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(kind, args, work: str) -> dict:
    import oracle
    import spark_env
    import workloads as wl_mod
    from workloads import Workload

    phases: dict[str, float] = {}

    def mark(name: str) -> None:
        phases[name] = time.perf_counter() - T0

    probe_before = spark_env.host_probe()
    mark("probe")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    t = time.perf_counter()
    spark, settings = spark_env.start_session(work, kind.shape.n_buckets,
                                              event_log_dir=event_dir)
    session_s = time.perf_counter() - t

    wl = Workload(kind, spark, work, args.seed)
    if args.trace:
        # the traced run reports its end-to-end figures in the detail line
        # only; its read-side layer metrics are counts, so fewer samples
        # suffice
        wl.lookups_per_batch, wl.scans_per_compaction = TRACE_LOOKUPS_PER_BATCH, 1
    wl.setup()
    setup_s = session_s + sum(wl.setup_parts.values())
    mark("setup")

    traced = traced_pass(wl, spark, work) if args.trace else None
    mark("traced")
    root = os.path.join(work, "run")
    t = time.perf_counter()
    res = wl.measured_pass(root)
    measured_wall = time.perf_counter() - t
    mark("measured")
    state_hash = wl.check_final_state(res.engine)
    mark("checked")
    resumes = wl.final_reads(res, root, TRACE_FINAL_ROUNDS if args.trace else FINAL_ROUNDS)
    rss = spark_env.peak_rss_mb()
    mark("final_reads")
    table = res.engine.table
    diffs = wl_mod.commit_diffs(table)
    live = oracle.live_count(wl.inp.events, wl.final_seq)
    n_ev = max(res.events, 1)

    e2e = {
        "apply_events_per_s": res.events / res.apply_s,
        "batch_commit_p50_s": statistics.median(res.batch_s),
        "resume_noop_s": statistics.median(resumes),
        "read_scan_s": statistics.median(res.scan_s),
        "lookup_p50_ms": statistics.median(res.lookup_ms),
        "rows_written_per_event": sum(d["rows"] for d in diffs) / n_ev,
        "bytes_stored_per_live_row": wl_mod.stored_bytes(table) / max(live, 1),
        "peak_rss_mb": rss,
        "setup_s": setup_s,
    }
    by_class: dict[str, list[float]] = {}
    for cls, ms in zip(res.lookup_classes, res.lookup_ms):
        by_class.setdefault(cls, []).append(ms)
    detail = {
        "workload": kind.name,
        "seed": args.seed,
        "trace": args.trace,
        "session": settings,
        "shape": {**dataclasses.asdict(wl.shape), "n_urls": wl.shape.n_urls},
        "loop": "closed: one process, next batch after the previous commit",
        "batches": len(res.batch_s),
        "batch_commit_s": res.batch_s,
        "batch_commit_tail_s": tail_percentile(res.batch_s),
        "measured_wall_s": measured_wall,
        "apply_wall_s": res.apply_s,
        "events_applied": res.events,
        "samples": {"resume": len(resumes), "scan": len(res.scan_s),
                    "lookup": len(res.lookup_ms)},
        "lookup_p50_ms_by_class": {k: statistics.median(v) for k, v in by_class.items()},
        "compact_s": res.compact_s,
        "setup_parts_s": {"session_s": session_s, **wl.setup_parts},
        "final_state_hash": state_hash,
        "live_rows": live,
        "host_probe_before": probe_before,
    }
    values = e2e
    if args.trace:
        values = layer_values(wl, res, diffs, traced, work, event_dir, detail)
        detail["end_to_end_untraced_pass"] = e2e
    else:
        spark_env.stop_session()
    mark("stopped")
    detail["host_probe_after"] = spark_env.host_probe()
    mark("probe_after")
    detail["phases_s"] = phases
    detail["failures"] = wl.ops.failures
    print(json.dumps({"detail": detail}))
    return {
        "correct": wl.ops.failed == 0,
        "attempted": wl.ops.attempted,
        "failed": wl.ops.failed,
        "metrics": _emit(values, "per_layer" if args.trace else "end_to_end"),
    }


SCALING_BATCHES = 1
FINAL_ROUNDS = 20
TRACE_FINAL_ROUNDS = 5
TRACE_LOOKUPS_PER_BATCH = 3


@dataclasses.dataclass
class Traced:
    tracer: object
    res: object  # the traced pass's PassResult
    pass_span: int
    restart_span: int
    phases_s: dict


def traced_pass(wl, spark, work: str) -> Traced:
    """The traced pass: the measured batches on a fresh clone with every
    layer wrapped, without the reads, then one traced restart. It runs
    before the untraced measured pass, which ``trace.overhead_ratio``
    compares it with: the JVM is still warming up, so the ratio errs
    high, never low."""
    from tracing import Tracer, instrument_engine, instrument_modules

    tracer = Tracer(spark)
    instrument_modules(tracer)

    def inst(eng):
        instrument_engine(tracer, eng)

    t = time.perf_counter()
    root = os.path.join(work, "traced")
    with tracer.span("pass") as pass_span:
        tres = wl.measured_pass(root, instrument=inst, reads=False)
    with tracer.span("restart") as restart_span:
        wl.resume(root, 1, instrument=inst)
    tracer.restore()
    wl.check_final_state(tres.engine)
    return Traced(tracer, tres, pass_span.id, restart_span.id,
                  {"traced_pass_and_restart": time.perf_counter() - t})


def layer_values(wl, res, res_diffs, traced: Traced, work: str, event_dir: str,
                 detail: dict) -> dict:
    """The per-layer metrics: spans and Spark stages of the traced pass,
    lookup, scan and compaction figures of the untraced pass ``res``, and
    the scaling children."""
    import spark_env
    import workloads as wl_mod
    from tracing import layer_metrics, read_event_log

    tres, phases = traced.res, traced.phases_s
    t0 = time.perf_counter()

    def mark(name: str) -> None:
        phases[name] = time.perf_counter() - t0

    diffs = wl_mod.commit_diffs(tres.engine.table)
    manifest_bytes = wl_mod.manifest_bytes(tres.engine.table)
    retries = res.engine.retries_total + tres.engine.retries_total
    spark_env.stop_session()  # flushes the event log
    log = read_event_log(event_dir, os.path.basename(wl.inp.measured_path))
    out = layer_metrics(traced.tracer, log, traced.pass_span, traced.restart_span)
    mark("event_log")

    n_b = max(len(tres.batch_s), 1)
    n_ev = max(tres.events, 1)
    compactions = [d for d in res_diffs if d["compaction"]]
    stats = res.lookup_stats
    in_bucket = sum(s.get("files_in_bucket", 0) for s in stats)
    local1, local4 = scaling_runs(wl, work, (1, spark_env.CORES))
    mark("scaling")
    out.update({
        "engine.retries": retries,
        "functions.extract_mb_per_s": wl.extract_mb_per_s(),
        "lakelet.files_written_per_batch": sum(d["files"] for d in diffs) / n_b,
        "lakelet.bytes_written_per_event": sum(d["bytes"] for d in diffs) / n_ev,
        "lakelet.manifest_bytes": manifest_bytes,
        "lakelet.lookup_files_read": (
            sum(s.get("files_read", 0) for s in stats) / len(stats) if stats else 0.0),
        "lakelet.lookup_bloom_skip_ratio": (
            sum(s.get("files_skipped", 0) for s in stats) / in_bucket if in_bucket else 0.0),
        "lakelet.scan_rows_per_live_row": statistics.median(res.scan_rows_per_live),
        "maintenance.compact_s": statistics.median(res.compact_s) if res.compact_s else 0.0,
        "maintenance.compact_rows_per_fold": (
            sum(d["rows"] for d in compactions) / len(compactions) if compactions else 0.0),
        "spark.scaling_efficiency_1to4": (
            local1["secs"] / (spark_env.CORES * local4["secs"])),
        "trace.overhead_ratio": tres.apply_s / res.apply_s,
    })
    mark("extract")
    detail["scaling"] = {"batches": SCALING_BATCHES, "local1": local1,
                         f"local{spark_env.CORES}": local4}
    detail["traced_pass"] = {"batch_commit_s": tres.batch_s, "apply_wall_s": tres.apply_s,
                             "untraced_apply_wall_s": res.apply_s,
                             "spark_jobs": len(log.jobs), "spans": traced.tracer.summary(),
                             "phases_s": phases}
    return out


def scaling_runs(wl, work: str, cores: tuple[int, ...]) -> list[dict]:
    """Time the first measured batches at each ``local[cores]``, each in a
    fresh JVM (a child process running ``scaling.py``) on a clone of the
    same base table. The children start and warm up side by side; then
    each in turn times its batches while the others wait, and exits
    before the next one starts. Returns one ``{"secs": ..., "phases_s":
    {...}}`` per core count."""
    deadline = time.monotonic() + SCALING_TIMEOUT_S
    children = []
    try:
        for n in cores:
            cmd = [sys.executable, os.path.join(HERE, "scaling.py"), "--work", work,
                   "--workload", wl.kind.name, "--cores", str(n),
                   "--batches", str(SCALING_BATCHES)]
            log = os.path.join(work, f"scaling-local{n}.log")
            with open(log, "w") as err:
                proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                        stderr=err, text=True)
            lines: queue.Queue = queue.Queue()
            threading.Thread(target=_pump, args=(proc.stdout, lines), daemon=True).start()
            children.append((n, proc, lines, log))
        for child in children:
            _child_message(child, "ready", deadline)
        out = []
        for child in children:
            proc = child[1]
            proc.stdin.write("go\n")
            proc.stdin.flush()
            out.append(_child_message(child, "secs", deadline))
            proc.wait(timeout=max(deadline - time.monotonic(), 1))
        return out
    finally:
        for _, proc, _, _ in children:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


SCALING_TIMEOUT_S = 120


def _pump(stream, lines: queue.Queue) -> None:
    for line in stream:
        lines.put(line)
    lines.put(None)


def _child_message(child, key: str, deadline: float) -> dict:
    """The next JSON line with ``key`` on a scaling child's stdout."""
    n, proc, lines, log = child
    while True:
        try:
            line = lines.get(timeout=max(deadline - time.monotonic(), 0.01))
        except queue.Empty:
            line = None
        if line is None:
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            raise RuntimeError(f"local[{n}] scaling run sent no {key!r} line "
                               f"(exit code {proc.poll()})")
        try:
            msg = json.loads(line)
        except ValueError:
            continue
        if isinstance(msg, dict) and key in msg:
            return msg


if __name__ == "__main__":
    sys.exit(main())
