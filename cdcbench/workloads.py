"""The two workloads and the passes they measure.

Both build a base table with COW ``replay()`` during set-up, then measure
a fixed list of batches on a shallow clone of it, so every run of a
workload applies the same batches to the same starting state.

``cow_bulk``: ``replay()`` in batches of 50 × n_buckets events, so each
batch takes the ``assume_all_buckets`` path and rewrites every bucket.
Merge kernel, text extraction and the parquet write carry the work.

``mor_trickle_reads``: merge-on-read ``apply_batch`` of batches below
50 × n_buckets events (the touched-buckets job runs), point lookups after
every batch, and a live scan plus ``compact()`` every
``COMPACT_EVERY`` batches. Per-batch fixed cost, read-side resolution and
compaction carry the work; a change that speeds applies by pushing work
onto readers shows in ``read_scan_s`` and ``lookup_p50_ms``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from clinvar_ingest_spark.engine import CdcEngine
from clinvar_ingest_spark.lakelet.maintenance import clone_table

import inputs
import oracle

COMPACT_EVERY = 3
#: a merge-on-read scan with deltas pending takes over a second, so
#: fewer samples suffice than for sub-second operations
SCANS_PER_COMPACTION = 4
LOOKUPS_PER_BATCH = 7  # mor_trickle_reads
GEN_REPEATS = 3
#: the JVM is still compiling after one batch: the third measured batch
#: ran 6-31 % faster than the first after a one-batch warm-up
WARM_BATCHES = 2
WARM_READS = 1


@dataclass(frozen=True)
class Kind:
    name: str
    mode: str  # engine write_mode
    base_events: int
    batch_events: int
    n_batches: int  # measured per run, the same list every run

    @property
    def shape(self) -> inputs.Shape:
        return inputs.Shape(self.base_events, self.batch_events, self.n_batches)


KINDS = {
    k.name: k
    for k in (
        Kind("cow_bulk", "cow", 3200, 50 * inputs.N_BUCKETS, 4),
        Kind("mor_trickle_reads", "mor", 3200, 400, 3),
    )
}


class Ops:
    """Counts attempted and failed operations. An exception or an oracle
    mismatch fails the operation; the run continues."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"cdcbench: FAILED {what}", file=sys.stderr)

    def run(self, what: str, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            traceback.print_exc()
            self.fail(what)
            return None


@dataclass
class PassResult:
    engine: CdcEngine
    batch_s: list[float] = field(default_factory=list)
    apply_s: float = 0.0  # applies plus inline compaction
    events: int = 0
    lookup_ms: list[float] = field(default_factory=list)
    lookup_stats: list[dict] = field(default_factory=list)
    lookup_classes: list[str] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    scan_rows_per_live: list[float] = field(default_factory=list)
    compact_s: list[float] = field(default_factory=list)


def _median_time(fn, repeats: int) -> float:
    ts = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


class Workload:
    def __init__(self, kind: Kind, spark, work: str, seed: int):
        self.kind, self.spark, self.work, self.seed = kind, spark, work, seed
        self.shape = kind.shape
        self.ops = Ops()
        self.rng = np.random.default_rng(seed + 7)
        self.setup_parts: dict[str, float] = {}
        self._live: dict[int, int] = {}
        #: read samples of the merge-on-read loop; a traced run needs fewer
        self.lookups_per_batch = LOOKUPS_PER_BATCH
        self.scans_per_compaction = SCANS_PER_COMPACTION

    # ----------------------------------------------------------------- set-up

    def setup(self) -> None:
        """Inputs, base table and warm-up; each part timed."""
        self.setup_parts["inputs_s"] = _median_time(
            lambda: setattr(self, "inp", inputs.generate(
                self.shape, self.seed, os.path.join(self.work, "inputs"))),
            GEN_REPEATS,
        )
        self.final_seq = self.shape.batch_range(self.shape.n_batches - 1)[1]

        self.base_cl = self.spark.read.parquet(self.inp.base_path)
        self.measured_cl = self.spark.read.parquet(self.inp.measured_path)
        t = time.perf_counter()
        self.base = CdcEngine(self.spark, os.path.join(self.work, "base"),
                              n_buckets=self.shape.n_buckets)
        self.base.replay(self.base_cl, batch_size=self.shape.base_events)
        self.setup_parts["base_table_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self._warm_up()
        self.setup_parts["warm_up_s"] = time.perf_counter() - t

    def _warm_up(self) -> None:
        """The workload's own write path for ``WARM_BATCHES`` batches, its
        reads, a compaction (merge-on-read) and restarts, on a throwaway
        clone. The JVM keeps compiling for minutes; without this the
        measured batches sit on the steep part of that curve."""
        root = os.path.join(self.work, "warm")
        eng = self.measured_pass(root, reads=False, n_batches=WARM_BATCHES).engine
        first, last = self.shape.batch_range(WARM_BATCHES - 1)
        for _, url in inputs.lookup_keys(self.inp.events, last, first, WARM_READS, self.rng):
            eng.lookup(url).collect()
        for _ in range(WARM_READS):
            self._scan(eng)
        if self.kind.mode == "mor":
            eng.compact()
        self.engine(root).replay(self.measured_cl.filter(F.col("seq") <= last),
                                 batch_size=self.shape.batch_events)
        shutil.rmtree(root)

    def batch_df(self, k: int):
        first, last = self.shape.batch_range(k)
        return self.measured_cl.filter((F.col("seq") >= first) & (F.col("seq") <= last))

    def engine(self, root: str) -> CdcEngine:
        return CdcEngine(self.spark, root, n_buckets=self.shape.n_buckets,
                         write_mode=self.kind.mode)

    @staticmethod
    def _scan(eng: CdcEngine) -> None:
        eng.pages().write.format("noop").mode("overwrite").save()

    # --------------------------------------------------------------- measured

    def measured_pass(self, root: str, instrument=None, reads: bool = True,
                      n_batches: int | None = None) -> PassResult:
        """Apply the first ``n_batches`` (all when None) measured batches
        to a fresh clone of the base table. ``instrument(engine)`` runs
        before the first call (tracing); ``reads=False`` leaves out the
        merge-on-read loop's lookups and scans."""
        clone_table(self.base.table, root)
        eng = self.engine(root)
        if instrument is not None:
            instrument(eng)
        res = PassResult(eng)
        n = self.shape.n_batches if n_batches is None else n_batches
        with _timed_applies(eng, res):
            if self.kind.mode == "cow":
                self._cow_loop(eng, res, n)
            else:
                self._mor_loop(eng, res, reads, n)
        return res

    def _cow_loop(self, eng: CdcEngine, res: PassResult, n: int) -> None:
        self.ops.attempted += n
        last = self.shape.batch_range(n - 1)[1]
        t = time.perf_counter()
        try:
            eng.replay(self.measured_cl.filter(F.col("seq") <= last),
                       batch_size=self.shape.batch_events)
        except Exception:
            traceback.print_exc()
            self.ops.failed += n - len(res.batch_s)
            self.ops.failures.append("replay")
        res.apply_s = time.perf_counter() - t
        if len(res.batch_s) != n:
            self.ops.fail(f"replay applied {len(res.batch_s)} of {n} batches")

    def _mor_loop(self, eng: CdcEngine, res: PassResult, reads: bool, n: int) -> None:
        for k in range(n):
            first, last = self.shape.batch_range(k)
            n0 = len(res.batch_s)
            self.ops.run(f"apply {first}-{last}", eng.apply_batch, self.batch_df(k), first, last)
            res.apply_s += sum(res.batch_s[n0:])
            if reads:
                self._lookups(eng, res, last, first, self.lookups_per_batch)
            if (k + 1) % COMPACT_EVERY == 0:
                for _ in range(self.scans_per_compaction if reads else 0):
                    self._timed_scan(eng, res, last)
                t = time.perf_counter()
                self.ops.run(f"compact after {last}", eng.compact)
                res.compact_s.append(time.perf_counter() - t)
                res.apply_s += res.compact_s[-1]

    def final_reads(self, res: PassResult, root: str, rounds: int) -> list[float]:
        """Restarts on ``root``, the measured pass's table, and on
        ``cow_bulk`` lookups and scans of its final state, in ``rounds``
        rounds of one each: a host stall then slows a few samples of every
        metric, not all samples of one. Returns the restart times."""
        first, _ = self.shape.batch_range(self.shape.n_batches - 1)
        cow = self.kind.mode == "cow"
        plan = self._lookup_plan(self.final_seq, first, rounds) if cow else []
        times = []
        for i in range(rounds):
            times += self.resume(root, 1)
            if cow:
                self._lookup(res.engine, res, *plan[i])
                self._timed_scan(res.engine, res, self.final_seq)
        return times

    def _lookups(self, eng, res: PassResult, upto: int, batch_first: int, n: int) -> None:
        for key in self._lookup_plan(upto, batch_first, n):
            self._lookup(eng, res, *key)

    def _lookup_plan(self, upto: int, batch_first: int, n: int) -> list[tuple]:
        """``n`` lookups against the state after ``upto``, each as
        (class, url, oracle state, upto)."""
        keys = inputs.lookup_keys(self.inp.events, upto, batch_first, n, self.rng)
        ev = self.inp.events
        expected = oracle.latest_wins(ev[ev["url"].isin({u for _, u in keys})], upto)
        return [(cls, url, expected, upto) for cls, url in keys]

    def _lookup(self, eng, res: PassResult, cls: str, url: str, expected, upto: int) -> None:
        stats: dict = {}
        t = time.perf_counter()
        rows = self.ops.run(f"lookup {url}", lambda: eng.lookup(url, stats_out=stats).collect())
        res.lookup_ms.append((time.perf_counter() - t) * 1000)
        if rows is None:
            return
        res.lookup_stats.append(stats)
        res.lookup_classes.append(cls)
        if not oracle.lookup_matches(_rows_frame(rows), expected, url):
            self.ops.fail(f"lookup {cls} {url} after seq {upto} disagrees with the oracle")

    def _timed_scan(self, eng, res: PassResult, upto: int) -> None:
        t = time.perf_counter()
        self.ops.run("scan", self._scan, eng)
        res.scan_s.append(time.perf_counter() - t)
        if upto not in self._live:
            self._live[upto] = oracle.live_count(self.inp.events, upto)
        files = eng.table.manifest().files
        res.scan_rows_per_live.append(sum(f.rows for f in files) / max(self._live[upto], 1))

    # ------------------------------------------------------------------ checks

    def check_final_state(self, eng: CdcEngine) -> dict:
        """Compare the live state's content hash with the oracle's; on a
        mismatch, name the urls that differ."""
        self.ops.attempted += 1
        got = eng.pages().toPandas()
        want = oracle.latest_wins(self.inp.events)
        out = {"engine": oracle.content_hash(got), "oracle": oracle.content_hash(want)}
        if out["engine"] != out["oracle"]:
            bad = oracle.mismatched_urls(got, want)
            out["mismatched_urls"] = len(bad)
            self.ops.fail(f"final state: {len(bad)} urls differ from the oracle, "
                          f"e.g. {bad[:3]}")
        return out

    def resume(self, root: str, repeats: int, instrument=None) -> list[float]:
        """Restart on ``root``: a new engine re-delivers the whole measured
        input; every batch must skip, with no commit."""
        before = _table_state(root)
        times = []
        for _ in range(repeats):
            t = time.perf_counter()
            eng = self.engine(root)
            if instrument is not None:
                instrument(eng)
            out = self.ops.run("resume", eng.replay, self.measured_cl,
                               batch_size=self.shape.batch_events)
            times.append(time.perf_counter() - t)
            if out:
                self.ops.fail(f"resume re-applied {len(out)} batches")
        if _table_state(root) != before:
            self.ops.fail("resume committed a snapshot")
        return times

    def extract_mb_per_s(self) -> float:
        """Single-core ``extract_text_series`` over this workload's html
        (up to the first 4000 measured events)."""
        from clinvar_ingest_spark.functions.extract import extract_text_series

        ev = self.inp.events
        html = ev.loc[ev["seq"] >= self.shape.base_events, "html"].dropna().head(4000)
        n_bytes = int(html.map(len).sum())
        return n_bytes / _median_time(lambda: extract_text_series(html), 3) / 1e6


@contextlib.contextmanager
def _timed_applies(eng: CdcEngine, res: PassResult):
    """Record the seconds and events of each ``eng.apply_batch`` call in
    ``res`` (``replay()`` calls it once per batch)."""
    prev = eng.__dict__.get("apply_batch")
    apply = eng.apply_batch

    def timed(*args, **kwargs):
        t = time.perf_counter()
        out = apply(*args, **kwargs)
        res.batch_s.append(time.perf_counter() - t)
        if out is not None:
            res.events += out.n_events
        return out

    eng.apply_batch = timed
    try:
        yield
    finally:
        if prev is None:
            del eng.apply_batch
        else:
            eng.apply_batch = prev


def _table_state(root: str) -> tuple[str, int]:
    """Current snapshot id and number of manifests of a table root."""
    from clinvar_ingest_spark.lakelet.table import LakeletTable

    t = LakeletTable(root)
    n = len([p for p in os.listdir(t.manifest_dir) if p.endswith(".json")])
    return t.current_snapshot_id(), n


def _rows_frame(rows):
    import pandas as pd

    return pd.DataFrame([r.asDict() for r in rows],
                        columns=oracle.LIVE_COLUMNS + ["_seq"])


def commit_diffs(table) -> list[dict]:
    """Files each commit on ``table``'s chain added (applies and
    compactions), from the clone point on."""
    hist = table.history()
    prev = {f.path for f in table.manifest(hist[0]).files}
    out = []
    for sid in hist[1:]:
        m = table.manifest(sid)
        files = m.files
        new = [f for f in files if f.path not in prev]
        out.append({
            "compaction": str(m.batch_id).startswith("compact:"),
            "files": len(new),
            "rows": sum(f.rows for f in new),
            "bytes": sum(os.path.getsize(os.path.join(table.root, f.path)) for f in new),
        })
        prev = {f.path for f in files}
    return out


def stored_bytes(table) -> int:
    return sum(os.path.getsize(os.path.join(table.root, f.path))
               for f in table.manifest().files)


def manifest_bytes(table) -> int:
    """The current manifest file plus the segment files it references."""
    m = table.manifest()
    total = os.path.getsize(table._manifest_path(m.snapshot_id))
    for s in m.segments or []:
        p = os.path.join(table._seg_dir(), f"seg-{s.ref}.json")
        if os.path.exists(p):
            total += os.path.getsize(p)
    return total
