"""Seeded benchmark inputs.

One changelog per run, made by the engine's own generator from
``--seed``. Its seq range splits in two: the *base* prefix, applied while
setting up, and the *measured* suffix, which the timed loop applies in
fixed-size batches. Both halves are written as separate parquet files so
a replay of the measured file starts exactly at the first measured batch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from clinvar_ingest_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
    write_changelog_parquet,
)

import oracle

#: url that no generated event can name (the generator's paths are
#: six-digit page numbers)
ABSENT_URL = "https://host000.example.com/page/absent-{:03d}"

LOOKUP_CLASSES = ("hot", "just_updated", "deleted", "never_inserted")


#: Traffic shape of ``bench.py``'s cdc section, the ROADMAP headline:
#: ~0.7 KB pages of 80 words, 100 hosts and one url per six events. The
#: table has 16 buckets, 4 task waves per core at local[4], not that
#: section's 64. On a 4-core host a batch's cost is mostly fixed per
#: bucket and per Spark job, not per event: at 64 buckets the merge stage
#: spent ~17 s of task time on a 400-event merge-on-read batch and on a
#: 3200-event copy-on-write batch alike, and one run of either workload
#: took 90-98 s (220 s traced), against 63-67 s at 16 buckets.
N_BUCKETS = 16
WORDS_PER_PAGE = 80
N_HOSTS = 100
EVENTS_PER_URL = 6


@dataclass(frozen=True)
class Shape:
    """Sizes of one workload's input. ``base_events`` is a multiple of
    ``batch_events`` so replay's batch grid starts at the first measured
    event."""

    base_events: int
    batch_events: int
    n_batches: int
    n_buckets: int = N_BUCKETS
    words_per_page: int = WORDS_PER_PAGE
    n_hosts: int = N_HOSTS

    @property
    def n_events(self) -> int:
        return self.base_events + self.batch_events * self.n_batches

    @property
    def n_urls(self) -> int:
        return max(self.n_events // EVENTS_PER_URL, 1000)

    def batch_range(self, k: int) -> tuple[int, int]:
        first = self.base_events + k * self.batch_events
        return first, first + self.batch_events - 1


@dataclass
class Inputs:
    shape: Shape
    events: pd.DataFrame  # every generated row, duplicates included
    base_path: str
    measured_path: str


def spec_for(shape: Shape, seed: int) -> ChangelogSpec:
    return ChangelogSpec(
        n_events=shape.n_events,
        n_urls=shape.n_urls,
        n_hosts=shape.n_hosts,
        words_per_page=shape.words_per_page,
        tag_dense=True,
        seed=seed,
    )


def generate(shape: Shape, seed: int, out_dir: str) -> Inputs:
    """Generate the changelog and write its base and measured parts."""
    events = generate_changelog(spec_for(shape, seed))
    os.makedirs(out_dir, exist_ok=True)
    base_path = os.path.join(out_dir, "base.parquet")
    measured_path = os.path.join(out_dir, "measured.parquet")
    is_base = events["seq"] < shape.base_events
    write_changelog_parquet(events[is_base].reset_index(drop=True), base_path)
    write_changelog_parquet(events[~is_base].reset_index(drop=True), measured_path)
    return Inputs(shape, events, base_path, measured_path)


def lookup_keys(
    events: pd.DataFrame, upto_seq: int, batch_first: int, n: int,
    rng: np.random.Generator,
) -> list[tuple[str, str]]:
    """``n`` (class, url) lookups against the state after ``upto_seq``,
    cycling through :data:`LOOKUP_CLASSES`:

    - hot: a url of the host with the most events (the Zipf head);
    - just_updated: a url upserted by the batch ``[batch_first, upto_seq]``;
    - deleted: a url whose latest event so far is a delete;
    - never_inserted: a url no event names.

    A class that is empty at this point falls back to ``hot``.
    """
    ev = events[events["seq"] <= upto_seq]
    host = ev["url"].str.extract(r"//([^/]+)/", expand=False)
    head = host.value_counts().index[0]
    pools = {
        "hot": np.sort(ev.loc[host == head, "url"].unique()),
        "just_updated": np.sort(
            ev.loc[(ev["seq"] >= batch_first) & (ev["op"] != "delete"), "url"].unique()
        ),
    }
    latest = oracle.winning_events(ev)
    pools["deleted"] = np.sort(latest.loc[latest["op"] == "delete", "url"].to_numpy())
    out = []
    for i in range(n):
        cls = LOOKUP_CLASSES[i % len(LOOKUP_CLASSES)]
        if cls == "never_inserted":
            out.append((cls, ABSENT_URL.format(int(rng.integers(1000)))))
            continue
        pool = pools[cls] if len(pools[cls]) else pools["hot"]
        out.append((cls, str(pool[int(rng.integers(len(pool)))])))
    return out
