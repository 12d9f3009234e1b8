"""Independent latest-wins oracle for the CDC benchmark.

Built from the generated events with pandas alone — no engine merge code:
per url the event with the greatest ``(warc_ts, seq)`` wins, a winning
delete removes the url, and the live row's text is
``extract_text_series(html)``. Engine rows are compared through
:func:`row_digests`, so text must match byte for byte.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from clinvar_ingest_spark.functions.extract import extract_text_series

LIVE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def _micros(ts: pd.Series) -> np.ndarray:
    return ts.astype("datetime64[us]").astype("int64").to_numpy()


def winning_events(events: pd.DataFrame, upto_seq: int | None = None) -> pd.DataFrame:
    """Per url, the event with the greatest ``(warc_ts, seq)`` among those
    with ``seq <= upto_seq`` (all events when None), deletes included."""
    ev = events if upto_seq is None else events[events["seq"] <= upto_seq]
    return ev.sort_values(["url", "warc_ts", "seq"], kind="mergesort").drop_duplicates(
        "url", keep="last"
    )


def latest_wins(events: pd.DataFrame, upto_seq: int | None = None) -> pd.DataFrame:
    """Live state after every event with ``seq <= upto_seq`` (all events
    when None): one row per live url, :data:`LIVE_COLUMNS` plus ``seq``,
    indexed by url."""
    last = winning_events(events, upto_seq)
    live = last[last["op"] != "delete"].copy()
    live["text"] = extract_text_series(live["html"]).to_numpy()
    return live[LIVE_COLUMNS + ["seq"]].set_index("url", drop=False)


def live_count(events: pd.DataFrame, upto_seq: int) -> int:
    """Number of live urls after every event with ``seq <= upto_seq``."""
    return int((winning_events(events, upto_seq)["op"] != "delete").sum())


def row_digests(rows: pd.DataFrame) -> pd.Series:
    """sha256 per row over (url, warc_ts µs, sha256(html), text, lang),
    indexed by url. Accepts engine rows (``toPandas`` of ``pages()``) and
    oracle rows alike."""
    ts = _micros(rows["warc_ts"])
    out = {}
    for url, t, html, text, lang in zip(
        rows["url"], ts, rows["html"], rows["text"], rows["lang"]
    ):
        h = hashlib.sha256()
        for part in (url, str(t), hashlib.sha256(bytes(html)).hexdigest(), text, lang):
            h.update(("\x00" if part is None else str(part)).encode())
            h.update(b"\x1f")
        out[url] = h.hexdigest()
    return pd.Series(out, dtype=object)


def content_hash(rows: pd.DataFrame) -> str:
    """Order-insensitive hash of a live state."""
    d = row_digests(rows).sort_index()
    return hashlib.sha256("".join(d.index + d.to_numpy()).encode()).hexdigest()


def mismatched_urls(engine_rows: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Urls whose engine row differs from, or is missing in either side
    of, the oracle state."""
    got, want = row_digests(engine_rows), row_digests(expected)
    urls = got.index.union(want.index)
    got, want = got.reindex(urls), want.reindex(urls)
    return sorted(urls[(got != want).to_numpy()])


def lookup_matches(rows: pd.DataFrame, expected: pd.DataFrame, url: str) -> bool:
    """A point lookup's live rows agree with the oracle state: no row for
    a url the oracle does not hold, else exactly the oracle's row."""
    if url not in expected.index:
        return len(rows) == 0
    if len(rows) != 1 or int(rows["_seq"].iloc[0]) != int(expected.loc[url, "seq"]):
        return False
    return mismatched_urls(rows, expected.loc[[url]]) == []
