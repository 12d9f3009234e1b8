"""The benchmark's oracle must catch a wrong row.

    python3 -m pytest cdcbench/test_oracle.py -q
"""

import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import oracle  # noqa: E402
from clinvar_ingest_spark.sources.changelog import ChangelogSpec, generate_changelog  # noqa: E402


def _events():
    return generate_changelog(ChangelogSpec(n_events=600, n_urls=120, seed=3))


def _ev(seq, op, url, ts, html):
    return {"seq": seq, "op": op, "url": url, "warc_ts": pd.Timestamp(ts),
            "html": html, "lang": None if html is None else "en"}


def test_latest_wins_orders_by_warc_ts_then_seq():
    ev = pd.DataFrame([
        _ev(0, "insert", "u", "2024-01-01 00:02", b"<p>new</p>"),
        _ev(1, "update", "u", "2024-01-01 00:01", b"<p>late</p>"),  # older: loses
        _ev(2, "insert", "d", "2024-01-01 00:00", b"<p>x</p>"),
        _ev(3, "delete", "d", "2024-01-01 00:05", None),
    ])
    state = oracle.latest_wins(ev)
    assert list(state.index) == ["u"]
    assert state.loc["u", "text"] == "new"
    assert oracle.live_count(ev, 2) == 2
    assert list(oracle.latest_wins(ev, upto_seq=2).index) == ["d", "u"]


def test_final_state_check_flags_one_planted_row():
    state = oracle.latest_wins(_events())
    engine_rows = state.reset_index(drop=True).copy()
    assert oracle.mismatched_urls(engine_rows, state) == []
    assert oracle.content_hash(engine_rows) == oracle.content_hash(state)

    url = engine_rows.loc[7, "url"]
    engine_rows.loc[7, "text"] = engine_rows.loc[7, "text"] + " "
    assert oracle.mismatched_urls(engine_rows, state) == [url]
    assert oracle.content_hash(engine_rows) != oracle.content_hash(state)

    missing = engine_rows.drop(index=3)
    assert oracle.mismatched_urls(missing, state) == sorted(
        [url, engine_rows.loc[3, "url"]])


def test_lookup_check_flags_wrong_rows():
    ev = _events()
    upto = int(ev["seq"].max())
    state = oracle.latest_wins(ev, upto)
    live_url = state.index[0]
    row = state.loc[[live_url]].rename(columns={"seq": "_seq"}).reset_index(drop=True)
    assert oracle.lookup_matches(row, state, live_url)

    stale = row.copy()
    stale.loc[0, "_seq"] -= 1
    assert not oracle.lookup_matches(stale, state, live_url)
    wrong_html = row.copy()
    wrong_html.at[0, "html"] = b"<p>other</p>"
    assert not oracle.lookup_matches(wrong_html, state, live_url)

    absent = inputs.ABSENT_URL.format(1)
    assert oracle.lookup_matches(row.iloc[:0], state, absent)
    assert not oracle.lookup_matches(row, state, absent)
