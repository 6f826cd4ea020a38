"""Output checks for the benchmark, as pure functions over pandas frames.

Every check returns a list of failure messages (empty = pass), so the
runner can count failures against checks attempted and the tests can feed
a deliberately wrong result to each check.  Nothing here touches Spark or
the server: the runners read the written or served rows and pass them in.
"""

from __future__ import annotations

import math
from collections import Counter
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa

from featherstore_spark.oracle import asof_join_pd, sessionize_pd
from featherstore_spark.plans.materialize import FEATURE_COLS

#: Transcript columns every feature-log row carries before FEATURE_COLS.
BASE_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _norm(v):
    """One comparable Python value: timestamps as int ns, NaN/NaT as None,
    floats rounded to 9 digits (the engine's doubles are exact divisions,
    rounding only absorbs representation noise)."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (pd.Timestamp, datetime, np.datetime64)):
        return int(pd.Timestamp(v).value)
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    return v


def rows(df: pd.DataFrame, cols) -> list[tuple]:
    return [tuple(_norm(v) for v in r) for r in df[list(cols)].itertuples(index=False, name=None)]


def to_us(ts: pd.Series) -> np.ndarray:
    return ts.to_numpy().astype("datetime64[us]").astype("int64")


def feature_log_pd(t: pd.DataFrame, trailing_us: int, gap_s: float) -> pd.DataFrame:
    """Reference per-turn feature log for a few conversations: the
    package's ``sessionize_pd`` plus the lag/lead, cumulative and
    trailing-range features ``plans.materialize.build_feature_log``
    computes, written row-by-conversation in numpy."""
    s = sessionize_pd(t, gap_s=gap_s).reset_index(drop=True)
    g = s.groupby("conv_id", sort=False)
    us = to_us(s["ts"])
    prev_us = pd.Series(us).groupby(s["conv_id"]).shift(1)
    s["prev_role"] = g["role"].shift(1)
    s["next_role"] = g["role"].shift(-1)
    s["gap_s"] = (us - prev_us) / 1e6
    s["text_len"] = s["text"].fillna("").str.len().astype("int64")
    s["is_tool_call"] = s["tool"].notna().astype("int64")
    s["cum_turns"] = g.cumcount().astype("int64") + 1
    s["cum_tool_calls"] = s.groupby("conv_id")["is_tool_call"].cumsum().astype("int64")
    w_turns = np.zeros(len(s), dtype="int64")
    w_tool = np.zeros(len(s), dtype="int64")
    tool = s["is_tool_call"].to_numpy()
    for idx in g.indices.values():
        u = us[idx]  # turn order is time order: gaps are never negative
        csum = np.concatenate([[0], np.cumsum(tool[idx])])
        lo = np.searchsorted(u, u - trailing_us, "left")
        hi = np.searchsorted(u, u, "right")  # range frame: peers included
        w_turns[idx] = hi - lo
        w_tool[idx] = csum[hi] - csum[lo]
    s["w_turns"] = w_turns
    s["w_tool_calls"] = w_tool
    s["w_tool_rate"] = w_tool / w_turns
    s["session_id"] = s["session_id"].astype("int64")
    return s[list(BASE_COLS) + list(FEATURE_COLS)]


def check_row_count(name: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{name}: {got} rows, expected {want}"]


def check_no_leakage(out: pd.DataFrame) -> list[str]:
    """No point-in-time row may carry a feature from after its spine ts."""
    leaked = out[out["f_ts"].notna() & (out["f_ts"] > out["ts"])]
    return [] if leaked.empty else [f"leakage: {len(leaked)} rows with f_ts > ts"]


def check_feature_log(out: pd.DataFrame, transcripts: pd.DataFrame,
                      trailing_us: int, gap_s: float) -> list[str]:
    """Written feature-log rows of the sampled conversations equal the
    reference feature log of their transcripts."""
    cols = list(BASE_COLS) + list(FEATURE_COLS)
    want = Counter(rows(feature_log_pd(transcripts, trailing_us, gap_s), cols))
    got = Counter(rows(out, cols))
    if got == want:
        return []
    return [f"feature log: {sum((got - want).values())} unexpected and "
            f"{sum((want - got).values())} missing rows over {transcripts['conv_id'].nunique()} conversations"]


def check_pit(out: pd.DataFrame, spine: pd.DataFrame, transcripts: pd.DataFrame,
              trailing_us: int, gap_s: float) -> list[str]:
    """Point-in-time rows at the sampled spine points equal
    ``asof_join_pd`` over the reference feature log."""
    feats = feature_log_pd(transcripts, trailing_us, gap_s)[["conv_id", "ts", "turn_idx", *FEATURE_COLS]] \
        if len(transcripts) else pd.DataFrame(columns=["conv_id", "ts", "turn_idx", *FEATURE_COLS])
    want_df = asof_join_pd(spine[["conv_id", "ts"]].reset_index(drop=True), feats, tiebreaks=("turn_idx",))
    cols = ["conv_id", "ts", "f_ts", "f_turn_idx", *[f"f_{c}" for c in FEATURE_COLS]]
    want = Counter(rows(want_df, cols))
    got = Counter(rows(out, cols))
    if got == want:
        return []
    return [f"point-in-time: {sum((got - want).values())} unexpected and "
            f"{sum((want - got).values())} missing rows at {len(spine)} spine points"]


def check_content_hashes(hashes: list[dict]) -> list[str]:
    """Each clean materialization of one input writes the same per-bucket
    content hashes."""
    bad = [i for i, h in enumerate(hashes) if h != hashes[0]]
    return [f"content_hash differs from the first run in runs {bad}"] if bad else []


# -- serving ---------------------------------------------------------------

_NS_PER = {"s": 10**9, "ms": 10**6, "us": 1000, "ns": 1}


def arrow_rows(t: pa.Table, cols) -> list[tuple]:
    """Rows of an Arrow table as tuples normalized like ``rows``, without
    a pandas round trip (the serving checks run once per request)."""
    out = []
    for c in cols:
        a = t.column(c)
        if pa.types.is_timestamp(a.type):
            k = _NS_PER[a.type.unit]
            out.append([None if v is None else v * k for v in a.cast(pa.int64()).to_pylist()])
        elif pa.types.is_floating(a.type):
            out.append([None if v is None or v != v else round(v, 9) for v in a.to_pylist()])
        else:
            out.append(a.to_pylist())
    return list(zip(*out)) if out else []


class ServedTable:
    """Reference rows of a served table, grouped by entity: what a latest,
    as-of or history read over its files must return."""

    def __init__(self, columns, entity_col: str, ts_col: str, tiebreaks):
        self.cols = list(columns)
        self.e, self.ts = self.cols.index(entity_col), self.cols.index(ts_col)
        self.key = [self.ts] + [self.cols.index(c) for c in tiebreaks]
        self.by_entity: dict = {}

    def add(self, t: pa.Table) -> "ServedTable":
        for r in arrow_rows(t, self.cols):
            self.by_entity.setdefault(r[self.e], []).append(r)
        return self

    def winners(self, cands: list[tuple]) -> list[tuple]:
        """Rows holding the greatest (ts, tiebreaks); several only on exact
        key ties, and then any of them is a correct answer."""
        if not cands:
            return []
        top = max(tuple(r[i] for i in self.key) for r in cands)
        return [r for r in cands if tuple(r[i] for i in self.key) == top]

    def entity(self, e) -> list[tuple]:
        return self.by_entity.get(e, [])


def check_latest(served: pa.Table, ref: ServedTable, entity_ids) -> list[str]:
    """One served row per known entity, and it is a latest row of it."""
    got = arrow_rows(served, ref.cols)
    want = sorted(e for e in set(entity_ids) if e in ref.by_entity)
    if sorted(r[ref.e] for r in got) != want:
        return [f"latest: served entities {sorted(r[ref.e] for r in got)} != {want}"]
    return [f"latest: wrong row for {r[ref.e]!r}" for r in got if r not in ref.winners(ref.entity(r[ref.e]))]


def check_points(served: pa.Table, ref: ServedTable, points) -> list[str]:
    """Each served point row, in request order, carries the as-of match:
    a row of the entity with the greatest (ts, tiebreaks) at or before the
    point, or nulls when the entity has no row that early."""
    if served.num_rows != len(points):
        return [f"points: {served.num_rows} rows for {len(points)} points"]
    vals = [i for i in range(len(ref.cols)) if i != ref.e]
    f_cols = [f"f_{ref.cols[i]}" for i in vals]
    got = arrow_rows(served.sort_by("req_idx"), [ref.cols[ref.e], ref.cols[ref.ts]] + f_cols)
    errs = []
    for (ent, at), r in zip(points, got):
        at_ns = pd.Timestamp(at).value
        head = (ent, at_ns)
        win = ref.winners([w for w in ref.entity(ent) if w[ref.ts] <= at_ns])
        cands = {head + tuple(w[i] for i in vals) for w in win} or {head + (None,) * len(vals)}
        if r not in cands:
            errs.append(f"points: wrong as-of row for {(ent, str(at))}")
    return errs


def check_history(served: pa.Table, ref: ServedTable, entity_id, start, end) -> list[str]:
    """History = every row of the entity in [start, end], newest first."""
    lo, hi = pd.Timestamp(start).value, pd.Timestamp(end).value
    got = arrow_rows(served, ref.cols)
    want = [r for r in ref.entity(entity_id) if lo <= r[ref.ts] <= hi]
    if Counter(got) != Counter(want):
        return [f"history: {len(got)} rows served, {len(want)} expected for {entity_id!r}"]
    if any(a[ref.ts] < b[ref.ts] for a, b in zip(got, got[1:])):
        return [f"history: rows for {entity_id!r} are not newest first"]
    return []


def check_ingest_ack(acked: int, sent: int) -> list[str]:
    return [] if acked == sent else [f"ingest: acknowledged {acked} rows, sent {sent}"]


def check_same_rows(name: str, got: pa.Table, want: pa.Table) -> list[str]:
    cols = want.column_names
    return [] if Counter(arrow_rows(got, cols)) == Counter(arrow_rows(want, cols)) else [f"{name}: rows differ"]
