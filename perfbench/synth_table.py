"""A bucketed per-turn feature table for ``serve_mixed``, written with
pyarrow in the layout ``plans.checkpoint.run_with_checkpoint`` leaves:
``p_bucket=<b>/`` directories keyed by the engine's entity hash, rows
sorted by (conv_id, turn_idx), and a ``_manifest.json`` whose lineage
carries ``n_buckets``.  Building it without Spark keeps the serving
workload free of a JVM.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from featherstore_spark.config import DEFAULTS
from featherstore_spark.functions.hashing import entity_bucket
from featherstore_spark.functions.time import interval_to_us

import checks

N_CONVS, MEAN_TURNS = 1500, 40
_VOCAB = ("query plan shuffle join window feature vector spark arrow batch column table agg session "
          "tool turn data scan filter sort hash merge spine asof lag lead bucket salt skew text token row").split()
_TOOLS = ("search", "code", "browser", "calc")
_BASE_US = 1_767_225_600_000_000  # 2026-01-01 UTC


def transcripts(seed: int, n_convs: int) -> pd.DataFrame:
    """Seeded transcripts shaped like ``datagen.generate_transcripts``:
    1..2*MEAN_TURNS-1 turns per conversation, cyclic roles with tool turns,
    ~30% of assistant turns calling a tool, 10..2000-char texts,
    exponential gaps (mean 45 s) with occasional timestamp ties."""
    rng = np.random.default_rng(seed)
    n_turns = 1 + rng.integers(0, 2 * MEAN_TURNS - 1, n_convs)
    conv = np.repeat([f"conv_{i:08d}" for i in range(n_convs)], n_turns)
    turn = np.concatenate([np.arange(n, dtype=np.int32) for n in n_turns])
    n = len(turn)
    role = np.where(turn % 2 == 0, "user", "assistant").astype(object)
    role[rng.random(n) < 1 / 23] = "tool"
    tool = np.where((role == "assistant") & (rng.random(n) < 0.3),
                    rng.choice(_TOOLS, n), None).astype(object)
    lens = (10 + (rng.random(n) ** 2) * 1990).astype(int)
    words = rng.integers(0, len(_VOCAB), (n, 8))
    text = [((" ".join(_VOCAB[w] for w in ws) + " ") * 50)[:ln].rstrip() for ws, ln in zip(words, lens)]
    gap = (rng.exponential(45.0, n) * 1e6).astype(np.int64)
    gap[(turn == 0) | (rng.random(n) < 1 / 997)] = 0
    offsets = np.repeat(rng.integers(0, 86_400_000_000, n_convs), n_turns)
    csum = np.cumsum(gap)
    first = np.cumsum(n_turns) - n_turns  # turn 0 of each conversation, whose gap is 0
    ts_us = _BASE_US + offsets + csum - np.repeat(csum[first], n_turns)
    return pd.DataFrame({"conv_id": conv, "turn_idx": turn, "role": role, "text": text, "tool": tool,
                         "ts": pd.to_datetime(ts_us, unit="us")})


def write(path: str, seed: int, scale: float = 1.0) -> tuple[str, int]:
    """Write the table under ``path``; returns (path, row count)."""
    pipe = DEFAULTS["pipeline"]
    n_buckets = pipe["n_buckets"]
    feats = checks.feature_log_pd(transcripts(seed, max(20, int(N_CONVS * scale))),
                                  interval_to_us(pipe["trailing"]), interval_to_us(pipe["session_gap"]) / 1e6)
    feats["is_tool_call"] = feats["is_tool_call"].astype("int32")
    feats["ts"] = feats["ts"].astype("datetime64[us]")
    feats["p_bucket"] = feats["conv_id"].map({c: entity_bucket(c, n_buckets) for c in feats["conv_id"].unique()})
    manifest = {"lineage": {"input": f"synthetic:{seed}", "params": {"n_buckets": n_buckets}}, "buckets": {}}
    for b, part in feats.groupby("p_bucket"):
        part = part.drop(columns="p_bucket").sort_values(["conv_id", "turn_idx"])
        os.makedirs(os.path.join(path, f"p_bucket={b}"), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(path, f"p_bucket={b}", "part-00000.parquet"), compression="lz4")
        manifest["buckets"][str(b)] = {"status": "done", "row_count": len(part)}
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return path, len(feats)
