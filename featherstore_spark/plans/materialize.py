"""The flagship materialization pipeline (north rule).

transcripts → per-turn lag/lead features → trailing-window aggregates →
gap sessionization → (optional) as-of join onto an entity spine → ordered,
partitioned feature table.

Plan hygiene (verified via .explain in tests/test_plans.py):
- ``turn_features``, ``rolling_features`` and ``sessionize`` all window
  over conv_id with compatible orderings, so Catalyst reuses ONE shuffle
  of the transcript table for the whole per-turn stage.
- The only other shuffles are the as-of join's (entity, time bucket)
  shuffle and the checkpoint write's bucket repartition — no cartesian
  products, no driver collects.
- Output ordering (conv_id, turn_idx) is applied by
  ``plans.checkpoint.run_with_checkpoint`` as ``sortWithinPartitions``
  after repartitioning by bucket: global order is NOT required by the
  byte-equality invariant (it is per-turn stable ordering), so we avoid a
  global range sort at 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from featherstore_spark.operators.asof import asof_join
from featherstore_spark.operators.sessionize import sessionize
from featherstore_spark.operators.windows import rolling_features, turn_features
from featherstore_spark.schema import validate_transcripts

# The per-turn feature vector this engine materializes.
FEATURE_COLS = (
    "prev_role",
    "next_role",
    "gap_s",
    "text_len",
    "is_tool_call",
    "cum_turns",
    "cum_tool_calls",
    "w_turns",
    "w_tool_calls",
    "w_tool_rate",
    "session_id",
)


def build_feature_log(
    transcripts: DataFrame,
    trailing: str = "10 minutes",
    session_gap: str = "30 minutes",
    validate: bool = True,
) -> DataFrame:
    """Per-turn feature log: every transcript turn + FEATURE_COLS."""
    t = validate_transcripts(transcripts) if validate else transcripts
    # order matters for plan shape: turn_features and sessionize both
    # window over (conv_id ORDER BY turn_idx) — adjacent, they share one
    # Sort; rolling_features (ORDER BY epoch_us(ts)) needs its own.  Total:
    # one Exchange + two Sorts instead of one Exchange + three.
    t = turn_features(t)
    t = sessionize(t, gap=session_gap)
    t = rolling_features(t, trailing=trailing)
    return t


def materialize(
    transcripts: DataFrame,
    spine: DataFrame | None = None,
    trailing: str = "10 minutes",
    session_gap: str = "30 minutes",
    asof_strategy: str = "window",
    asof_bucket: str | int = "1 day",
    validate: bool = True,
) -> DataFrame:
    """Full pipeline.  With a spine: point-in-time feature vectors at every
    (conv_id, ts) spine point.  Without: the per-turn feature log itself
    (the degenerate spine where every turn is its own query point)."""
    log = build_feature_log(transcripts, trailing, session_gap, validate)
    if spine is None:
        return log
    feats = log.select("conv_id", "ts", "turn_idx", *FEATURE_COLS)
    return asof_join(
        spine,
        feats,
        on="conv_id",
        ts="ts",
        tiebreaks=("turn_idx",),
        strategy=asof_strategy,
        bucket=asof_bucket,
    )

