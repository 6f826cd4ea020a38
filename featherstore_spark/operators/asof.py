"""Point-in-time as-of join (SURVEY.md §2.3 J3).

The reference's only "join" is latest-per-entity at t=now (featherstore
pkg/storage/duckdb/duckdb.go:617-625); this module generalizes it: for
every spine row (conv_id, ts) find the latest feature row with
``feature.ts <= spine.ts`` (inclusive, SURVEY C3), breaking equal
timestamps by caller-supplied columns DESC (deterministic, fixes C2).

One algorithm, a union-marker window: spine and feature rows are unioned
and one window pass of ``last(feature_struct, ignorenulls)`` over
``rowsBetween(unboundedPreceding, current)`` hands every spine row the
latest feature row at or before it.  Pure DataFrame code — whole-stage
codegen, no Python worker, no Arrow serialization.

Skew: with a bucket width the window is partitioned by (entity, time
bucket), so a mega-conversation splits into as many window partitions as
it spans buckets (SURVEY §7.4).  A match can lie in an earlier bucket, so
for every (entity, spine bucket) the latest feature row of any STRICTLY
earlier bucket is carried in as one extra feature row — computed by a
second union-marker window over one row per (entity, bucket), which is
tiny and cannot skew.  Without a width the window is partitioned by
entity alone and nothing needs carrying.

Leakage guarantee: only feature rows with ``ts <= spine.ts`` are ever
read — the window frame ends at the current row, and carried rows come
from strictly earlier buckets — tested adversarially with poisoned
future values (tests/test_leakage.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from featherstore_spark.functions.time import epoch_us, interval_to_us as _interval_to_us

DEFAULT_PREFIX = "f_"

#: Candidate bucket widths for ``bucket="auto"`` (µs), finest → coarsest.
#: A fixed grid keeps the choice deterministic and cache-friendly: the
#: same corpus stats always select the same width.
AUTO_BUCKET_GRID_US = (
    60_000_000,  # 1 minute
    300_000_000,  # 5 minutes
    900_000_000,  # 15 minutes
    3_600_000_000,  # 1 hour
    21_600_000_000,  # 6 hours
    86_400_000_000,  # 1 day
    604_800_000_000,  # 7 days
)
_DAY_US = 86_400_000_000
#: Above this optimizer size estimate the auto-width stats pass samples.
_AUTO_SAMPLE_BYTES = 4 << 30


def auto_bucket_width_us(
    features: DataFrame,
    on: str = "conv_id",
    ts: str = "ts",
    target_rows: int = 50_000,
    sample_fraction: float | None = None,
) -> int:
    """Data-driven as-of bucket width: the COARSEST grid width whose
    hottest (entity, bucket) window partition stays under ``target_rows``.

    The binding constraint of the bucketed join is the single densest
    entity's rows inside one time bucket (they form ONE window partition,
    so one task).  Statistic: max per-(entity, day) row count — one
    map-side-combinable aggregation whose shuffle carries only
    (entity x day) partial counts, or a sampled estimate via
    ``sample_fraction`` (scaled back up; sampling UNDER-estimates the
    max, so sampled runs keep a 2x safety margin).

    ``sample_fraction=None`` auto-samples when the input's optimizer size
    estimate exceeds ~4 GiB (driver-side plan stat, zero jobs): at corpus
    scale the stats pass reads a bounded sample instead of every row.
    Callers that already know the width should pass it straight to
    ``asof_join(bucket=<µs>)`` — no stats job runs at all (and the
    checkpoint CLI caches the resolved width in the manifest).
    """
    if sample_fraction is None:
        # Catalyst's sizeInBytes estimate for the plan: free to read, and
        # only the ORDER of magnitude matters for choosing to sample.
        # Plans without real stats (LogicalRDD, some local relations)
        # report the defaultSizeInBytes sentinel (~Long.MaxValue) — treat
        # anything implausibly huge as unknown and do NOT sample: the
        # scale case (parquet/Iceberg scans) always carries a real size.
        est = int(features._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if _AUTO_SAMPLE_BYTES < est < (1 << 60):
            sample_fraction = max(0.01, min(1.0, _AUTO_SAMPLE_BYTES / est))
    df = features.sample(fraction=sample_fraction, seed=42) if sample_fraction else features
    hot = (
        df.groupBy(F.col(on), F.floor(epoch_us(ts) / F.lit(_DAY_US)).alias("__d"))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    if not hot:  # empty input: any width works, pick 1 day
        return _DAY_US
    hot = int(hot / sample_fraction * 2) if sample_fraction else int(hot)
    density_per_us = hot / _DAY_US  # rows/µs of the hottest entity-day
    for width in reversed(AUTO_BUCKET_GRID_US):
        if density_per_us * width <= target_rows:
            return width
    return AUTO_BUCKET_GRID_US[0]


def asof_join(
    spine: DataFrame,
    features: DataFrame,
    on: str = "conv_id",
    ts: str = "ts",
    tiebreaks: Sequence[str] = (),
    prefix: str = DEFAULT_PREFIX,
    strategy: str = "window",
    bucket: str | int = "1 day",
    target_rows: int = 50_000,
    tolerance: str | int | None = None,
) -> DataFrame:
    """Enrich every spine row with the latest preceding feature row.

    Output = spine columns + ``{prefix}{ts}`` (matched feature timestamp,
    null when no feature precedes the spine point) + ``{prefix}{col}`` for
    every feature value column.

    ``strategy`` names only whether the window is time-bucketed:
    ``"bucketed"`` applies ``bucket``; ``"window"`` and ``"cogroup"``
    (kept as aliases for existing configs) partition by entity alone.
    ``bucket``: an interval string, a width in µs, or ``"auto"`` — sized
    from the corpus's hottest entity-day density so the largest window
    partition stays under ``target_rows``.

    ``tolerance`` (feature TTL): an interval string or µs width; a match
    older than ``spine.ts − tolerance`` is nulled out (INCLUSIVE at the
    boundary: staleness == tolerance still matches, like pandas
    merge_asof).  Expired features serving as fresh is the online-store
    staleness bug; the filter is one post-match codegen projection —
    the latest match older than the TTL proves no in-window feature
    exists, so no second scan is needed.
    """
    if strategy not in ("window", "cogroup", "bucketed"):
        raise ValueError(f"unknown as-of strategy {strategy!r}")
    tiebreaks = [c for c in tiebreaks if c in features.columns]
    val_cols = [c for c in features.columns if c not in (on, ts)]
    width_us = None
    if strategy == "bucketed":
        if bucket == "auto":
            bucket = auto_bucket_width_us(features, on, ts, target_rows)
        width_us = bucket if isinstance(bucket, int) else _interval_to_us(bucket)
    out = _asof(spine, features, on, ts, tiebreaks, prefix, val_cols, width_us)
    if tolerance is None:
        return out
    tol_us = _interval_to_us(tolerance) if isinstance(tolerance, str) else int(tolerance)
    if tol_us < 0:
        raise ValueError(f"tolerance must be non-negative, got {tolerance!r}")
    fresh = epoch_us(prefix + ts) >= epoch_us(ts) - F.lit(tol_us)
    return out.select(
        *spine.columns,
        *[
            F.when(fresh, F.col(prefix + c)).otherwise(F.lit(None)).alias(prefix + c)
            for c in [ts, *val_cols]
        ],
    )


def _asof(spine, features, on, ts, tiebreaks, prefix, val_cols, width_us):
    spine_cols = spine.columns
    # Feature payload rides in one struct so last(..., ignorenulls) picks a
    # whole ROW atomically — a null VALUE inside a later feature row must
    # still shadow earlier rows.
    feat_struct = F.struct(F.col(ts).alias(ts), *[F.col(c).alias(c) for c in val_cols])
    keys = [on]
    if width_us is not None:
        bucket_of = F.floor(epoch_us(ts) / F.lit(width_us))
        features = features.withColumn("__b", bucket_of)
        spine = spine.withColumn("__b", bucket_of)
        keys.append("__b")

    f_side = features.select(
        *keys, ts,
        *[F.col(c).alias(f"__tb_{c}") for c in tiebreaks],
        feat_struct.alias("__feat"),
    )
    if width_us is not None:
        # carried rows have null tiebreaks; their ts is strictly earlier
        # than any in-bucket row, so they never win a tie anyway
        f_side = f_side.unionByName(_carry(features, spine, on, ts, tiebreaks, feat_struct), allowMissingColumns=True)
    s_side = spine.select(*keys, ts, F.lit(1).alias("__is_spine"), *[c for c in spine_cols if c not in (on, ts)])
    unioned = f_side.withColumn("__is_spine", F.lit(0)).unionByName(s_side, allowMissingColumns=True)

    # Ordering: (ts, is_spine, tiebreaks): at equal ts all feature rows sort
    # BEFORE the spine row (inclusive as-of), and among equal-ts features
    # the max-tiebreak row is last — exactly the row last() returns.
    order = [F.col(ts).asc(), F.col("__is_spine").asc()] + [F.col(f"__tb_{c}").asc_nulls_first() for c in tiebreaks]
    w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    matched = unioned.withColumn("__m", F.last("__feat", ignorenulls=True).over(w)).where(F.col("__is_spine") == 1)

    return matched.select(
        *spine_cols,
        F.col(f"__m.{ts}").alias(prefix + ts),
        *[F.col(f"__m.{c}").alias(prefix + c) for c in val_cols],
    )


def _carry(features, spine, on, ts, tiebreaks, feat_struct):
    """Boundary carry: for every (entity, spine bucket), the latest feature
    row from any STRICTLY earlier bucket, as (on, __b, ts, __feat).  The
    first window is partitioned by (entity, bucket) like the join; the
    carry window over ``on`` sees one row per (entity, bucket), so it
    cannot skew even when the raw data does."""
    last_order = [F.col(ts).desc()] + [F.col(c).desc() for c in tiebreaks]
    boundary = (
        features.withColumn("__rn", F.row_number().over(Window.partitionBy(on, "__b").orderBy(*last_order)))
        .where(F.col("__rn") == 1)
        .select(on, "__b", F.lit(1).alias("__is_boundary"), feat_struct.alias("__feat"))
    )
    probes = spine.select(on, "__b").distinct().withColumn("__is_boundary", F.lit(0))
    # at equal __b the probe sorts first, so it sees earlier buckets only
    wcarry = (
        Window.partitionBy(on)
        .orderBy(F.col("__b").asc(), F.col("__is_boundary").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        boundary.unionByName(probes, allowMissingColumns=True)
        .withColumn("__c", F.last("__feat", ignorenulls=True).over(wcarry))
        .where((F.col("__is_boundary") == 0) & F.col("__c").isNotNull())
        .select(on, "__b", F.col(f"__c.{ts}").alias(ts), F.col("__c").alias("__feat"))
    )
