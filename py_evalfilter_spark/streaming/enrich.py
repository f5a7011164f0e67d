"""Streaming dedup + point-in-time enrichment (SURVEY.md §2.9 extension).

Two streaming-native counterparts of batch engine operators:

* :func:`streaming_exact_dedup` — the exact-dedup operator
  (operators/dedup.exact_dedup) for streams: ``dropDuplicatesWithinWatermark``
  keeps only the first occurrence of each content key, with state bounded
  by the watermark instead of growing forever (the scale requirement).

* :func:`streaming_asof_enrich` — the north_rule as-of attach for streams.
  Structured Streaming cannot run a stateful as-of join, but the static
  side can be INTERVAL-ized once (each right row valid from its ts until
  the next row's ts via ``lead``), after which point-in-time enrichment is
  a plain stream-static LEFT join on
  ``conv_id = conv_id AND ts in [profile_ts, next_profile_ts)`` — stateless
  per micro-batch, broadcastable, and leak-free by construction (the
  matched profile row always has ``profile_ts <= ts``).  Batch parity with
  operators/asof.asof_join is pinned in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def streaming_exact_dedup(
    stream: DataFrame,
    content_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First-occurrence-wins exact dedup on a stream; duplicate state is
    dropped once older than the watermark (bounded memory at any scale)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        content_cols
    )


def interval_profile(
    profile: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
    right_ts_alias: str = "profile_ts",
) -> DataFrame:
    """Static (by, ts)-unique side table → validity intervals
    [profile_ts, __ts_end) per key; the last row per key is open-ended
    (NULL __ts_end).  One window pass, done ONCE at stream start."""
    w = Window.partitionBy(by).orderBy(on)
    return profile.withColumn("__ts_end", F.lead(on).over(w)).withColumnRenamed(
        on, right_ts_alias
    )


def streaming_asof_enrich(
    stream: DataFrame,
    profile: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
    right_ts_alias: str = "profile_ts",
) -> DataFrame:
    """Attach the most recent profile row with ``profile_ts <= ts`` to every
    stream row (backward as-of, exact matches allowed) as a stream-static
    LEFT interval join.  ``profile`` must be unique on (by, on) — what
    profile_from_events produces."""
    iv = interval_profile(profile, on=on, by=by, right_ts_alias=right_ts_alias)
    iv = iv.withColumnRenamed(by, f"__{by}")
    cond = (
        (F.col(by) == F.col(f"__{by}"))
        & (F.col(on) >= F.col(right_ts_alias))
        & ((F.col("__ts_end").isNull()) | (F.col(on) < F.col("__ts_end")))
    )
    return stream.join(F.broadcast(iv), cond, "left").drop(f"__{by}", "__ts_end")
