"""End-to-end feature pipeline (SURVEY.md §3.4): the engine's flagship plan.

transcripts → windowed features (one conv_id Exchange) → as-of profile
merge (the one-table spine join) → Arrow feature map → wide per-turn rows.

Scale notes (what survives a 1000-executor / 100 TB run):
  * the transcripts derivation's row_number window hash-partitions by user
    across `spark.sql.shuffle.partitions` — the per-turn Arrow feature map
    inherits that balanced partitioning, so mega-conversations can't skew
    the map stage (per-turn features never cross rows → salting-safe);
  * all window features share the derivation's single conv_id Exchange;
  * the as-of union-window adds ONE more full-data conv_id Exchange
    (a Union's output partitioning is unknown to Catalyst, so the as-of
    window must redistribute) plus the profile-side aggregation shuffle —
    the full executed plan is exactly 3 hashpartitioning Exchanges, two of
    them over the big side (pinned in tests/test_plans.py);
  * nothing collects to the driver; output is a DataFrame for the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import textfeats
from ..operators import asof as asof_op
from ..operators import windows as win_op
from ..sources import tables
from . import driver_queries as dq


def feature_pipeline(
    spark: SparkSession,
    sf_dir: str,
    gap_s: int = 1800,
) -> DataFrame:
    """Full pipeline over the events-derived transcripts at ``sf_dir``."""
    t = dq.transcripts_from_events(
        dq._read(spark, sf_dir, "events"), keep_order_col=True
    )
    profile = dq.profile_df(spark, sf_dir)
    return feature_pipeline_from_df(t, profile, gap_s=gap_s)


def feature_pipeline_staged(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    gap_s: int = 1800,
) -> tuple[DataFrame, dict]:
    """Checkpointed flagship pipeline: derive → windowed(+as-of) → features,
    each stage committed atomically through tables.run_stage with a lineage
    manifest (north_rule: "resumable from checkpoint with per-partition
    lineage + metrics").  A rerun after a mid-pipeline failure recomputes
    ONLY the stages whose committed output is missing or whose config
    fingerprint changed — kill-resume is pinned in
    tests/test_sources_sinks.py::TestStagedPipelineResume.

    Returns (features DataFrame read from the committed stage, info dict
    {stage: {"manifest": ..., "skipped": bool}}).

    Trade-off vs the single-plan :func:`feature_pipeline`: each stage
    boundary materializes to storage (Iceberg snapshot when the runtime is
    present, atomic parquet dir otherwise), so the derivation's sort-reuse
    across stages is given up in exchange for resumability — the right call
    for multi-hour 100 TB runs where a lost executor must not restart the
    whole job, and exactly how the reference persists intermediate CSVs
    between its scripts (generate_dataset_gvsb.py writes per-stage files).
    """
    info: dict[str, dict] = {}

    derive_path = f"{work_dir}/stage_derive"
    t, m, skipped = tables.run_stage(
        spark,
        derive_path,
        "derive",
        lambda: dq.transcripts_from_events(
            dq._read(spark, sf_dir, "events"), keep_order_col=True
        ),
        config={"sf_dir": sf_dir},
        input_paths=[f"{sf_dir}/events.parquet"],
    )
    info["derive"] = {"manifest": m, "skipped": skipped}

    windowed_path = f"{work_dir}/stage_windowed"
    w, m, skipped = tables.run_stage(
        spark,
        windowed_path,
        "windowed",
        lambda: _windowed(t, dq.profile_df(spark, sf_dir), gap_s),
        config={"sf_dir": sf_dir, "gap_s": gap_s},
        input_paths=[derive_path],
    )
    info["windowed"] = {"manifest": m, "skipped": skipped}

    features_path = f"{work_dir}/stage_features"
    f, m, skipped = tables.run_stage(
        spark,
        features_path,
        "features",
        lambda: textfeats.with_rant_stats(w),
        config={"sf_dir": sf_dir},
        input_paths=[windowed_path],
    )
    info["features"] = {"manifest": m, "skipped": skipped}
    return f, info


def feature_pipeline_from_df(
    transcripts: DataFrame,
    profile: DataFrame | None = None,
    gap_s: int = 1800,
) -> DataFrame:
    """Same plan over caller-provided transcript / profile DataFrames
    (e.g. the datagen fixtures or a real Iceberg table).

    Stage order matters at scale: windows + as-of run FIRST on the narrow
    transcript columns, and the 19-column Arrow feature map runs LAST —
    after every shuffle — so feature columns are computed once per final
    row and never serialized through an Exchange (at 10^12 turns the
    windows/as-of shuffles move ~6 columns instead of ~25).  Features
    depend only on ``text``, so the reordering is semantics-preserving.

    Sort reuse: if the transcripts still carry the derivation's sort key
    ``event_id`` (transcripts_from_events(keep_order_col=True)), the window
    chain orders by (ts, event_id) — the identical permutation as
    (turn_idx, ts) — and Catalyst elides the window chain's Sort, reusing
    the derivation WindowExec's output ordering (one fewer full sort of
    the corpus; plan-tested).  The key must stay UNALIASED: renaming breaks
    ordering propagation.
    """
    return textfeats.with_rant_stats(_windowed(transcripts, profile, gap_s))


def _windowed(
    transcripts: DataFrame, profile: DataFrame | None, gap_s: int
) -> DataFrame:
    """The window chain (backfill → rolling count → session) plus the
    optional as-of profile merge — the windowed stage of both the single
    plan and the staged pipeline."""
    order = ("ts", "event_id") if "event_id" in transcripts.columns else ("turn_idx", "ts")
    windowed = win_op.with_session(
        win_op.with_rolling_count(
            win_op.with_backfill(transcripts, order=order), order=order
        ),
        gap_s=gap_s,
        order=order,
    )
    if "event_id" in transcripts.columns:
        windowed = windowed.drop("event_id")
    if profile is not None:
        windowed = asof_op.asof_join(
            windowed, profile, on="ts", by="conv_id", right_ts_alias="profile_ts"
        )
    return windowed
