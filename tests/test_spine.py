"""Multi-table point-in-time spine join (operators/spine): parity with k
chained as-of joins, zero-leakage property, per-table tolerance, and the
one-Exchange/one-Window plan contract that makes it an operator instead
of a loop."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from py_evalfilter_spark.operators import asof
from py_evalfilter_spark.operators.spine import FeatureTable, spine_point_in_time


@pytest.fixture(scope="module")
def spine_sdf(spark, transcripts_sdf):
    return transcripts_sdf.filter(F.col("turn_idx") % 3 == 0).select(
        "conv_id", "turn_idx", "ts"
    )


@pytest.fixture(scope="module")
def feat_a(spark, profiles_sdf):
    # profile events: numeric + string value cols, unique per (conv_id, ts)
    return profiles_sdf.groupBy("conv_id", "ts").agg(
        F.max("empathies").alias("purchase_value"),
        F.max("state").alias("state"),
    )


@pytest.fixture(scope="module")
def feat_b(spark, transcripts_sdf):
    # last-assistant-turn stats at a DIFFERENT grain and key name
    return (
        transcripts_sdf.filter(F.col("role") == "assistant")
        .groupBy(F.col("conv_id").alias("cid"), "ts")
        .agg(
            F.max(F.length("text")).alias("alen"),
            F.count(F.lit(1)).alias("aturns"),
        )
    )


class TestSpineSemantics:
    def test_parity_with_chained_asof(self, spine_sdf, feat_a, feat_b):
        """k=2 spine join ≡ two chained asof_join passes —
        same matched rows, same columns, including per-table tolerance."""
        got = spine_point_in_time(
            spine_sdf,
            [
                FeatureTable(feat_a, "prof"),
                FeatureTable(
                    feat_b, "asst", by="cid", tolerance_s=7200
                ),
            ],
        ).toPandas()

        step1 = asof.asof_join(
            spine_sdf,
            feat_a.select(
                "conv_id",
                "ts",
                F.col("purchase_value").alias("prof_purchase_value"),
                F.col("state").alias("prof_state"),
            ),
            right_ts_alias="prof_ts",
        )
        step2 = asof.asof_join(
            step1,
            feat_b.select(
                F.col("cid").alias("conv_id"),
                "ts",
                F.col("alen").alias("asst_alen"),
                F.col("aturns").alias("asst_aturns"),
            ),
            right_ts_alias="asst_ts",
            tolerance_s=7200,
        ).toPandas()

        key = ["conv_id", "turn_idx"]
        got = got.sort_values(key).reset_index(drop=True)
        want = step2[got.columns].sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

    def test_zero_leakage(self, spine_sdf, feat_a, feat_b):
        out = spine_point_in_time(
            spine_sdf,
            [FeatureTable(feat_a, "prof"), FeatureTable(feat_b, "a", by="cid")],
        )
        leaks = out.filter(
            (F.col("prof_ts") > F.col("ts")) | (F.col("a_ts") > F.col("ts"))
        ).count()
        assert leaks == 0
        # non-vacuous: some matches exist on both tables
        assert out.filter(F.col("prof_ts").isNotNull()).count() > 0
        assert out.filter(F.col("a_ts").isNotNull()).count() > 0

    def test_tolerance_nulls_whole_struct(self, spine_sdf, feat_a):
        tight = spine_point_in_time(
            spine_sdf, [FeatureTable(feat_a, "p", tolerance_s=1)]
        ).toPandas()
        # a nulled match nulls ts AND value together, never one of them
        assert ((tight.p_ts.isna()) == (tight.p_purchase_value.isna())).all()
        loose = spine_point_in_time(
            spine_sdf, [FeatureTable(feat_a, "p")]
        ).toPandas()
        assert tight.p_ts.notna().sum() <= loose.p_ts.notna().sum()

    def test_spine_rows_and_columns_preserved(self, spine_sdf, feat_a):
        out = spine_point_in_time(spine_sdf, [FeatureTable(feat_a, "p")])
        assert out.count() == spine_sdf.count()
        assert out.columns[:3] == ["conv_id", "turn_idx", "ts"]
        assert out.columns[3:] == ["p_ts", "p_purchase_value", "p_state"]

    def test_rejects_bad_configs(self, spine_sdf, feat_a):
        with pytest.raises(ValueError):
            spine_point_in_time(spine_sdf, [])
        with pytest.raises(ValueError):
            spine_point_in_time(
                spine_sdf,
                [FeatureTable(feat_a, "p"), FeatureTable(feat_a, "p")],
            )
        clash = feat_a.select(
            "conv_id", "ts", F.col("purchase_value").alias("turn_idx")
        )
        with pytest.raises(ValueError):
            # p_ts fine, but prefix 'p' + value col named to collide
            spine_point_in_time(
                spine_sdf.withColumnRenamed("turn_idx", "p_turn_idx"),
                [FeatureTable(clash, "p")],
            )
        # the k=1 case shares the check: a right value column or the right
        # ts alias named like a left column fails at plan-build time instead
        # of yielding two same-named output columns
        with pytest.raises(ValueError, match="turn_idx"):
            asof.asof_join(spine_sdf, clash)
        with pytest.raises(ValueError, match="turn_idx"):
            asof.asof_join(spine_sdf, feat_a, right_ts_alias="turn_idx")


class TestSpinePlan:
    def test_one_exchange_one_window_for_k_tables(
        self, spark, spine_sdf, transcripts_sdf, profiles_sdf
    ):
        """The operator's reason to exist: k tables ride ONE
        hash-partitioning Exchange and ONE WindowExec (k chained as-of
        joins would pay k of each on the growing spine).  Feature frames
        here are plain projections — aggregated inputs add their own
        upstream Exchanges, which belong to the input, not the join."""
        fa = profiles_sdf.select("conv_id", "ts", "empathies")
        fb = transcripts_sdf.select(
            F.col("conv_id").alias("cid"), "ts", F.length("text").alias("alen")
        )
        fc = profiles_sdf.select(
            "conv_id", "ts", (F.col("empathies") * 2).alias("v2")
        )
        out = spine_point_in_time(
            spine_sdf,
            [
                FeatureTable(fa, "a"),
                FeatureTable(fb, "b", by="cid"),
                FeatureTable(fc, "c", tolerance_s=3600),
            ],
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Window") == 1, plan

    def test_asof_join_is_the_one_table_case(self, spine_sdf, profiles_sdf):
        # same plain-projection input, k=1 through the public as-of join
        out = asof.asof_join(
            spine_sdf,
            profiles_sdf.select("conv_id", "ts", "empathies"),
            right_ts_alias="profile_ts",
            tolerance_s=3600,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Window") == 1, plan
