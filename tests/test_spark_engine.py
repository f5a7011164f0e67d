"""Spark engine vs golden pandas pipeline — numpy.allclose at every
(conv_id, turn_idx, ts), zero temporal leakage (BASELINE.json north_rule)."""

import numpy as np
import pandas as pd
import pytest

from py_evalfilter_spark import golden
from py_evalfilter_spark import textcore as tc
from py_evalfilter_spark.functions import textfeats
from py_evalfilter_spark.operators import asof, windows

KEY = ["conv_id", "turn_idx"]


def _aligned(spark_pdf: pd.DataFrame, golden_pdf: pd.DataFrame):
    a = spark_pdf.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    b = golden_pdf.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    assert len(a) == len(b)
    return a, b


class TestRantStatsSpark:
    def test_allclose_vs_golden(self, transcripts_sdf, transcripts_pdf):
        out = textfeats.with_rant_stats(transcripts_sdf).toPandas()
        gold = golden.golden_rant_stats(transcripts_pdf["text"])
        gold = pd.concat([transcripts_pdf[KEY + ["text"]], gold], axis=1)
        a, b = _aligned(out, gold)
        # per-turn text equality under stable ordering
        assert (a["text"] == b["text"]).all()
        assert np.allclose(
            a[list(tc.FEATURE_NAMES)].to_numpy("float64"),
            b[list(tc.FEATURE_NAMES)].to_numpy("float64"),
        )

    def test_tokenizer_udfs(self, spark):
        pdf = pd.DataFrame({"text": ["スパークspark 123です！。", "", "AB c"]})
        sdf = spark.createDataFrame(pdf)
        out = (
            sdf.select(
                textfeats.tokenize_rant_udf("text").alias("lemma2"),
                textfeats.tokenize_rant1_udf("text").alias("lemma1"),
                textfeats.tokenize_pos_udf("text").alias("pos"),
                textfeats.tokenize_token_type_udf("text").alias("types"),
            )
        ).collect()
        assert out[0]["lemma2"] == tc.tokenize_rant("スパークspark 123です！。", 2)
        assert out[0]["lemma1"] == tc.tokenize_rant("スパークspark 123です！。", 1)
        assert out[0]["pos"] == ["KATA", "ALPHA", "DIGIT", "HIRA", "MARK", "PUNCT"]
        assert out[1]["lemma1"] == []
        assert out[2]["types"] == ["alpha", "alpha"]


class TestWindowedSpark:
    def test_vs_golden(self, transcripts_sdf, transcripts_pdf):
        out = windows.with_session(
            windows.with_rolling_count(
                windows.with_backfill(windows.with_lag_lead(transcripts_sdf))
            )
        ).toPandas()
        gold = golden.golden_windowed(transcripts_pdf)
        a, b = _aligned(out, gold)
        for col in ["prev_text", "next_text", "tool_ffill"]:
            av, bv = a[col], b[col]
            assert ((av == bv) | (av.isna() & bv.isna())).all(), col
        assert (a["session_seq"].astype("int64") == b["session_seq"]).all()
        assert (a["session_id"] == b["session_id"]).all()
        assert (a["turns_last3"].astype("int64") == b["turns_last3"]).all()


class TestAsofSpark:
    def test_vs_golden(self, transcripts_sdf, profiles_sdf, transcripts_pdf, profiles_pdf):
        out = asof.asof_join(
            transcripts_sdf, profiles_sdf, on="ts", by="conv_id", right_ts_alias="profile_ts"
        ).toPandas()
        gold = golden.golden_asof(transcripts_pdf, profiles_pdf)
        a, b = _aligned(out, gold)
        for col in ["empathies", "state", "gender", "birthyear", "job", "hasproposal"]:
            av, bv = a[col], b[col]
            assert ((av == bv) | (av.isna() & bv.isna())).all(), col
        # matched timestamps identical
        assert ((a["profile_ts"] == b["profile_ts"]) | (a["profile_ts"].isna() & b["profile_ts"].isna())).all()

    def test_zero_leakage(self, transcripts_sdf, profiles_sdf):
        out = asof.asof_join(
            transcripts_sdf, profiles_sdf, on="ts", by="conv_id", right_ts_alias="profile_ts"
        )
        leaked = out.filter("profile_ts > ts").count()
        assert leaked == 0

    def test_future_mutation_invariance(self, spark, transcripts_pdf, profiles_pdf):
        """Temporal-leakage property (SURVEY.md §5.2.2): mutating any profile
        row with ts' > t must leave features at t bit-identical."""
        cut = transcripts_pdf["ts"].quantile(0.5)
        base = asof.asof_join(
            spark.createDataFrame(transcripts_pdf),
            spark.createDataFrame(profiles_pdf),
            right_ts_alias="profile_ts",
        ).toPandas()
        mutated = profiles_pdf.copy()
        future = mutated["ts"] > cut
        assert future.any()
        mutated.loc[future, "empathies"] = 99999
        mutated.loc[future, "state"] = "MUTATED"
        out2 = asof.asof_join(
            spark.createDataFrame(transcripts_pdf),
            spark.createDataFrame(mutated),
            right_ts_alias="profile_ts",
        ).toPandas()
        a, _ = _aligned(base, base)
        b, _ = _aligned(out2, out2)
        early = a["ts"] <= cut
        for col in ["empathies", "state", "gender", "profile_ts"]:
            av, bv = a.loc[early, col], b.loc[early, col]
            assert ((av == bv) | (av.isna() & bv.isna())).all(), col

    def test_tolerance(self, spark):
        t = pd.DataFrame(
            {
                "conv_id": ["c", "c"],
                "turn_idx": pd.array([0, 1], dtype="int32"),
                "ts": pd.to_datetime([1000, 5000], unit="s"),
            }
        )
        p = pd.DataFrame(
            {"conv_id": ["c"], "ts": pd.to_datetime([900], unit="s"), "v": [1.5]}
        )
        out = (
            asof.asof_join(spark.createDataFrame(t), spark.createDataFrame(p), tolerance_s=500)
            .toPandas()
            .sort_values("turn_idx")
        )
        assert out["v"].iloc[0] == 1.5  # 100s stale: within tolerance
        assert pd.isna(out["v"].iloc[1])  # 4100s stale: dropped
        assert pd.isna(out["ts_right"].iloc[1])  # with its ts (default alias)


class TestAsofUnionWindow:
    """`asof_join_union_window` is kept as a second name for `asof_join`;
    the name must keep the same semantics."""

    def test_zero_leakage(self, transcripts_sdf, profiles_sdf):
        out = asof.asof_join_union_window(
            transcripts_sdf, profiles_sdf, right_ts_alias="profile_ts"
        )
        assert out.filter("profile_ts > ts").count() == 0

    def test_tolerance(self, spark):
        t = pd.DataFrame(
            {
                "conv_id": ["c", "c"],
                "turn_idx": pd.array([0, 1], dtype="int32"),
                "ts": pd.to_datetime([1000, 5000], unit="s"),
            }
        )
        p = pd.DataFrame({"conv_id": ["c"], "ts": pd.to_datetime([900], unit="s"), "v": [1.5]})
        out = (
            asof.asof_join_union_window(
                spark.createDataFrame(t), spark.createDataFrame(p), tolerance_s=500
            )
            .toPandas().sort_values("turn_idx")
        )
        assert out["v"].iloc[0] == 1.5
        assert pd.isna(out["v"].iloc[1])
