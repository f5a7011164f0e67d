"""Property tests: windows/sessionize/as-of vs golden on hypothesis-random
frames — ties, duplicates, empty groups, extreme gaps, null tools."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from py_evalfilter_spark import golden
from py_evalfilter_spark.operators import asof, windows

KEY = ["conv_id", "turn_idx"]


@st.composite
def transcripts_frames(draw):
    n_convs = draw(st.integers(1, 4))
    rows = []
    for ci in range(n_convs):
        n = draw(st.integers(1, 8))
        ts = 0
        for ti in range(n):
            ts += draw(st.sampled_from([0, 1, 60, 1800, 1801, 7200]))
            rows.append(
                (
                    f"c{ci}",
                    ti,
                    draw(st.sampled_from(["user", "assistant"])),
                    draw(st.sampled_from(["a", "bb", ""])),
                    draw(st.sampled_from([None, "search", "exec"])),
                    ts,
                )
            )
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = pd.to_datetime(df["ts"], unit="s")
    return df


@st.composite
def profile_frames(draw, conv_ids):
    rows = []
    for cid in conv_ids:
        for v in range(draw(st.integers(0, 3))):
            # pv may be NULL in the matched row itself: the as-of must
            # attach that NULL, never a value from an older right row
            pv = draw(st.sampled_from([None, float(v)]))
            rows.append((cid, draw(st.integers(0, 20000)), pv))
    df = pd.DataFrame(rows, columns=["conv_id", "ts", "pv"])
    df = df.drop_duplicates(["conv_id", "ts"])
    df["ts"] = pd.to_datetime(df["ts"], unit="s")
    return df


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_windows_and_session_match_golden(spark, data):
    pdf = data.draw(transcripts_frames())
    sdf = spark.createDataFrame(pdf)
    out = (
        windows.with_session(windows.with_backfill(windows.with_lag_lead(sdf)))
        .toPandas()
        .sort_values(KEY, kind="mergesort")
        .reset_index(drop=True)
    )
    want = golden.golden_windowed(pdf).sort_values(KEY, kind="mergesort").reset_index(drop=True)
    for col in ["prev_text", "next_text", "tool_ffill", "session_id"]:
        av, bv = out[col], want[col]
        assert ((av == bv) | (av.isna() & bv.isna())).all(), f"{col}\n{pdf}"
    assert (out["session_seq"].astype("int64") == want["session_seq"]).all()


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_asof_both_impls_match_golden(spark, data):
    pdf = data.draw(transcripts_frames())
    prof = data.draw(profile_frames(sorted(pdf["conv_id"].unique())))
    sdf = spark.createDataFrame(pdf)
    if len(prof) == 0:
        prof = pd.DataFrame(
            {"conv_id": ["zz"], "ts": pd.to_datetime([0], unit="s"), "pv": [0.0]}
        )
    psdf = spark.createDataFrame(prof)
    want = golden.golden_asof(pdf, prof)
    want = want.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    out = (
        asof.asof_join(sdf, psdf, on="ts", by="conv_id", right_ts_alias="profile_ts")
        .toPandas()
        .sort_values(KEY, kind="mergesort")
        .reset_index(drop=True)
    )
    for col in ["pv", "profile_ts"]:
        av, bv = out[col], want[col]
        assert ((av == bv) | (av.isna() & bv.isna())).all(), (
            f"{col}\nleft:\n{pdf}\nright:\n{prof}\n"
            f"got:\n{out[KEY + ['ts', 'profile_ts', 'pv']]}\n"
            f"want:\n{want[KEY + ['ts', 'profile_ts', 'pv']]}"
        )
    matched = out["profile_ts"].notna()
    assert (out.loc[matched, "profile_ts"] <= out.loc[matched, "ts"]).all()


def test_asof_matched_row_null_column_stays_null(spark):
    """Regression (round-2 ADVICE): when the matched right row holds NULL in
    a value column, the output must carry that NULL — not silently take the
    column from an OLDER right row — and with tolerance_s the whole struct
    must pass or fail the staleness cut together."""
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c0"],
                "turn_idx": pd.array([0], dtype="int32"),
                "ts": pd.to_datetime([1000], unit="s"),
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c0", "c0"],
                "ts": pd.to_datetime([100, 900], unit="s"),
                "pv": [5.0, None],  # matched row (ts=900) has NULL pv
                "seg": ["old", "new"],
            }
        )
    )
    out = asof.asof_join(
        left, right, on="ts", by="conv_id", right_ts_alias="profile_ts"
    ).toPandas()
    assert len(out) == 1
    assert out["seg"].iloc[0] == "new"
    assert pd.isna(out["pv"].iloc[0]), "pv leaked from older row"
    # tolerance: matched row is 100s old; 50s tolerance must null ALL
    # right columns together (seg came from the matched row, so it must
    # go too — no partial survival from older rows)
    out_tol = asof.asof_join(
        left, right, on="ts", by="conv_id", right_ts_alias="profile_ts", tolerance_s=50
    ).toPandas()
    assert pd.isna(out_tol["profile_ts"].iloc[0])
    assert pd.isna(out_tol["pv"].iloc[0])
    assert pd.isna(out_tol["seg"].iloc[0]), "stale seg survived"
