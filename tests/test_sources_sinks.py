"""Loader parity (FIXTURES.md §3 rants_csv), sinks, lineage + resume."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from py_evalfilter_spark.sources import rants_csv, sinks, tables

HEADER = ",".join(f"col{i}" for i in range(16))

GOOD_ROWS = [
    # id, has*4, rant, status, hasproposal, empathies, _, _, birthyear, state, gender, job, price
    "1,1,0,1,0,'ｽﾋﾟｰﾄﾞ重視, とても！',100,1,5,x,y,1990,tokyo,1,eng,2500",
    "2,0,0,0,0,'Ｆｕｌｌｗｉｄｔｈ text',210,0,0,x,y,0,osaka,2,sales,100",
    "3,1,1,1,1,'plain rant',250,1,42,x,y,1985,kyoto,\\0,none,0",
]
BAD_ROWS = [
    "4,notanint,0,0,0,'bad int',100,1,5,x,y,1990,tokyo,1,eng,10",  # non-int field
    "5,1,0,0,0,'bad status int',abc,1,5,x,y,1990,tokyo,1,eng,10",  # status not int
]


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("rants")
    body = "\n".join([HEADER] + GOOD_ROWS + BAD_ROWS)
    (d / "rants-price.csv").write_text(body, encoding="utf-8")
    (d / "bad-rants.csv").write_text("\n".join([HEADER] + GOOD_ROWS[:2]), encoding="utf-8")
    (d / "good-rants.csv").write_text(
        "\n".join([HEADER, GOOD_ROWS[2], BAD_ROWS[0]]), encoding="utf-8"
    )
    return str(d)


class TestLoaders:
    def test_userprofile_loader(self, spark, csv_dir):
        df = rants_csv.load_fuman_userprofile(
            spark, f"{csv_dir}/rants-price.csv", target="price", run_year=2016
        )
        rows = {r["target"]: r for r in df.collect()}
        assert set(rows) == {2500, 100, 0}  # bad rows dropped
        r1 = rows[2500]
        assert r1["rant"].startswith("スピード重視, とても!")  # NFKC halfwidth→full, ！→!
        assert r1["userprofile"]["gender"] == "male"
        assert r1["userprofile"]["birthyear"] == 2016 - 1990
        assert r1["userprofile"]["hasindustry"] == "True"
        r2 = rows[100]
        assert r2["rant"] == "Fullwidth text"  # NFKC fullwidth→ascii
        assert r2["userprofile"]["gender"] == "female"
        assert r2["userprofile"]["birthyear"] == 0  # sentinel kept
        r3 = rows[0]
        assert r3["userprofile"]["gender"] == "unk"  # '\\0' edge

    def test_rant_loader_targets(self, spark, csv_dir):
        df = rants_csv.load_fuman_rant(spark, f"{csv_dir}/rants-price.csv")
        targets = sorted(r["target"] for r in df.collect())
        assert targets == [-1, 1, 1]  # 100→-1, 210→1, 250→1

    def test_gvb_union(self, spark, csv_dir):
        df = rants_csv.load_fuman_gvb(spark, csv_dir)
        counts = dict(
            df.groupBy("target").count().rdd.map(lambda r: (r[0], r[1])).collect()
        )
        # bad file: 2 rows unchecked (label 1); good file: 1 valid of 2 (label -1)
        assert counts == {1: 2, -1: 1}


class TestSinks:
    @pytest.fixture()
    def feats_df(self, spark):
        return spark.createDataFrame(
            [(1.23456, 2.0, 1), (0.5, 7.125, -1)], ["f1", "f2", "target"]
        )

    def test_dense_csv_three_decimals(self, spark, feats_df, tmp_path):
        out = str(tmp_path / "dense")
        sinks.write_dense_csv(feats_df, out, ["f1", "f2"], coalesce=1)
        files = glob.glob(f"{out}/part-*.csv")
        lines = open(files[0]).read().strip().splitlines()
        assert lines[0] == "f1,f2,target"
        assert sorted(lines[1:]) == sorted(["1.235,2.000,1", "0.500,7.125,-1"])

    def test_libsvm_roundtrip(self, spark, feats_df, tmp_path):
        out = str(tmp_path / "svm")
        sinks.write_libsvm(feats_df, out, ["f1", "f2"], coalesce=1)
        back = spark.read.format("libsvm").load(out)
        got = {(r["label"], tuple(r["features"].toArray())) for r in back.collect()}
        assert (1.0, (1.23456, 2.0)) in got
        assert (-1.0, (0.5, 7.125)) in got

    def test_features_json(self, tmp_path):
        p = str(tmp_path / "vocab.json")
        sinks.save_features_json(p, ["alpha", "kata kata", "日本語"])
        assert json.load(open(p)) == ["alpha", "kata kata", "日本語"]


class TestLineageResume:
    def test_write_stage_manifest(self, spark, tmp_path):
        df = spark.range(0, 1000, 1, 4).withColumn("v", F.col("id") * 2)
        out = str(tmp_path / "stage1")
        m = tables.write_stage(df, out, "double_ids", config={"k": 1})
        assert m["rows"] == 1000
        assert sum(p["rows"] for p in m["partitions"]) == 1000
        assert len(m["partitions"]) >= 1
        assert os.path.exists(f"{out}/_lineage_manifest.json")

    def test_resume_skips_completed_stage(self, spark, tmp_path):
        out = str(tmp_path / "stage2")
        calls = []

        def build():
            calls.append(1)
            return spark.range(100).withColumn("v", F.lit("x"))

        df1, m1, skipped1 = tables.run_stage(spark, out, "s", build, config={"v": 1})
        df2, m2, skipped2 = tables.run_stage(spark, out, "s", build, config={"v": 1})
        assert not skipped1 and skipped2
        assert len(calls) == 1  # second run resumed from checkpoint
        assert df2.count() == 100
        # config change invalidates the checkpoint
        df3, m3, skipped3 = tables.run_stage(spark, out, "s", build, config={"v": 2})
        assert not skipped3 and len(calls) == 2

    def test_iceberg_gate_reports(self, spark):
        # sandbox image has no Iceberg jar; API must degrade, not crash
        assert tables.iceberg_available(spark) in (True, False)


class TestStagedPipelineResume:
    """Kill-resume on the FLAGSHIP pipeline (VERDICT r2 #7): the staged mode
    must (a) produce the same features as the single-plan pipeline and
    (b) recompute only missing stages after a simulated mid-pipeline kill."""

    SF = "/root/testdata/sf0.001"

    def test_staged_matches_single_plan_pipeline(self, spark, tmp_path):
        from py_evalfilter_spark.plans.pipeline import (
            feature_pipeline,
            feature_pipeline_staged,
        )

        wd = str(tmp_path / "staged")
        out, info = feature_pipeline_staged(spark, self.SF, wd)
        assert [info[s]["skipped"] for s in ("derive", "windowed", "features")] == [
            False, False, False,
        ]
        key = ["conv_id", "turn_idx"]
        a = out.toPandas().sort_values(key).reset_index(drop=True)
        b = feature_pipeline(spark, self.SF).toPandas().sort_values(key).reset_index(drop=True)
        import pandas.testing as pdt

        pdt.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)], rtol=1e-9)
        # manifests carry per-partition lineage + throughput metrics
        m = info["windowed"]["manifest"]
        assert m["rows"] == len(a) and m["partitions"] and m["throughput_rows_per_sec"] > 0

    def test_kill_resume_recomputes_only_missing_stages(self, spark, tmp_path):
        import shutil

        from py_evalfilter_spark.plans.pipeline import feature_pipeline_staged

        wd = str(tmp_path / "staged_kill")
        out1, _ = feature_pipeline_staged(spark, self.SF, wd)
        n1 = out1.count()
        # simulate a kill AFTER the derive stage committed: downstream
        # stage outputs are gone, derive's snapshot survives
        shutil.rmtree(f"{wd}/stage_windowed")
        shutil.rmtree(f"{wd}/stage_features")
        derive_manifest = tables.read_manifest(f"{wd}/stage_derive")
        out2, info2 = feature_pipeline_staged(spark, self.SF, wd)
        assert info2["derive"]["skipped"] is True  # NOT recomputed
        assert info2["windowed"]["skipped"] is False
        assert info2["features"]["skipped"] is False
        assert tables.read_manifest(f"{wd}/stage_derive") == derive_manifest
        assert out2.count() == n1

    def test_config_change_invalidates_downstream_only(self, spark, tmp_path):
        from py_evalfilter_spark.plans.pipeline import feature_pipeline_staged

        wd = str(tmp_path / "staged_cfg")
        feature_pipeline_staged(spark, self.SF, wd, gap_s=1800)
        _, info = feature_pipeline_staged(spark, self.SF, wd, gap_s=900)
        assert info["derive"]["skipped"] is True  # gap_s not in derive config
        assert info["windowed"]["skipped"] is False  # fingerprint changed


class TestStrictTarget:
    def test_strict_gvb_target_raises_on_unexpected_status(self, spark, csv_dir):
        """fuman_gvb_target raises on status outside {100, 2xx}
        (fuman_base.py:60-66) — strict mode preserves that contract."""
        import pandas as pd
        import pytest as _pytest
        from py_evalfilter_spark.sources.rants_csv import gvb_target_col
        from pyspark.sql import functions as F

        df = spark.createDataFrame(pd.DataFrame({"_c6": ["999"]}))
        strict = df.select(gvb_target_col(F.col("_c6"), strict=True).alias("t"))
        with _pytest.raises(Exception, match="Unexpected value for status"):
            strict.collect()
        lax = df.select(gvb_target_col(F.col("_c6"), strict=False).alias("t")).collect()
        assert lax[0]["t"] is None


class TestBucketedWrite:
    def test_one_file_per_bucket(self, spark, tmp_path):
        """write_bucketed clusters rows by the writer's bucket id before
        writing: an 8-partition frame into 4 buckets lands as at most 4
        files, each holding exactly one bucket id (pmod(hash(cols), 4),
        the id Spark's bucketed writer and reader use), with every input
        row intact."""
        import uuid

        df = spark.range(0, 2000, numPartitions=8).select(
            (F.col("id") % 37).alias("k"), F.col("id").alias("v")
        )
        assert df.rdd.getNumPartitions() == 8
        table, path = f"bw_{uuid.uuid4().hex[:8]}", tmp_path / "bw"
        tables.write_bucketed(df, table, ["k"], 4, sort_cols=["k"], path=str(path))
        try:
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            assert 0 < len(files) <= 4, files
            per_file = (
                spark.read.parquet(str(path))
                .groupBy(F.input_file_name().alias("f"))
                .agg(F.collect_set(F.pmod(F.hash("k"), F.lit(4))).alias("ids"))
                .collect()
            )
            assert len(per_file) == len(files)
            for r in per_file:
                assert len(r["ids"]) == 1, r
                # the file name's bucket suffix (part-…_0000N.c000…) agrees
                assert f"_{r['ids'][0]:05d}." in r["f"], r
            back = tables.read_bucketed(spark, table)
            assert sorted(back.collect()) == sorted(df.collect())
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
