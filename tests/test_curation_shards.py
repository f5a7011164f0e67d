"""Terminal corpus-assembly stage (plans/curation.py `sharded`): the
shard_corpus docstring's claimed realization — one ORDERED parquet file per
training shard via repartition(n_shards, "shard") + sortWithinPartitions —
becomes tested behavior: re-read order is the training order, the per-shard
manifest covers every packed row exactly once, and the stage participates in
the kill-resume discipline (only the missing stage recomputes)."""

import json
import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py_evalfilter_spark.plans import curation
from py_evalfilter_spark.sources import tables

SF = "/root/testdata/sf0.01"
N_SHARDS = 4
KW = dict(budget=256, n_shards=N_SHARDS)


@pytest.fixture(scope="module")
def sharded_run(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("curated"))
    df, m = curation.curate_corpus_staged(spark, SF, out, **KW)
    return out, df, m


# The stage config fingerprints of a default run, byte for byte: a manifest
# resumes only when its stored fingerprint string equals the one the flow
# computes, so any drift here silently recomputes every existing output.
# Each stage chains its upstream's fingerprint as a JSON string.
FILTERED_FP = (
    '{"benchmark_source": "src0", "c4_rules": false, "classifier_min": null, '
    '"gopher_min_words": null, "gopher_stopwords": [], "line_dedup": false, '
    '"quality_min": 0.5, "standing_path": null}'
)
DEDUPED_FP = (
    '{"minhash_threshold": 0.8, "semantic_threshold": null, '
    '"substring_n": null, "upstream": ' + json.dumps(FILTERED_FP) + "}"
)
PACKED_FP = (
    '{"benchmark_source": "src0", "budget": 256, "decontam_n": 6, '
    '"rates": null, "source_token_budget": null, "upstream": '
    + json.dumps(DEDUPED_FP) + "}"
)
SHARDED_FP = '{"n_shards": 4, "upstream": ' + json.dumps(PACKED_FP) + "}"


class TestShardedStage:
    def test_config_fingerprints_are_stable(self, sharded_run):
        """Manifests written by earlier versions must still resume."""
        _, _, m = sharded_run
        assert {
            s: m[s]["config_fingerprint"]
            for s in ("filtered", "deduped", "packed", "sharded")
        } == {
            "filtered": FILTERED_FP,
            "deduped": DEDUPED_FP,
            "packed": PACKED_FP,
            "sharded": SHARDED_FP,
        }

    def test_manifest_covers_packed_exactly(self, spark, sharded_run):
        out, df, m = sharded_run
        assert "sharded" in m and m["sharded"]["resumed"] is False
        packed_rows = m["packed"]["rows"]
        shards = m["sharded"]["shards"]
        assert sum(shards.values()) == packed_rows == m["sharded"]["rows"]
        # every shard dir holds exactly ONE file (the ordered training file)
        files_per_shard: dict[str, int] = {}
        for p in m["sharded"]["partitions"]:
            k = p["file"].split("/", 1)[0]
            files_per_shard[k] = files_per_shard.get(k, 0) + 1
        assert set(files_per_shard) == {f"shard={k}" for k in shards}
        assert all(v == 1 for v in files_per_shard.values()), files_per_shard

    def test_reread_order_is_training_order(self, spark, sharded_run):
        """Reading a shard's directory back WITHOUT any sort must yield
        pos = 0..n-1 in file order — the realized contract a sequential
        training reader depends on."""
        out, df, m = sharded_run
        for k, n in m["sharded"]["shards"].items():
            rows = spark.read.parquet(f"{out}/sharded/shard={k}").collect()
            assert [r["pos"] for r in rows] == list(range(int(n))), f"shard {k}"

    def test_shards_partition_packed_ids(self, spark, sharded_run):
        out, df, m = sharded_run
        packed_ids = {
            r["doc_id"]
            for r in spark.read.parquet(f"{out}/packed").select("doc_id").collect()
        }
        shard_ids = [r["doc_id"] for r in df.select("doc_id").collect()]
        assert len(shard_ids) == len(packed_ids)
        assert set(shard_ids) == packed_ids

    def test_rerun_resumes_every_stage(self, spark, sharded_run):
        out, df, m = sharded_run
        df2, m2 = curation.curate_corpus_staged(spark, SF, out, **KW)
        assert all(
            m2[s]["resumed"] for s in ("filtered", "deduped", "packed", "sharded")
        )
        assert m2["sharded"]["shards"] == m["sharded"]["shards"]

    def test_kill_resume_recomputes_only_sharded(self, spark, sharded_run):
        """Simulate a crash across the shard write: the atomic tmp+rename
        commit means a killed write leaves no output dir — a rerun must
        recompute ONLY the sharded stage and reproduce it bit-for-bit."""
        out, df, m = sharded_run
        shutil.rmtree(f"{out}/sharded")
        df2, m2 = curation.curate_corpus_staged(spark, SF, out, **KW)
        assert [m2[s]["resumed"] for s in ("filtered", "deduped", "packed")] == [
            True, True, True,
        ]
        assert m2["sharded"]["resumed"] is False
        assert m2["sharded"]["shards"] == m["sharded"]["shards"]
        for k, n in m2["sharded"]["shards"].items():
            rows = spark.read.parquet(f"{out}/sharded/shard={k}").collect()
            assert [r["pos"] for r in rows] == list(range(int(n)))

    def test_n_shards_change_recomputes_only_sharded(self, spark, sharded_run):
        out, df, m = sharded_run
        df2, m2 = curation.curate_corpus_staged(
            spark, SF, out, budget=256, n_shards=2
        )
        assert m2["packed"]["resumed"] is True
        assert m2["sharded"]["resumed"] is False
        assert set(m2["sharded"]["shards"]) == {"0", "1"}
        assert sum(m2["sharded"]["shards"].values()) == m["packed"]["rows"]
        # restore the module fixture's layout for any later test
        curation.curate_corpus_staged(spark, SF, out, **KW)

    def test_rollup_mismatch_raises(self, spark, sharded_run, monkeypatch):
        """A sharded manifest whose partition entries fell back to bare
        basenames must fail loudly, not return a short rollup — with a
        raise that `python -O` keeps."""
        out, _, _ = sharded_run
        real = tables.run_stage

        def bare_basenames(spark, path, stage, build_fn, **kw):
            df, m, skipped = real(spark, path, stage, build_fn, **kw)
            if stage == "sharded":
                m = {
                    **m,
                    "partitions": [
                        {**p, "file": p["file"].rsplit("/", 1)[-1]}
                        for p in m["partitions"]
                    ],
                }
            return df, m, skipped

        monkeypatch.setattr(tables, "run_stage", bare_basenames)
        with pytest.raises(RuntimeError, match="shard rollup undercounts"):
            curation.curate_corpus_staged(spark, SF, out, **KW)

    def test_upstream_change_invalidates_sharded(self, spark, tmp_path):
        out = str(tmp_path / "curated")
        _, m1 = curation.curate_corpus_staged(spark, SF, out, **KW)
        _, m2 = curation.curate_corpus_staged(
            spark, SF, out, budget=64, n_shards=N_SHARDS
        )
        assert m2["packed"]["resumed"] is False
        assert m2["sharded"]["resumed"] is False
