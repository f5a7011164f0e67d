"""End-to-end curation plan (plans/curation.py): stage invariants on the
sf0.01 corpus — counts shrink monotonically, no benchmark leakage, no
surviving exact dups, packs respect the budget, deterministic."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py_evalfilter_spark.operators import corpus as corpus_ops
from py_evalfilter_spark.plans import curation

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def curated(spark):
    obs: dict = {}
    out = curation.curate_corpus(
        spark,
        SF,
        rates={f"src{i}": 0.9 for i in range(1, 20)},
        budget=256,
        observations=obs,
    )
    rows = out.collect()
    return rows, {k: o.get["rows"] for k, o in obs.items()}


class TestCuration:
    def test_stage_counts_shrink_monotonically(self, curated):
        rows, counts = curated
        order = ["input", "quality", "repetition", "exact_dedup",
                 "near_dedup", "decontaminate", "mix"]
        vals = [counts[s] for s in order]
        assert vals == sorted(vals, reverse=True), counts
        assert counts["input"] == 475  # 500 minus the src0 benchmark slice
        assert len(rows) == counts["mix"]
        assert len(rows) > 100  # the pipeline must not collapse the corpus

    def test_extended_r6_stages_compose(self, spark):
        """The four r6 opt-in stages (C4 rules, Gopher quality, line
        dedup, exact per-source token budget) compose with the default
        flow: stage counts stay monotone, every source respects the exact
        char budget, and the pipeline doesn't collapse."""
        obs: dict = {}
        out = curation.curate_corpus(
            spark,
            SF,
            c4_rules=False,  # the synthetic corpus has no terminal punct —
                             # C4's line rule would drop everything; its
                             # composition is covered by q_c4_filter + the
                             # unit tests, and gopher exercises stage-0 here
            gopher_min_words=10,
            gopher_stopwords=("the", "a", "table", "value", "row", "scan"),
            line_dedup=True,
            source_token_budget=4000,
            observations=obs,
        )
        rows = out.collect()
        counts = {k: o.get["rows"] for k, o in obs.items()}
        order = ["input", "gopher", "quality", "repetition", "line_dedup",
                 "exact_dedup", "near_dedup", "decontaminate", "token_budget"]
        vals = [counts[s] for s in order]
        assert vals == sorted(vals, reverse=True), counts
        assert counts["line_dedup"] == counts["repetition"]  # rewrites, no drops
        assert len(rows) > 50
        # exact budget: per-source char totals never exceed the cap
        import collections

        per_src = collections.Counter()
        for r in rows:
            per_src[r["source"]] += r["n_chars"]
        assert all(v <= 4000 for v in per_src.values()), per_src

    def test_no_benchmark_source_and_budget_respected(self, curated):
        rows, _ = curated
        assert all(r["source"] != "src0" for r in rows)
        assert all(0 <= r["pack_offset"] < 256 for r in rows)
        assert all(r["n_email"] is not None for r in rows)  # PII counts kept

    def test_no_exact_dups_survive(self, curated):
        rows, _ = curated
        texts = [r["text"] for r in rows]
        assert len(texts) == len(set(texts))

    def test_no_contamination_survives(self, spark, curated):
        rows, _ = curated
        out = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
        )
        bench = spark.read.parquet(f"{SF}/documents.parquet").filter(
            F.col("source") == "src0"
        )
        # redaction never touches these texts (no PII in the corpus), so
        # the n-gram check is apples-to-apples with the original benchmark
        assert corpus_ops.contamination_report(out, bench, n=6).count() == 0

    def test_deterministic(self, spark, curated):
        rows, _ = curated
        again = curation.curate_corpus(
            spark, SF, rates={f"src{i}": 0.9 for i in range(1, 20)}, budget=256
        ).collect()
        assert sorted(r["doc_id"] for r in rows) == sorted(
            r["doc_id"] for r in again
        )


class TestSemanticStage:
    def test_semantic_dedup_removes_all_embedding_pairs(self, spark):
        """With the optional semantic stage on, no cosine-near pair may
        survive: blocking is seed-deterministic, so pairs found on the
        survivor subset are a subset of pairs found during curation — and
        every pair has at least one non-canonical endpoint that was
        dropped."""
        from py_evalfilter_spark.operators import dedup as dedup_ops

        obs: dict = {}
        out = curation.curate_corpus(
            spark, SF, semantic_threshold=0.95, budget=256, observations=obs
        )
        rows = out.collect()
        counts = {k: o.get["rows"] for k, o in obs.items()}
        assert counts["semantic_dedup"] <= counts["near_dedup"]
        assert len(rows) == counts["decontaminate"]

        survivors = spark.createDataFrame(
            [(r["doc_id"],) for r in rows], "doc_id long"
        )
        vecs = (
            spark.read.parquet(f"{SF}/embeddings.parquet")
            .select(F.col("vec_id").alias("doc_id"), "embedding")
            .join(survivors, "doc_id", "left_semi")
        )
        leftover = dedup_ops.embedding_neardup_pairs(
            vecs, "doc_id", "embedding", threshold=0.95
        )
        assert leftover.count() == 0


class TestStagedCuration:
    def test_resume_recomputes_only_missing_stage(self, spark, tmp_path):
        import shutil

        out = str(tmp_path / "curated")
        packed1, m1 = curation.curate_corpus_staged(spark, SF, out, budget=256)
        rows1 = sorted(r["doc_id"] for r in packed1.collect())
        assert not any(m["resumed"] for m in m1.values())

        # simulate a failure that lost only the final stage
        shutil.rmtree(f"{out}/packed")
        packed2, m2 = curation.curate_corpus_staged(spark, SF, out, budget=256)
        rows2 = sorted(r["doc_id"] for r in packed2.collect())
        assert m2["filtered"]["resumed"] and m2["deduped"]["resumed"]
        assert not m2["packed"]["resumed"]
        assert rows1 == rows2

    def test_config_change_invalidates_only_downstream(self, spark, tmp_path):
        import pyspark.sql.functions as F2

        out = str(tmp_path / "curated2")
        packed1, _ = curation.curate_corpus_staged(spark, SF, out, budget=256)
        # materialize BEFORE the re-run: the second call overwrites the
        # packed stage directory, invalidating packed1's file listing
        n_docs = packed1.count()
        max_pack1 = packed1.agg(F2.max("pack_id")).collect()[0][0]
        # re-pack at a different budget: dedup stages resume, packing reruns
        packed2, m2 = curation.curate_corpus_staged(spark, SF, out, budget=64)
        assert m2["filtered"]["resumed"] and m2["deduped"]["resumed"]
        assert not m2["packed"]["resumed"]
        assert packed2.count() == n_docs  # same docs, different pack ids
        assert packed2.agg(F2.max("pack_id")).collect()[0][0] > max_pack1

    def test_staged_equals_in_memory(self, spark, tmp_path):
        out = str(tmp_path / "curated3")
        packed, _ = curation.curate_corpus_staged(spark, SF, out, budget=256)
        staged = sorted(r["doc_id"] for r in packed.collect())
        mem = sorted(
            r["doc_id"]
            for r in curation.curate_corpus(spark, SF, budget=256).collect()
        )
        assert staged == mem

    def test_upstream_config_change_invalidates_downstream(self, spark, tmp_path):
        """Changing an upstream stage's parameter must recompute every
        downstream stage (fingerprint chaining) — without it, 'packed'
        would silently resume output built from the OLD dedup threshold."""
        out = str(tmp_path / "curated4")
        curation.curate_corpus_staged(spark, SF, out, budget=256)
        _, m2 = curation.curate_corpus_staged(
            spark, SF, out, budget=256, minhash_threshold=0.7
        )
        assert m2["filtered"]["resumed"]
        assert not m2["deduped"]["resumed"]
        assert not m2["packed"]["resumed"]


def _assert_staged_equals_in_memory(spark, out: str, kw: dict) -> None:
    """Both execution modes produce the identical corpus — including the
    REWRITTEN text, which doc_id equality alone would not check."""
    packed, _ = curation.curate_corpus_staged(spark, SF, out, **kw)
    staged = sorted(
        (r["doc_id"], r["text"]) for r in packed.select("doc_id", "text").collect()
    )
    mem = sorted(
        (r["doc_id"], r["text"])
        for r in curation.curate_corpus(spark, SF, **kw)
        .select("doc_id", "text")
        .collect()
    )
    assert staged == mem and len(staged) > 0


class TestExtendedStages:
    def test_staged_equals_in_memory_with_classifier_and_substring(
        self, spark, tmp_path
    ):
        """The r5 optional stages (classifier cut, exact-substring removal)
        through both execution modes."""
        _assert_staged_equals_in_memory(
            spark, str(tmp_path / "curated_ext"),
            dict(budget=256, classifier_min=0.4, substring_n=8),
        )

    def test_staged_equals_in_memory_with_semantic_and_substring(
        self, spark, tmp_path
    ):
        """The same with the semantic stage on: the substring stage reads
        the semantic stage's output twice."""
        _assert_staged_equals_in_memory(
            spark, str(tmp_path / "curated_sem"),
            dict(
                budget=256, classifier_min=0.4, substring_n=8,
                semantic_threshold=0.95,
            ),
        )

    def test_staged_equals_in_memory_with_r6_stages(self, spark, tmp_path):
        """The r6 optional stages (Gopher quality, line dedup, exact
        source token budget) through both execution modes — including
        line-dedup's rewritten text."""
        _assert_staged_equals_in_memory(
            spark, str(tmp_path / "curated_r6"),
            dict(
                budget=256,
                gopher_min_words=10,
                gopher_stopwords=("the", "a", "table", "value", "row", "scan"),
                line_dedup=True,
                source_token_budget=4000,
            ),
        )

    def test_ingest_dedup_drops_standing_and_modes_agree(self, spark, tmp_path):
        """The 0a ingest-dedup stage (Bloom prefilter against a standing
        corpus): every input doc whose text already exists in standing is
        dropped before any other stage (observation row math), none ever
        reaches the output, and the staged mode (standing_path) produces
        the identical corpus."""
        from pyspark.sql import functions as F

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        standing_pq = str(tmp_path / "standing.parquet")
        docs.filter(
            (F.col("source") != "src0") & (F.col("doc_id") % 3 == 0)
        ).select("text").write.parquet(standing_pq)
        standing = spark.read.parquet(standing_pq)

        obs = {}
        mem = curation.curate_corpus(
            spark, SF, budget=256, standing=standing, observations=obs
        )
        mem_ids = sorted(r["doc_id"] for r in mem.collect())
        dropped = {
            r["doc_id"]
            for r in docs.filter(F.col("source") != "src0")
            .join(standing, "text", "left_semi")
            .collect()
        }
        assert dropped and mem_ids and not (set(mem_ids) & dropped)
        assert (
            obs["input"].get["rows"] - obs["ingest_dedup"].get["rows"]
            == len(dropped)
        )

        out = str(tmp_path / "curated_standing")
        packed, m = curation.curate_corpus_staged(
            spark, SF, out, budget=256, standing_path=standing_pq
        )
        staged_ids = sorted(r["doc_id"] for r in packed.collect())
        assert staged_ids == mem_ids
        assert m["filtered"]["resumed"] is False

    def test_classifier_stage_only_shrinks(self, spark):
        base = curation.curate_corpus(spark, SF, budget=256).count()
        cut = curation.curate_corpus(
            spark, SF, budget=256, classifier_min=0.52
        ).count()
        assert 0 < cut < base

    def test_substring_stage_invalidates_downstream(self, spark, tmp_path):
        out = str(tmp_path / "curated_sub")
        curation.curate_corpus_staged(spark, SF, out, budget=256)
        _, m2 = curation.curate_corpus_staged(
            spark, SF, out, budget=256, substring_n=8
        )
        assert m2["filtered"]["resumed"]
        assert not m2["deduped"]["resumed"]
        assert not m2["packed"]["resumed"]

    def test_line_dedup_against_standing_strips_owned_lines(
        self, spark, tmp_path
    ):
        """With a standing corpus, the line-dedup stage runs the
        INCREMENTAL form (corpus.dedup_lines_against): a line the standing
        corpus already owns is stripped from EVERY surviving doc — the
        batch form would keep its first in-corpus occurrence.  Staged mode
        matches the in-memory flow bit-for-bit, and the mode marker
        invalidates a batch-form manifest for the same params."""
        from pyspark.sql import functions as F

        docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
            F.col("source") != "src0"
        )
        # the most common letters-bearing line: present in many docs, so
        # the batch form provably keeps one occurrence
        line = (
            docs.select(F.explode(F.split("text", "\n")).alias("line"))
            .filter(F.length(F.regexp_replace("line", r"[^A-Za-z]", "")) >= 3)
            .groupBy("line").count()
            .orderBy(F.desc("count"), "line").first()["line"]
        )
        standing_pq = str(tmp_path / "standing.parquet")
        spark.createDataFrame([(line,)], "text string").write.parquet(
            standing_pq
        )
        standing = spark.read.parquet(standing_pq)

        def has_line(df):
            return df.filter(
                F.array_contains(F.split("text", "\n"), line)
            ).count()

        batch = curation.curate_corpus(spark, SF, budget=256, line_dedup=True)
        assert has_line(batch) == 1  # first occurrence survives in-batch

        mem = curation.curate_corpus(
            spark, SF, budget=256, line_dedup=True, standing=standing
        )
        assert has_line(mem) == 0  # standing owns it: stripped everywhere

        out = str(tmp_path / "curated_ld")
        packed, m = curation.curate_corpus_staged(
            spark, SF, out, budget=256, line_dedup=True,
            standing_path=standing_pq,
        )
        mem_rows = sorted(
            (r["doc_id"], r["text"]) for r in mem.select("doc_id", "text").collect()
        )
        staged_rows = sorted(
            (r["doc_id"], r["text"])
            for r in packed.select("doc_id", "text").collect()
        )
        assert staged_rows == mem_rows
        assert m["filtered"]["config"].get("line_dedup_mode") == "against_standing"
