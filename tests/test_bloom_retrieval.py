"""Bloom membership prefilter (operators/bloom) and BM25 ranked retrieval
(operators/retrieval): exactness contracts, no-false-negative property,
false-positive calibration, and a brute-force numpy BM25 cross-check."""

import math
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from py_evalfilter_spark.operators import bloom, retrieval


class TestBloomParams:
    def test_classic_sizing(self):
        m, k = bloom.bloom_params(1_000_000, 1e-3)
        # ~14.4 bits/key, ~10 hashes at eps=1e-3
        assert 14_000_000 < m < 14_500_000 and k in (9, 10, 11)
        assert m % 8 == 0

    def test_degenerate(self):
        assert bloom.bloom_params(0, 1e-3) == (8, 1)

    def test_theoretical_fp_monotone_in_bits(self):
        a = bloom.theoretical_fp_rate(10_000, 7, 1000)
        b = bloom.theoretical_fp_rate(20_000, 7, 1000)
        assert b < a < 1.0


def _built(df, key_col, n_keys, fp_rate, n_slices, **kw):
    m_s, k, s = bloom.sliced_bloom_params(n_keys, fp_rate, n_slices)
    return bloom.build_bloom_sliced(df, key_col, m_s, k, s, **kw)


def _group_stages(spark, group):
    """(jobs, stages that wrote shuffle bytes) of every job run under
    `group`, read from the status store."""
    from py4j.protocol import Py4JJavaError

    def seq(scala_seq):
        return [scala_seq.apply(i) for i in range(scala_seq.size())]

    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = [
        j for j in seq(store.jobsList(None))
        if j.jobGroup().isDefined() and j.jobGroup().get() == group
    ]
    shuffles = 0
    for sid in {sid for j in jobs for sid in seq(j.stageIds())}:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stage: never attempted
            continue
        shuffles += st.shuffleWriteBytes() > 0
    return len(jobs), shuffles


class TestBloomFilter:
    """One set of contracts for the filter.  This class runs them at one
    slice (the size every standing set below ~6e8 keys at ε=1e-3 derives);
    TestSlicedBloom runs the same tests at three slices."""

    N_SLICES = 1

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        return spark.createDataFrame(
            pd.DataFrame({"k": [f"key_{i:05d}" for i in range(500)]})
        )

    @pytest.fixture(scope="class")
    def old_new(self, spark):
        old = spark.createDataFrame(
            pd.DataFrame({"k": [f"doc {i} text" for i in range(200)]})
        )
        new = spark.createDataFrame(
            pd.DataFrame({
                "id": range(300),
                "k": [f"doc {i} text" if i % 3 == 0 else f"fresh {i} text"
                      for i in range(300)],
            })
        )
        return old, new

    def test_no_false_negatives(self, spark, corpus, tmp_path):
        """Every inserted key must probe positive — the property the exact
        path depends on (negatives skip the confirm join entirely)."""
        store = _built(corpus, "k", 500, 1e-3, self.N_SLICES,
                       out_dir=str(tmp_path))
        assert store.n_slices == self.N_SLICES
        assert len(store.paths) == self.N_SLICES
        probed = bloom.with_sliced_bloom_probe(corpus, "k", store).toPandas()
        assert probed.maybe_member.all()

    def test_fp_rate_calibrated(self, spark, corpus):
        """Probing 5000 DISJOINT keys: measured FP rate within 4x of the
        theoretical whole-filter rate (small-sample slack), and far below
        1 — slicing keeps the bound because the slice hash is independent
        of the probe hashes."""
        m_s, k, s = bloom.sliced_bloom_params(500, 1e-2, self.N_SLICES)
        store = bloom.build_bloom_sliced(corpus, "k", m_s, k, s)
        others = spark.createDataFrame(
            pd.DataFrame({"k": [f"other_{i:05d}" for i in range(5000)]})
        )
        got = bloom.with_sliced_bloom_probe(others, "k", store).toPandas()
        measured = got.maybe_member.mean()
        theory = bloom.theoretical_fp_rate(m_s * s, k, 500)
        assert measured <= max(4 * theory, 0.05), (measured, theory)

    def test_dedup_exact_equals_anti_join(self, spark, old_new):
        """confirm=True output ≡ left_anti join, including under forced
        false positives (an undersized filter makes FPs certain — the
        confirm join must repair every one of them), and the prebuilt
        handle (the amortized daily loop) is identical."""
        old, new = old_new
        want = {
            r["id"]
            for r in new.join(old, "k", "left_anti").select("id").collect()
        }
        for fp in (1e-3, 0.5):  # 0.5 -> tiny filter, rampant FPs
            got = bloom.bloom_dedup_against(
                new, old, "k", fp_rate=fp, confirm=True,
                n_slices=self.N_SLICES,
            )
            assert {r["id"] for r in got.select("id").collect()} == want, fp
        store = _built(old, "k", 200, 1e-3, self.N_SLICES)
        got_pre = bloom.bloom_dedup_against(new, old, "k", prebuilt=store)
        assert {r["id"] for r in got_pre.select("id").collect()} == want
        assert want and len(want) < 300  # non-vacuous both ways
        # a prebuilt filter carries its own slice count
        with pytest.raises(ValueError):
            bloom.bloom_dedup_against(
                new, old, "k", prebuilt=store, n_slices=self.N_SLICES + 1
            )

    def test_dedup_unconfirmed_never_keeps_a_duplicate(self, spark, old_new):
        old, new = old_new
        got = bloom.bloom_dedup_against(
            new, old, "k", fp_rate=1e-3, confirm=False,
            n_slices=self.N_SLICES,
        ).toPandas()
        dup_ids = {i for i in range(300) if i % 3 == 0 and i < 200}
        assert not (set(got.id) & dup_ids)
        # approximate mode loses at most a small sliver of the new rows
        assert len(got) >= 0.95 * (300 - len(dup_ids))
        # approximate + prebuilt never reads standing
        store = _built(old, "k", 200, 1e-3, self.N_SLICES)
        got_pre = bloom.bloom_dedup_against(
            new, None, "k", confirm=False, prebuilt=store
        ).toPandas()
        assert not (set(got_pre.id) & dup_ids)
        with pytest.raises(ValueError):
            bloom.bloom_dedup_against(new, None, "k", prebuilt=store)

    def test_null_keys_consistent(self, spark):
        """NULL keys hash as a single value on both build and probe sides
        (no crash, deterministic)."""
        old = spark.createDataFrame(
            pd.DataFrame({"k": pd.array(["a", None], dtype="string")})
        )
        store = _built(old, "k", 2, 1e-2, self.N_SLICES)
        probed = bloom.with_sliced_bloom_probe(old, "k", store).toPandas()
        assert probed.maybe_member.all()

    def test_build_shape(self, spark, corpus):
        """S=1 builds in ONE job with no shuffle (coalesce + treeAggregate);
        S>1 writes two shuffles, both keyed by slice: the repartition that
        bounds each fold task to ~one slice, and the reduceByKey that puts
        exactly one slice in each streamed partition."""
        sc = spark.sparkContext
        group = f"bloom_build_shape_{self.N_SLICES}"
        sc.setJobGroup(group, "bloom build shape")
        try:
            _built(corpus, "k", 500, 1e-3, self.N_SLICES)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs, shuffles = _group_stages(spark, group)
        if self.N_SLICES == 1:
            assert (jobs, shuffles) == (1, 0)
        else:
            assert shuffles == 2

    def test_default_files_owned_by_context(self, spark, corpus):
        """Without out_dir the slice files live under the SparkContext's
        SparkFiles root, which Spark deletes when the context stops — a
        default build leaves nothing behind in the temp dir."""
        import os

        from pyspark import SparkFiles

        store = _built(corpus, "k", 500, 1e-3, self.N_SLICES)
        root = os.path.realpath(SparkFiles.getRootDirectory())
        for p in store.paths:
            assert os.path.realpath(p).startswith(root + os.sep)
            assert os.path.exists(p)


class TestSlicedBloom(TestBloomFilter):
    """The same contracts at three slices — per-slice bitmap files, each a
    classic Bloom filter over its key subset — plus the slice-specific
    properties."""

    N_SLICES = 3

    def test_params_derive_slices_from_budget(self):
        m_total, k_total = bloom.bloom_params(1_000_000, 1e-3)
        m_s, k, s = bloom.sliced_bloom_params(1_000_000, 1e-3)
        assert (m_s, k, s) == (m_total, k_total, 1)
        # past MAX_SLICE_BYTES the smallest fitting slice count is derived
        m_big, k_big = bloom.bloom_params(10**9, 1e-3)
        m_s, k, s = bloom.sliced_bloom_params(10**9, 1e-3)
        assert k == k_big
        assert s == math.ceil(m_big / (8 * bloom.MAX_SLICE_BYTES)) == 2
        assert m_s * s >= m_big and m_s % 8 == 0
        assert m_s // 8 <= bloom.MAX_SLICE_BYTES
        # explicit slice count wins
        m_s4, _, s4 = bloom.sliced_bloom_params(1_000_000, 1e-3, n_slices=4)
        assert s4 == 4 and m_s4 >= m_total // 4

    def test_empty_slices_get_zero_files(self, spark, tmp_path):
        """2 keys over 8 slices: ≥6 slices hold no key, get a zero-filled
        file, and disjoint keys routed there probe definitely-new."""
        tiny = spark.createDataFrame(pd.DataFrame({"k": ["a", "b"]}))
        m_s, k, s = bloom.sliced_bloom_params(2, 1e-2, n_slices=8)
        store = bloom.build_bloom_sliced(
            tiny, "k", m_s, k, s, out_dir=str(tmp_path)
        )
        import os as _os

        sizes = {p: _os.path.getsize(p) for p in store.paths}
        assert all(v == (m_s + 7) // 8 for v in sizes.values())
        others = spark.createDataFrame(
            pd.DataFrame({"k": [f"zz_{i}" for i in range(200)]})
        )
        flagged = bloom.with_sliced_bloom_probe(others, "k", store)
        got = flagged.withColumn(
            "slice", bloom._slice_col("k", s, 42)
        ).toPandas()
        occupied = {
            r["slice"]
            for r in tiny.select(
                bloom._slice_col("k", s, 42).alias("slice")
            ).collect()
        }
        # a key routed to an empty (zero-filled) slice is DEFINITELY new
        empty_rows = got[~got.slice.isin(occupied)]
        assert len(empty_rows) > 50 and not empty_rows.maybe_member.any()


def _brute_bm25(pdf, query, k1=1.2, b=0.75):
    toks = {
        r.doc_id: [t for t in re.split("[^a-z0-9]+", r.text.lower()) if t]
        for r in pdf.itertuples()
    }
    toks = {d: ts for d, ts in toks.items() if ts}
    n = len(toks)
    avgdl = sum(len(ts) for ts in toks.values()) / n
    qterms = sorted({t for t in re.split("[^a-z0-9]+", query.lower()) if t})
    df = {q: sum(1 for ts in toks.values() if q in ts) for q in qterms}
    out = {}
    for d, ts in toks.items():
        s = 0.0
        for q in qterms:
            tf = ts.count(q)
            if not tf or not df[q]:
                continue
            idf = math.log(1 + (n - df[q] + 0.5) / (df[q] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(ts) / avgdl))
        if s > 0:
            out[d] = s
    return out


class TestBM25:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        pdf = pd.DataFrame({
            "doc_id": range(8),
            "text": [
                "spark shuffles data between executors",
                "the quick brown fox",
                "spark spark spark everywhere in this spark document",
                "data pipelines move data with spark and arrow",
                "nothing relevant here at all",
                "a short spark note",
                "arrow batches cross the wire",
                "executors spill data to disk",
            ],
        })
        return spark.createDataFrame(pdf), pdf

    def test_scores_match_brute_force(self, spark, docs):
        sdf, pdf = docs
        query = "spark data"
        want = _brute_bm25(pdf, query)
        got = {
            r["doc_id"]: r["bm25"]
            for r in retrieval.bm25_scores(
                sdf, "doc_id", "text", query
            ).collect()
        }
        assert set(got) == set(want)
        for d in want:
            assert got[d] == pytest.approx(want[d], rel=1e-9), d

    def test_tf_saturation_not_linear(self, spark, docs):
        """Doc 2 (tf=5 'spark') must NOT score 5x doc 5 (tf=1) — Okapi
        saturation; but must still score strictly higher."""
        sdf, _ = docs
        got = {
            r["doc_id"]: r["bm25"]
            for r in retrieval.bm25_scores(sdf, "doc_id", "text", "spark").collect()
        }
        assert got[2] > got[5]
        assert got[2] < 5 * got[5]

    def test_topk_order_and_bound(self, spark, docs):
        sdf, pdf = docs
        want = _brute_bm25(pdf, "spark data")
        top = retrieval.bm25_topk(sdf, "doc_id", "text", "spark data", k=3)
        rows = top.collect()
        assert len(rows) == 3
        scores = [r["bm25"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert scores[0] == pytest.approx(max(want.values()), rel=1e-9)

    def test_topk_plan_is_take_ordered(self, spark, docs):
        """limit-after-orderBy must plan as TakeOrderedAndProject — per-
        partition heaps, never a global Sort+Exchange."""
        sdf, _ = docs
        plan = (
            retrieval.bm25_topk(sdf, "doc_id", "text", "spark", k=3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan, plan

    def test_unknown_terms_empty(self, spark, docs):
        sdf, _ = docs
        assert retrieval.bm25_scores(
            sdf, "doc_id", "text", "zzz qqq"
        ).count() == 0

    def test_bucketed_index_prunes_and_matches(self, spark, docs, tmp_path):
        """The persisted term-bucketed index: isin(query_terms) bucket-
        prunes the postings scan (SelectedBucketsCount < total), and the
        scored output is identical to the inline-index path."""
        import re as _re
        import uuid

        sdf, _ = docs
        postings, dl = retrieval.bm25_postings(sdf, "doc_id", "text")
        prefix = f"bm25_{uuid.uuid4().hex[:8]}"
        retrieval.write_bm25_index(
            postings, dl, prefix, n_buckets=8, path=str(tmp_path / "idx")
        )
        try:
            sp, sd = retrieval.read_bm25_index(spark, prefix)
            got = retrieval.bm25_scores(
                sdf, "doc_id", "text", "spark data",
                postings=sp, doc_len=sd,
            )
            plan = got._jdf.queryExecution().executedPlan().toString()
            m = _re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
            assert m, plan
            assert int(m.group(1)) <= 2 < int(m.group(2)) == 8
            want = retrieval.bm25_scores(
                sdf, "doc_id", "text", "spark data"
            ).toPandas()
            gp = got.toPandas()
            key = lambda df: {
                (d, round(s, 9)) for d, s in zip(df.doc_id, df.bm25)
            }
            assert key(gp) == key(want) and len(gp)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_postings")
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_doclen")

    def test_batch_scores_equal_per_query(self, spark, docs):
        """bm25_batch_scores over N queries ≡ N independent bm25_scores
        runs — same doc sets, same values (shared postings scan is a
        plan-shape change only)."""
        sdf, _ = docs
        queries = {"qa": "spark data", "qb": "arrow", "qc": "fox executors"}
        batch = retrieval.bm25_batch_scores(
            sdf, "doc_id", "text", queries
        ).collect()
        got = {}
        for r in batch:
            got.setdefault(r["query_id"], {})[r["doc_id"]] = r["bm25"]
        for qid, q in queries.items():
            want = {
                r["doc_id"]: r["bm25"]
                for r in retrieval.bm25_scores(sdf, "doc_id", "text", q).collect()
            }
            assert set(got.get(qid, {})) == set(want), qid
            for d, s in want.items():
                assert got[qid][d] == pytest.approx(s, rel=1e-9), (qid, d)

    def test_batch_rejects_empty(self, spark, docs):
        sdf, _ = docs
        with pytest.raises(ValueError, match="at least one"):
            retrieval.bm25_batch_scores(sdf, "doc_id", "text", {"q": "!!!"})

    def test_persisted_index_identical(self, spark, docs):
        sdf, _ = docs
        postings, dl = retrieval.bm25_postings(sdf, "doc_id", "text")
        a = retrieval.bm25_scores(sdf, "doc_id", "text", "spark data").toPandas()
        c = retrieval.bm25_scores(
            sdf, "doc_id", "text", "spark data", postings=postings, doc_len=dl
        ).toPandas()
        s = retrieval.bm25_scores(
            sdf, "doc_id", "text", "spark data", postings=postings,
            doc_len=dl, stats=retrieval.bm25_stats(dl),
        ).toPandas()
        key = lambda df: {
            (d, round(s_, 9)) for d, s_ in zip(df.doc_id, df.bm25)
        }
        assert key(a) == key(c) == key(s)
