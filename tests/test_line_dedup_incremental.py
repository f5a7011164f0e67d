"""dedup_lines_against (operators/corpus): incremental CCNet line dedup of
a shard against a standing corpus through a Bloom membership filter —
exactness vs the batch operator, approximate-mode guarantees, and parity of
prebuilt filters at one and three slices."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from py_evalfilter_spark.operators import bloom, corpus


def _mk(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]})
    )


@pytest.fixture(scope="module")
def standing(spark):
    # 60 docs; each doc has a unique line plus shared boilerplate
    rows = [
        (i, f"unique standing line {i}\nCOMMON cookie banner!\nmore text {i % 7}")
        for i in range(60)
    ]
    return _mk(spark, rows)


@pytest.fixture(scope="module")
def shard(spark):
    rows = [
        # doc 1000: one standing dup, one fresh line, one structural line
        (1000, "COMMON cookie banner!\n---\nfresh shard line A"),
        # doc 1001: fresh line repeated within the shard (first kept here)
        (1001, "shard repeated line\nfresh shard line B"),
        # doc 1002: second occurrence of the repeated line + standing dup
        (1002, "shard repeated line\nunique standing line 7"),
        # doc 1003: fully duplicated vs standing
        (1003, "unique standing line 3\nmore text 3"),
        # doc 1004: empty text
        (1004, ""),
    ]
    return _mk(spark, rows)


def _batch_reference(spark, standing, shard):
    """dedup_lines over standing ∪ shard, restricted to shard rows —
    the semantic definition the operator must match (standing ids < 100
    sort before shard ids, so standing lines always win firsts)."""
    union = standing.unionByName(shard)
    out = corpus.dedup_lines(union).filter(F.col("doc_id") >= 1000)
    return {
        r["doc_id"]: (r["text"], r["n_lines_kept"], r["n_lines_dropped"])
        for r in out.collect()
    }


class TestIncrementalLineDedup:
    def test_exact_matches_batch_even_with_forced_fps(
        self, spark, standing, shard
    ):
        want = _batch_reference(spark, standing, shard)
        for fp in (1e-4, 0.5):  # 0.5 -> tiny filter, rampant false positives
            got = {
                r["doc_id"]: (r["text"], r["n_lines_kept"], r["n_lines_dropped"])
                for r in corpus.dedup_lines_against(
                    shard, standing, fp_rate=fp, confirm=True
                ).collect()
            }
            assert got == want, fp

    def test_semantics_spotchecks(self, spark, standing, shard):
        got = {
            r["doc_id"]: r["text"]
            for r in corpus.dedup_lines_against(shard, standing).collect()
        }
        # standing dup dropped, structural line survives, fresh line kept
        assert got[1000] == "---\nfresh shard line A"
        # within-shard first occurrence kept...
        assert got[1001] == "shard repeated line\nfresh shard line B"
        # ...second occurrence dropped; standing dup dropped
        assert got[1002] == ""
        # fully-duplicated doc survives as a row with empty text
        assert got[1003] == ""
        assert got[1004] == ""

    def test_approximate_never_keeps_a_standing_dup(
        self, spark, standing, shard
    ):
        out = corpus.dedup_lines_against(
            shard, standing, fp_rate=1e-4, confirm=False
        )
        st_lines = {
            ln
            for r in standing.collect()
            for ln in r["text"].split("\n")
        }
        for r in out.collect():
            for ln in r["text"].split("\n"):
                if ln:
                    assert ln not in st_lines, ln

    def test_prebuilt_and_sliced_parity(self, spark, standing, shard):
        want = _batch_reference(spark, standing, shard)
        st_keys = corpus._line_keys(standing, "doc_id", "text", "\n").select(
            "_key"
        )
        n = st_keys.count()
        for n_slices in (1, 3):
            m_s, ks, s = bloom.sliced_bloom_params(n, 1e-4, n_slices)
            store = bloom.build_bloom_sliced(st_keys, "_key", m_s, ks, s)
            got = {
                r["doc_id"]: (r["text"], r["n_lines_kept"], r["n_lines_dropped"])
                for r in corpus.dedup_lines_against(
                    shard, standing, prebuilt=store
                ).collect()
            }
            assert got == want, n_slices

    def test_requires_standing_unless_approx_prebuilt(self, spark, shard):
        with pytest.raises(ValueError):
            corpus.dedup_lines_against(shard, None)
        # approximate + prebuilt needs no standing frame at all
        st_keys = corpus._line_keys(shard, "doc_id", "text", "\n").select("_key")
        m_s, k, s = bloom.sliced_bloom_params(0, 1e-2)
        store = bloom.build_bloom_sliced(st_keys.limit(0), "_key", m_s, k, s)
        assert store.n_slices == 1
        with pytest.raises(ValueError):  # exact mode needs standing
            corpus.dedup_lines_against(shard, None, prebuilt=store)
        out = corpus.dedup_lines_against(
            shard, None, confirm=False, prebuilt=store
        )
        # empty filter -> nothing in standing -> only within-shard dedup
        got = {r["doc_id"]: r["text"] for r in out.collect()}
        assert got[1000] == "COMMON cookie banner!\n---\nfresh shard line A"
